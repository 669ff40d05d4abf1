"""Physical posting segments: the wire codecs and their one reader.

A store holds ONE codec (``SegmentStore.layout``).  Three are known:

- ``native`` (the default): a segment's ``postings`` part is flat Parquet
  rows ``(term string, doc_id long, tf int, positions array<int>,
  payloads array<long>)``, one per (term, doc), sorted by (term, doc_id)
  and written zstd / ``parquet.writer.version=v2`` (DELTA_BINARY_PACKED
  ints) in 1 MiB row groups (``NATIVE_WRITE_OPTIONS``).  Spark scans and
  filters the rows in the JVM: a query's postings are a pushed-down
  Parquet scan with no Python decode (the columnar inverted-index layout
  of ICDE 2025 "Columnar Formatted Inverted Index for Highly-Paralleled,
  Vectorized Query Processing"; Trinity's codecs are pluggable,
  ``codecs.h``).  Beside it sits a small ``block_meta`` part
  (``BLOCK_META_SCHEMA``, built by ``native_block_meta`` from the rows the
  commit writes): each (term, chunk) group's docs in doc order, cut into
  ``BLOCK_SIZE`` runs — the block geometry the block codecs encode, as
  metadata only, for the pruned routes.  It is the term dictionary too:
  each term's first block row carries the term's ``df`` / ``cf``, the rest
  carry NULL, so a lookup's ``df IS NOT NULL`` filter lets Parquet skip
  every row group holding only a stopword's later blocks (a lookup reads
  about one row group per term, not df / 128 rows).
- ``varbyte``: delta+varbyte posting blocks — the Google codec's
  block-columnar postings, kept as a contract because it reproduces
  Trinity's default codec (``google_codec.cpp:118-176``,
  skiplist emit ``:146-159``; positions in a parallel stream,
  ``lucene_codec.cpp:240-304`` analog).
- ``pfor``: the same blocks with 128-value FOR bit-packing + vInt tail
  (the lucene codec).

Block rows (``SEGMENT_SCHEMA``, varbyte and pfor) carry ``max_doc_id``
(the skiplist key — parquet min/max page stats give seek-by-docid) and
``max_tf`` (block-max metadata for WAND-style pruning, SURVEY.md §4.3);
native ``block_meta`` rows carry the same metadata columns, so the pruned
routes read either unchanged.

Scale design: a block group is ``(term, chunk)`` where ``chunk = doc_id >>
CHUNK_BITS`` — a stopword's 10^11-row posting list lands in ~10^6 independent
chunk groups instead of one executor-crushing (term) group.  This IS the
explicit skew salting the north rule demands, with a deterministic salt that
doubles as the docid-range seek key.  Block encoding is ONE vectorized
kernel, ``_encode_partition``: a whole partition of postings is sorted into
(chunk, term, doc) groups and every stream is encoded in one numpy pass
(loops run over byte positions or bit widths, never rows or blocks).

Schema: postings_segments(term string, chunk long, block_id long,
doc_count int, min_doc_id long, max_doc_id long, max_tf int, sum_tf long,
doc_deltas binary, tf_bytes binary, pos_bytes binary, pay_bytes binary) —
min/max_doc_id are the skiplist keys, max_tf/sum_tf the block-max +
dictionary metadata.  ``pay_bytes`` is the OPTIONAL per-hit payload stream
(reference: <=8-byte per-occurrence payloads, ``codecs.h:191-195`` new_hit /
``runtime.h:8-20`` term_hit.payload): varbyte uint64s parallel to the
position stream, empty when the app supplied none (transcripts supply none —
the column exists so the physical format never needs a migration).

Payloads are per doc: a doc has its list, or it reads back as empty.  The
native rows keep exactly that.  The block wire adds one more rule — a block
carries payloads only when every doc in it has a list of ``tf`` values, so
a block mixing docs with and without payloads reads back empty for all of
them — and that all-or-nothing rule is an artifact of the varbyte/pfor
wire (one self-delimiting payload stream per block), not of the model.

This module owns the wire formats: their schemas, the one block encoder,
the native block metadata and the one reader (``decode_segments``, a
projection under native).  The build calls ``_encode_partition`` from the
fused zero-shuffle pass in ``fastbuild``; block-codec merges call
``encode_postings``, which shuffles logical postings on (term, chunk) first
so every group packs whole.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.varbyte import decode_varbyte, encode_varbyte_offsets

CHUNK_BITS = 16  # 65536-doc docid ranges per encode group
BLOCK_SIZE = 128  # docs per block (lucene_codec.h:49 BLOCK_SIZE=128)
BLOCKS_PER_CHUNK = (1 << CHUNK_BITS) // BLOCK_SIZE

# Selectable wire codecs.  A store holds ONE codec and one chunk width: its
# first commit fixes both in the manifest and every later commit (build, NRT
# append, merge) must match — ``SegmentStore.layout`` is the single owner
# of that decision.  Each segment's lineage still records the codec that
# wrote it — the reference's segment `id` codec marker (codecs.h:93-95,
# indexer.cpp:268-270) — so every merge is a same-codec merge.
# Under the block codecs pay_bytes (optional per-hit payloads) stays
# varbyte: the stream is empty on transcript corpora and varbyte's
# self-delimiting property is what lets all-or-nothing payload blocks
# coexist.
CODEC_NATIVE = "native"  # flat Parquet postings rows — the default
CODEC_VARBYTE = "varbyte"  # delta+varbyte blocks (google codec)
CODEC_PFOR = "pfor"  # 128-value FOR bit-packing + vInt tail (lucene codec)
BLOCK_CODECS = (CODEC_VARBYTE, CODEC_PFOR)
CODECS = (CODEC_NATIVE,) + BLOCK_CODECS
DEFAULT_CODEC = CODEC_NATIVE

# Parquet settings of the native writes (postings rows and block_meta),
# passed as write options so no other write of the session changes:
# zstd, v2 pages (DELTA_BINARY_PACKED ints: sorted doc_ids and small tfs
# pack to a few bits) and 1 MiB row groups, the unit both of term pruning
# (min/max stats on the sorted term column) and of scan parallelism.
NATIVE_WRITE_OPTIONS = {
    "compression": "zstd",
    "parquet.writer.version": "v2",
    "parquet.block.size": str(1 << 20),
}

SEGMENT_SCHEMA = (
    "term string, chunk long, block_id long, doc_count int, min_doc_id long, "
    "max_doc_id long, max_tf int, sum_tf long, "
    "doc_deltas binary, tf_bytes binary, pos_bytes binary, pay_bytes binary"
)
POSTINGS_SCHEMA = "term string, doc_id long, tf int, positions array<int>"
POSTINGS_PAYLOAD_SCHEMA = POSTINGS_SCHEMA + ", payloads array<long>"
POSTINGS_NOPOS_SCHEMA = "term string, doc_id long, tf int"
POSTINGS_PAYLOAD_NOPOS_SCHEMA = POSTINGS_NOPOS_SCHEMA + ", payloads array<long>"
# a native segment's postings part, and its block metadata part
NATIVE_SCHEMA = POSTINGS_PAYLOAD_SCHEMA
BLOCK_META_SCHEMA = (
    "term string, chunk long, block_id long, doc_count int, min_doc_id long, "
    "max_doc_id long, max_tf int, sum_tf long, df long, cf long"
)


def _check_codec(codec: str, known: tuple[str, ...] = CODECS) -> None:
    if codec not in known:
        raise ValueError(f"unknown codec {codec!r}; known: {known}")


def native_stage(postings: DataFrame, chunk_bits: int, n_parts: int) -> DataFrame:
    """A native commit's rows (``NATIVE_SCHEMA``; a frame without
    ``payloads`` gets a NULL list per row, which reads back as an empty
    one), staged once for both of its writes: hash-partitioned on term into
    ``n_parts`` partitions, sorted by (term, chunk, doc_id) — the same
    order as (term, doc_id), since the chunk is ``doc_id >> chunk_bits`` —
    and locally checkpointed, lazily: the first write materializes it, the
    concurrent second one reads the same blocks (``release_stage`` frees
    them).  A checkpoint keeps rows as they are; a DataFrame cache would
    first convert them to columnar batches."""
    payloads = (
        F.col("payloads")
        if "payloads" in postings.columns
        else F.lit(None).cast("array<long>")
    )
    return (
        postings.select(
            "term", "doc_id", "tf", "positions", payloads.alias("payloads")
        )
        .repartition(n_parts, "term")
        .sortWithinPartitions(
            "term", F.shiftright("doc_id", chunk_bits), "doc_id"
        )
        .localCheckpoint(eager=False)
    )


def release_stage(staged: DataFrame) -> None:
    """Free a ``native_stage`` checkpoint's blocks now rather than at the
    JVM's next garbage collection (the context cleaner's trigger)."""
    staged._jdf.queryExecution().analyzed().rdd().unpersist(False)


def native_block_meta(staged: DataFrame, chunk_bits: int, n_parts: int) -> DataFrame:
    """``native_stage`` rows -> ``BLOCK_META_SCHEMA`` rows, in the JVM.

    Each (term, chunk) group's docs, in doc order, are cut into runs of
    ``BLOCK_SIZE``; a run's row carries the metadata a block codec's block
    would (``block_id`` numbered as ``_encode_partition`` numbers them), so
    every bound the pruned routes read is the exact per-block value and
    ``doc_count`` / ``sum_tf`` sum to the term's df / cf.  Those sums sit
    in ``df`` / ``cf`` on the term's first block row (NULL on the others):
    the per-term dictionary, and a write counts distinct terms as the
    non-NULL ``df`` values (an Observation cannot aggregate DISTINCT).

    The staged partitioning (term) and order (term, chunk, doc_id) are
    exactly what the rank window needs, and the aggregation clusters on a
    superset of term, so nothing here shuffles or sorts the rows; only the
    block rows are sorted.  They come out in ``n_parts`` partitions."""
    blocks_per_chunk = max((1 << chunk_bits) // BLOCK_SIZE, 1)
    rank = F.row_number().over(
        Window.partitionBy("term", "chunk").orderBy("doc_id")
    )
    meta = (
        staged.select(
            "term", "doc_id", "tf",
            F.shiftright("doc_id", chunk_bits).alias("chunk"),
        )
        .withColumn("_blk", F.floor((rank - 1) / BLOCK_SIZE).cast("long"))
        .groupBy("term", "chunk", "_blk")
        .agg(
            F.count(F.lit(1)).cast("int").alias("doc_count"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.max("tf").cast("int").alias("max_tf"),
            F.sum("tf").cast("long").alias("sum_tf"),
        )
        .select(
            "term", "chunk",
            (F.col("chunk") * blocks_per_chunk + F.col("_blk")).alias("block_id"),
            "doc_count", "min_doc_id", "max_doc_id", "max_tf", "sum_tf",
        )
    )
    in_term = Window.partitionBy("term").orderBy("block_id")
    whole = in_term.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    first = F.row_number().over(in_term) == 1
    return (
        meta.select(
            "*",
            F.when(first, F.sum("doc_count").over(whole)).cast("long").alias("df"),
            F.when(first, F.sum("sum_tf").over(whole)).cast("long").alias("cf"),
        )
        .coalesce(n_parts)
        .sortWithinPartitions("term", "block_id")
    )


def _gather_rows(
    flat: np.ndarray, lens: np.ndarray, order: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Reorder variable-length rows (row i owns ``lens[i]`` consecutive
    values of ``flat``) by ``order``: (reordered values, new row offsets)."""
    src = np.concatenate(([0], np.cumsum(lens)))[:-1][order]
    lens = lens[order]
    offsets = np.concatenate(([0], np.cumsum(lens)))
    gather = np.repeat(src - offsets[:-1], lens) + np.arange(offsets[-1])
    return flat[gather], offsets


def _encode_partition(
    doc: np.ndarray,
    tf: np.ndarray,
    codes: np.ndarray,
    uniques,
    pos_flat: np.ndarray,
    chunk_bits: int,
    codec: str = CODEC_VARBYTE,
    pay_len: np.ndarray | None = None,
    pay_flat: np.ndarray | None = None,
) -> pa.RecordBatch:
    """The block encoder: one numpy pass over a partition's postings.

    Input rows are (doc, tf, term-code) with per-doc position lists flattened
    in row order; output is one RecordBatch of posting blocks.  No python
    loop touches rows or blocks — binary columns are built zero-copy from one
    encoded buffer + block byte-offsets (pa.BinaryArray.from_buffers): under
    varbyte one ``encode_varbyte_offsets`` pass per stream; under pfor one
    ``pfor_encode_rows`` pass per stream (blocks grouped by bit width —
    lucene_codec.cpp:163-208 shape, batched across every block at once).

    ``uniques`` may be a pa.StringArray (term strings by code) or a numpy
    object array — term columns are built by Arrow take either way.

    ``pay_len``/``pay_flat`` carry optional per-hit payloads: each doc's
    payload count (-1 for a null list) and the lists flattened in row order.
    A block gets a varbyte ``pay_bytes`` stream only when every doc in it
    has a non-null list and the block's payload count equals its ``sum_tf``;
    otherwise (and always without payloads) its stream is empty.
    """
    if not isinstance(uniques, pa.Array):
        uniques = pa.array(np.asarray(uniques, dtype=object), type=pa.string())

    n = len(doc)
    chunk = doc >> np.int64(chunk_bits)
    # order postings by (chunk, term, doc) — the physical layout.  The input
    # is doc-ascending in the normal build (postings arrive in corpus doc
    # order), so a STABLE sort by (chunk, code) alone preserves doc order
    # within each group and the key needs no doc bits — it usually fits
    # int32, where numpy's radix sort runs ~2x the int64 width.  Unsorted
    # inputs (merge re-encodes, NRT slices, ad-hoc frames) fall back to a
    # (chunk, code, low doc bits) packed key, or the general 3-key lexsort
    # if even that overflows 63 bits.
    bits_code = max((int(codes.max()) if n else 0).bit_length(), 1)
    group_key = None
    doc_sorted = bool(np.all(doc[1:] >= doc[:-1])) if n > 1 else True
    chunk_top = int(chunk.max()).bit_length()
    if doc_sorted and chunk_top + bits_code <= 63:
        key = (chunk << np.int64(bits_code)) | codes
        if chunk_top + bits_code <= 31:
            key = key.astype(np.int32)
        order = np.argsort(key, kind="stable")
        group_key = key[order]
    elif chunk_top + bits_code + chunk_bits <= 63:
        key = (
            (chunk << np.int64(bits_code + chunk_bits))
            | (codes << np.int64(chunk_bits))
            | (doc & np.int64((1 << chunk_bits) - 1))
        )
        order = np.argsort(key, kind="stable")
        group_key = (key >> np.int64(chunk_bits))[order]
    else:
        order = np.lexsort((doc, codes, chunk))
    # variable-length rows follow the same gather (source row offsets MUST
    # come from the pre-reorder layout)
    pos_flat, new_offsets = _gather_rows(pos_flat, tf, order)
    if pay_len is not None:
        pay_flat, _ = _gather_rows(pay_flat, np.maximum(pay_len, 0), order)
        pay_len = pay_len[order]
    doc, tf, codes, chunk = doc[order], tf[order], codes[order], chunk[order]

    # group = (term, chunk) run; blocks of <= BLOCK_SIZE docs within a group
    new_group = np.empty(n, dtype=bool)
    new_group[0] = True
    if group_key is not None:
        np.not_equal(group_key[1:], group_key[:-1], out=new_group[1:])
    else:
        new_group[1:] = (codes[1:] != codes[:-1]) | (chunk[1:] != chunk[:-1])
    group_ids = np.cumsum(new_group) - 1
    group_first = np.flatnonzero(new_group)
    rank = np.arange(n) - group_first[group_ids]
    new_block = new_group | (rank % BLOCK_SIZE == 0)
    bs = np.flatnonzero(new_block)          # block start row indices
    be = np.append(bs[1:], n)               # block end row indices
    blocks_per_chunk = max((1 << chunk_bits) // BLOCK_SIZE, 1)
    sum_tf = np.add.reduceat(tf, bs)

    # docID deltas reset at block starts (blocks decode independently)
    d_delta = doc.copy()
    d_delta[1:] -= doc[:-1]
    d_delta[bs] = doc[bs]
    # position deltas reset at each doc's first position
    p_delta = pos_flat.copy()
    p_delta[1:] -= pos_flat[:-1]
    p_delta[new_offsets[:-1]] = pos_flat[new_offsets[:-1]]

    def binary_col(buf: np.ndarray, byte_off: np.ndarray) -> pa.Array:
        # pa.binary() carries int32 offsets: a partition whose encoded stream
        # exceeds 2^31 bytes would silently wrap into garbage blocks — fail
        # loudly instead (split the input into more partitions to proceed)
        if int(byte_off[-1]) >= 2**31:
            raise ValueError(
                f"encoded stream is {int(byte_off[-1])} bytes — over the "
                "int32 Arrow binary-offset limit; repartition the input so "
                "each partition encodes < 2 GiB per stream"
            )
        vo = byte_off.astype(np.int32)
        return pa.Array.from_buffers(
            pa.binary(), len(vo) - 1,
            [None, pa.py_buffer(vo.tobytes()), pa.py_buffer(buf.tobytes())],
        )

    def varbyte_col(values: np.ndarray, value_bounds: np.ndarray) -> pa.Array:
        buf, value_off = encode_varbyte_offsets(values)
        return binary_col(buf, value_off[value_bounds])

    def stream_col(values: np.ndarray, value_bounds: np.ndarray) -> pa.Array:
        """One stream -> per-block wire bytes as an Arrow binary column.
        value_bounds are the per-block value-index bounds (len n_blocks+1)."""
        if codec == CODEC_PFOR:
            from ..functions.pfor import pfor_encode_rows

            buf, byte_off = pfor_encode_rows(values, np.diff(value_bounds))
            return binary_col(buf, byte_off)
        return varbyte_col(values, value_bounds)

    row_bounds = np.append(bs, n)
    pos_bounds = new_offsets[row_bounds]  # value-index bounds in the pos stream
    # payloads stay varbyte under every codec, raw (no delta), parallel to
    # the position stream, all-or-nothing per block
    pay_counts = np.zeros(len(bs), dtype=np.int64)
    pay_vals = np.empty(0, dtype=np.uint64)
    if pay_len is not None:
        blk_pay = np.add.reduceat(np.maximum(pay_len, 0), bs)
        ok = (np.minimum.reduceat(pay_len, bs) >= 0) & (blk_pay == sum_tf)
        pay_counts = np.where(ok, blk_pay, 0)
        keep = np.repeat(np.repeat(ok, be - bs), np.maximum(pay_len, 0))
        pay_vals = pay_flat[keep].astype(np.uint64)
    pay_bounds = np.concatenate(([0], np.cumsum(pay_counts)))
    term_col = uniques.take(pa.array(codes[bs]))
    if isinstance(term_col, pa.ChunkedArray):
        term_col = term_col.combine_chunks()
    return pa.RecordBatch.from_arrays(
        [
            term_col.cast(pa.string()),
            pa.array(chunk[bs], type=pa.int64()),
            pa.array(chunk[bs] * blocks_per_chunk + (rank[bs] // BLOCK_SIZE), type=pa.int64()),
            pa.array((be - bs).astype(np.int32), type=pa.int32()),
            pa.array(doc[bs], type=pa.int64()),
            pa.array(doc[be - 1], type=pa.int64()),
            pa.array(np.maximum.reduceat(tf, bs).astype(np.int32), type=pa.int32()),
            pa.array(sum_tf.astype(np.int64), type=pa.int64()),
            stream_col(d_delta.astype(np.uint64), row_bounds),
            stream_col(tf.astype(np.uint64), row_bounds),
            stream_col(p_delta.astype(np.uint64), pos_bounds),
            varbyte_col(pay_vals, pay_bounds),
        ],
        names=[
            "term", "chunk", "block_id", "doc_count", "min_doc_id", "max_doc_id",
            "max_tf", "sum_tf", "doc_deltas", "tf_bytes", "pos_bytes", "pay_bytes",
        ],
    )


def _encode_table(
    batches: Iterator[pa.RecordBatch], chunk_bits: int, codec: str
) -> Iterator[pa.RecordBatch]:
    """A whole partition of logical postings -> its block rows in ONE
    ``_encode_partition`` call.  The partition is accumulated first, so a
    (term, chunk) group split across Arrow batches still packs as one group."""
    batches = [b for b in batches if b.num_rows]
    if not batches:
        return
    t = pa.Table.from_batches(batches)
    terms = t.column("term").combine_chunks().dictionary_encode()
    tf = t.column("tf").to_numpy().astype(np.int64)
    positions = t.column("positions").combine_chunks()
    lens = pc.list_value_length(positions).to_numpy(zero_copy_only=False)
    if not np.array_equal(lens, tf):
        raise ValueError("encode_postings: a positions list length differs from its tf")
    pay_len = pay_flat = None
    if "payloads" in t.column_names:
        payloads = t.column("payloads").combine_chunks()
        pay_len = (
            pc.list_value_length(payloads).fill_null(-1)
            .to_numpy(zero_copy_only=False).astype(np.int64)
        )
        pay_flat = payloads.flatten().to_numpy(zero_copy_only=False)
    yield _encode_partition(
        t.column("doc_id").to_numpy().astype(np.int64),
        tf,
        terms.indices.to_numpy(zero_copy_only=False).astype(np.int64),
        terms.dictionary,
        positions.flatten().to_numpy(zero_copy_only=False).astype(np.int64),
        chunk_bits,
        codec,
        pay_len,
        pay_flat,
    )


def encode_postings(
    postings: DataFrame,
    chunk_bits: int = CHUNK_BITS,
    codec: str = CODEC_VARBYTE,
) -> DataFrame:
    """Logical postings -> block rows. One shuffle on (term, chunk), then
    one ``_encode_partition`` pass per partition (``_encode_table``).
    An optional ``payloads array<long>`` input column (per-hit, parallel to
    positions) is encoded into the ``pay_bytes`` stream.  ``codec`` selects
    the wire format of the three posting streams, one of ``BLOCK_CODECS``
    (native postings are rows: a native commit takes them as they are)."""
    _check_codec(codec, BLOCK_CODECS)
    cols = ["term", "doc_id", "tf", "positions"]
    if "payloads" in postings.columns:
        cols.append("payloads")
    return (
        postings.select(*cols)
        .repartition("term", F.shiftright(F.col("doc_id"), chunk_bits))
        .mapInArrow(
            lambda it: _encode_table(it, chunk_bits, codec), SEGMENT_SCHEMA
        )
    )


def _binary_stream(arr: pa.Array) -> np.ndarray:
    """All rows of a BinaryArray as one contiguous uint8 stream (zero-copy).

    The offsets layout guarantees row i+1 starts exactly where row i ends, so
    the concatenation of rows [0, n) is the values-buffer slice
    ``[offsets[0], offsets[n])``."""
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset : arr.offset + len(arr) + 1
    ]
    values = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
    return values[offs[0] : offs[-1]]


def _reset_cumsum(deltas: np.ndarray, starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Absolute values from concatenated per-group delta streams where each
    group's first value is stored absolute: one cumsum + one segmented
    correction — no per-group loop."""
    c = np.cumsum(deltas.astype(np.int64))
    base = c[starts] - deltas[starts].astype(np.int64)
    return c - np.repeat(base, counts)


def _binary_row_lengths(arr: pa.Array) -> np.ndarray:
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset : arr.offset + len(arr) + 1
    ]
    return np.diff(offs)


def _decode_stream(arr: pa.Array, codec: str) -> np.ndarray:
    """All rows' wire bytes of a BinaryArray -> one concatenated uint64 value
    stream, in ONE vectorized pass for either codec.  varbyte concatenates
    losslessly (stateless, self-delimiting), so the whole buffer slice
    decodes at once; pfor rows carry headers, so the multi-row kernel
    (``pfor_decode_rows``) decodes all rows grouped by block width —
    per-distinct-width matrix ops, never a per-row loop."""
    if codec == CODEC_PFOR:
        from ..functions.pfor import pfor_decode_rows

        offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
            arr.offset : arr.offset + len(arr) + 1
        ]
        buf = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
        vals, _ = pfor_decode_rows(buf, offs.astype(np.int64))
        return vals
    return decode_varbyte(_binary_stream(arr))


def _decode_batches(
    batches: Iterator[pa.RecordBatch],
    with_payloads: bool = False,
    with_positions: bool = True,
    codec: str = CODEC_VARBYTE,
) -> Iterator[pa.RecordBatch]:
    """Block rows -> posting rows, one vectorized pass per Arrow batch.

    Mirrors the encoder (``_encode_partition``): every varbyte
    stream in the batch is decoded in ONE decode_varbyte call over the
    concatenated binary buffers; per-block structure is recovered from
    doc_count / tf prefix sums (reduceat-style), never a per-row loop.  This
    is the hottest query-side kernel — the reference's equivalent is the
    SIMD-friendly block decode of google_codec.cpp:178-240.

    ``with_positions=False`` skips the position stream entirely — the
    pos_bytes column (the LARGEST stream) is then never read, never
    decompressed, never decoded: the docs-only iterator mode of the
    reference codecs (google_codec.cpp skips hits when the query needs only
    doc/freq)."""
    fields = [
        pa.field("term", pa.string()),
        pa.field("doc_id", pa.int64()),
        pa.field("tf", pa.int32()),
    ]
    if with_positions:
        fields.append(pa.field("positions", pa.list_(pa.int32())))
    if with_payloads:
        fields.append(pa.field("payloads", pa.list_(pa.int64())))
    out_schema = pa.schema(fields)
    for batch in batches:
        if batch.num_rows == 0:
            continue
        dc = batch.column("doc_count").to_numpy().astype(np.int64)
        n_postings = int(dc.sum())
        if n_postings == 0:
            continue
        # doc ids: one decode of all blocks' delta streams, resets at blocks
        doc_deltas = _decode_stream(batch.column("doc_deltas"), codec)
        block_starts = np.concatenate(([0], np.cumsum(dc)[:-1]))
        assert len(doc_deltas) == n_postings
        doc_ids = _reset_cumsum(doc_deltas, block_starts, dc)
        # tfs: one decode, one value per posting
        tfs = _decode_stream(batch.column("tf_bytes"), codec).astype(np.int64)
        assert len(tfs) == n_postings
        # term column: arrow take (no Python string materialization)
        row_idx = pa.array(np.repeat(np.arange(batch.num_rows), dc), type=pa.int32())
        terms = batch.column("term").take(row_idx)
        arrays = [
            terms.cast(pa.string()),
            pa.array(doc_ids, type=pa.int64()),
            pa.array(tfs.astype(np.int32), type=pa.int32()),
        ]
        if with_positions:
            # positions: one decode, resets at each doc's first position
            pos_deltas = _decode_stream(batch.column("pos_bytes"), codec)
            doc_starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
            flat = _reset_cumsum(pos_deltas, doc_starts, tfs)
            offsets = np.concatenate((doc_starts, [len(flat)])).astype(np.int32)
            arrays.append(
                pa.ListArray.from_arrays(
                    pa.array(offsets, type=pa.int32()),
                    pa.array(flat.astype(np.int32), type=pa.int32()),
                )
            )
        if with_payloads:
            # a block either carries one payload per hit or none (empty
            # stream); docs in payload-free blocks get empty lists
            pay_col = batch.column("pay_bytes")
            has_pay = _binary_row_lengths(pay_col) > 0  # per block row
            pay_vals = decode_varbyte(_binary_stream(pay_col)).astype(np.int64)
            doc_has_pay = np.repeat(has_pay, dc)
            per_doc = np.where(doc_has_pay, tfs, 0)
            assert int(per_doc.sum()) == len(pay_vals)
            pay_offsets = np.concatenate(([0], np.cumsum(per_doc))).astype(np.int32)
            arrays.append(
                pa.ListArray.from_arrays(
                    pa.array(pay_offsets, type=pa.int32()),
                    pa.array(pay_vals, type=pa.int64()),
                )
            )
        yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)


def decode_segments(
    blocks: DataFrame,
    with_payloads: bool = False,
    with_positions: bool = True,
    codec: str = CODEC_VARBYTE,
) -> DataFrame:
    """A segment's stored postings part -> logical postings (term, doc_id,
    tf[, positions][, payloads]).  ``codec`` names the store's wire
    (``SegmentStore.layout``): under ``native`` the part already holds the
    rows and this is a column projection — Spark's own Parquet scan, no
    Python; under a block codec it is the ``_decode_batches`` mapInArrow.

    ``with_payloads=True`` adds the per-hit payload column (empty list for
    hits indexed without payloads) — kept OFF the query hot path: BM25 never
    reads it, so the default scan doesn't even project payloads.

    ``with_positions=False`` drops the position column AND its physical
    stream (positions / pos_bytes) from the scan projection entirely
    (parquet column pruning) — the docs/freqs-only read a token-only BM25
    query needs; positions are the largest stream."""
    _check_codec(codec)
    if codec == CODEC_NATIVE:
        cols = ["term", "doc_id", "tf"]
        if with_positions:
            cols.append("positions")
        if with_payloads:
            cols.append(
                F.coalesce(
                    F.col("payloads"), F.array().cast("array<long>")
                ).alias("payloads")
            )
        return blocks.select(*cols)
    if with_payloads:
        cols = ["term", "doc_count", "doc_deltas", "tf_bytes"]
        if with_positions:
            cols.append("pos_bytes")
        sel = blocks.select(
            *cols,
            F.coalesce(F.col("pay_bytes"), F.lit(b"")).alias("pay_bytes"),
        )
        return sel.mapInArrow(
            lambda it: _decode_batches(
                it, with_payloads=True, with_positions=with_positions,
                codec=codec,
            ),
            POSTINGS_PAYLOAD_SCHEMA
            if with_positions
            else POSTINGS_PAYLOAD_NOPOS_SCHEMA,
        )
    if not with_positions:
        return blocks.select(
            "term", "doc_count", "doc_deltas", "tf_bytes"
        ).mapInArrow(
            lambda it: _decode_batches(it, with_positions=False, codec=codec),
            POSTINGS_NOPOS_SCHEMA,
        )
    return blocks.select(
        "term", "doc_count", "doc_deltas", "tf_bytes", "pos_bytes"
    ).mapInArrow(
        lambda it: _decode_batches(it, codec=codec), POSTINGS_SCHEMA
    )
