"""Physical posting segments: sorted, delta+varbyte block encoding.

Reference format target (semantics, not bytes): the Google codec's
block-columnar postings — docID-deltas and freqs varbyte-encoded in fixed-size
blocks with a skiplist entry carrying the block's max docID
(``/root/reference/google_codec.cpp:118-176``, skiplist emit ``:146-159``),
positions in a parallel stream (``lucene_codec.cpp:240-304`` analog).  Our
blocks carry ``max_doc_id`` (the skiplist key — parquet min/max page stats
give seek-by-docid) and ``max_tf`` (block-max metadata for WAND-style
pruning, SURVEY.md §4.3).

Scale design: a block group is ``(term, chunk)`` where ``chunk = doc_id >>
CHUNK_BITS`` — a stopword's 10^11-row posting list lands in ~10^6 independent
chunk groups instead of one executor-crushing (term) group.  This IS the
explicit skew salting the north rule demands, with a deterministic salt that
doubles as the docid-range seek key.  Encoding is ``applyInPandas`` over
those groups (Arrow-batched; numpy loops run over byte positions / blocks,
never rows).

Schema: postings_segments(term string, chunk long, block_id long,
doc_count int, min_doc_id long, max_doc_id long, max_tf int, sum_tf long,
doc_deltas binary, tf_bytes binary, pos_bytes binary, pay_bytes binary) —
min/max_doc_id are the skiplist keys, max_tf/sum_tf the block-max +
dictionary metadata.  ``pay_bytes`` is the OPTIONAL per-hit payload stream
(reference: <=8-byte per-occurrence payloads, ``codecs.h:191-195`` new_hit /
``runtime.h:8-20`` term_hit.payload): varbyte uint64s parallel to the
position stream, empty when the app supplied none (transcripts supply none —
the column exists so the physical format never needs a migration).

This module keeps the shuffle-based encode path (logical postings ->
blocks), used by merge/compaction for globally optimal block packing; the
build hot path is the fused zero-shuffle encoder in ``fastbuild``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.varbyte import decode_varbyte, encode_varbyte

CHUNK_BITS = 16  # 65536-doc docid ranges per encode group
BLOCK_SIZE = 128  # docs per block (lucene_codec.h:49 BLOCK_SIZE=128)
BLOCKS_PER_CHUNK = (1 << CHUNK_BITS) // BLOCK_SIZE

# Selectable wire codecs for the three posting streams (doc deltas / tfs /
# position deltas).  A store holds ONE codec and one chunk width: its first
# commit fixes both in the manifest and every later commit (build, NRT
# append, merge) must match — ``SegmentStore.layout`` is the single owner
# of that decision.  Each segment's lineage still records the codec that
# wrote it — the reference's segment `id` codec marker (codecs.h:93-95,
# indexer.cpp:268-270) — so every merge is a same-codec merge and keeps
# the raw-copy fast path (merge.cpp:256-287).
# pay_bytes (optional per-hit payloads) stays varbyte under BOTH codecs: the
# stream is empty on transcript corpora and varbyte's self-delimiting
# property is what lets all-or-nothing payload blocks coexist.
CODEC_VARBYTE = "varbyte"  # delta+varbyte — the default wire (google codec)
CODEC_PFOR = "pfor"  # 128-value FOR bit-packing + vInt tail (lucene codec)
CODECS = (CODEC_VARBYTE, CODEC_PFOR)
DEFAULT_CODEC = CODEC_VARBYTE

SEGMENT_SCHEMA = (
    "term string, chunk long, block_id long, doc_count int, min_doc_id long, "
    "max_doc_id long, max_tf int, sum_tf long, "
    "doc_deltas binary, tf_bytes binary, pos_bytes binary, pay_bytes binary"
)
POSTINGS_SCHEMA = "term string, doc_id long, tf int, positions array<int>"
POSTINGS_PAYLOAD_SCHEMA = POSTINGS_SCHEMA + ", payloads array<long>"
POSTINGS_NOPOS_SCHEMA = "term string, doc_id long, tf int"
POSTINGS_PAYLOAD_NOPOS_SCHEMA = POSTINGS_NOPOS_SCHEMA + ", payloads array<long>"


def _check_codec(codec: str) -> None:
    if codec not in CODECS:
        raise ValueError(f"unknown codec {codec!r}; known: {CODECS}")


def _encode_stream(values: np.ndarray, codec: str) -> bytes:
    """One block's uint64 values -> wire bytes under the chosen codec."""
    if codec == CODEC_PFOR:
        from ..functions.pfor import pfor_encode

        return pfor_encode(values)
    return encode_varbyte(values)


def _encode_group(
    pdf: pd.DataFrame, chunk_bits: int, codec: str = DEFAULT_CODEC
) -> pd.DataFrame:
    """Encode one (term, chunk) group of logical postings into block rows."""
    cols = [
        "term", "chunk", "block_id", "doc_count", "min_doc_id", "max_doc_id",
        "max_tf", "sum_tf", "doc_deltas", "tf_bytes", "pos_bytes", "pay_bytes",
    ]
    if len(pdf) == 0:
        return pd.DataFrame(columns=cols)
    pdf = pdf.sort_values("doc_id", kind="mergesort")
    term = pdf["term"].iloc[0]
    chunk = int(pdf["doc_id"].iloc[0]) >> chunk_bits
    blocks_per_chunk = max((1 << chunk_bits) // BLOCK_SIZE, 1)
    doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    tfs = pdf["tf"].to_numpy(dtype=np.int64)
    positions = pdf["positions"].tolist()
    payloads = pdf["payloads"].tolist() if "payloads" in pdf.columns else None

    rows = []
    for bi, lo in enumerate(range(0, len(pdf), BLOCK_SIZE)):
        hi = min(lo + BLOCK_SIZE, len(pdf))
        b_docs = doc_ids[lo:hi].astype(np.uint64)
        b_tfs = tfs[lo:hi].astype(np.uint64)
        # positions: per-doc delta streams, concatenated; tf gives the split
        flat = np.concatenate([np.asarray(p, dtype=np.int64) for p in positions[lo:hi]])
        starts = np.concatenate(([0], np.cumsum(b_tfs.astype(np.int64))[:-1]))
        d = flat.copy()
        d[1:] -= flat[:-1]
        d[starts] = flat[starts]  # first position of each doc is absolute
        dd = np.empty_like(b_docs)
        dd[0] = b_docs[0]
        np.subtract(b_docs[1:], b_docs[:-1], out=dd[1:])
        pay = b""
        if payloads is not None:
            # payloads are opaque uint64s, varbyte'd raw (no delta), parallel
            # to the position stream; all-or-nothing per block
            blk = [p for p in payloads[lo:hi] if p is not None]
            if len(blk) == hi - lo:
                flat_pay = np.concatenate(
                    [np.asarray(p, dtype=np.uint64) for p in blk]
                ) if blk else np.empty(0, dtype=np.uint64)
                if len(flat_pay) == int(b_tfs.sum()):
                    pay = encode_varbyte(flat_pay)
        rows.append(
            {
                "term": term,
                "chunk": chunk,
                "block_id": chunk * blocks_per_chunk + bi,
                "doc_count": hi - lo,
                "min_doc_id": int(b_docs[0]),
                "max_doc_id": int(b_docs[-1]),
                "max_tf": int(b_tfs.max()),
                "sum_tf": int(b_tfs.sum()),
                "doc_deltas": _encode_stream(dd, codec),
                "tf_bytes": _encode_stream(b_tfs, codec),
                "pos_bytes": _encode_stream(d.astype(np.uint64), codec),
                "pay_bytes": pay,
            }
        )
    return pd.DataFrame(rows)


def encode_postings(
    postings: DataFrame,
    chunk_bits: int = CHUNK_BITS,
    codec: str = DEFAULT_CODEC,
) -> DataFrame:
    """Logical postings -> block rows. One shuffle on (term, chunk).
    An optional ``payloads array<long>`` input column (per-hit, parallel to
    positions) is encoded into the ``pay_bytes`` stream.  ``codec`` selects
    the wire format of the three posting streams (see module constants)."""
    _check_codec(codec)
    with_chunk = postings.withColumn(
        "chunk", F.shiftright(F.col("doc_id"), chunk_bits)
    )
    return with_chunk.groupBy("term", "chunk").applyInPandas(
        lambda pdf: _encode_group(pdf.drop(columns=["chunk"]), chunk_bits, codec),
        SEGMENT_SCHEMA,
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
    codec: str = DEFAULT_CODEC,
) -> Iterator[pa.RecordBatch]:
    """Block rows -> posting rows, one vectorized pass per Arrow batch.

    Mirrors the fused encoder (fastbuild._encode_partition): every varbyte
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
    codec: str = DEFAULT_CODEC,
) -> DataFrame:
    """Block rows -> logical postings (term, doc_id, tf[, positions][, payloads]).

    ``with_payloads=True`` adds the per-hit payload column (empty list for
    hits indexed without payloads) — kept OFF the query hot path: BM25 never
    reads it, so the default scan doesn't even project pay_bytes.

    ``with_positions=False`` drops the position column AND its physical
    pos_bytes stream from the scan projection entirely (parquet column
    pruning) — the docs/freqs-only decode a token-only BM25 query needs;
    pos_bytes is the largest stream, so this roughly halves the bytes a
    positional-free query touches.

    ``codec`` names the wire format the blocks were written with — one
    per store (``SegmentStore.layout``)."""
    _check_codec(codec)
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
