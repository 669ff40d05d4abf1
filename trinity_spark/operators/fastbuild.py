"""Shuffle-free postings extraction: turns -> (term, doc_id, tf, positions).

The classic plan (build.py) explodes hits and shuffles them through
``groupBy(term, doc_id)`` — but every posting's rows all come from ONE input
row (a doc's tokens live together), so the aggregation is row-local: this
module computes finished postings inside a single ``mapInArrow`` pass with no
shuffle at all.  At 1M turns this removed ~65% of build wall time; at 10^12
turns it removes a 2.5x-of-corpus-size shuffle entirely (the only remaining
build shuffle is the (term, chunk) repartition that physical encoding needs).

Reference analog: the in-memory per-document hit accumulation of
``SegmentIndexSession::update_document`` (``/root/reference/indexer.cpp:
33-153``) — Trinity also aggregates per (term, doc) before anything global.

Everything is Arrow compute kernels + numpy C-kernels over Arrow batches
(split/flatten/dictionary-encode, lexsort, run-length boundaries); no per-row
Python.  Output is BIT-IDENTICAL to the classic path (tests/test_fastbuild.py
proves postings-set equality).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from ..tokenizer import (
    MAX_POSITION,
    MAX_TERM_LENGTH,
    POSITIONLESS_MARKER,
    tokenize_arrow,
)

# ONE schema definition: the decode side (segments.py) owns it; a drifted
# copy here would silently emit the old shape from postings_from_turns
from .segments import POSTINGS_SCHEMA  # noqa: E402

_OUT_SCHEMA = pa.schema(
    [
        pa.field("term", pa.string()),
        pa.field("doc_id", pa.int64()),
        pa.field("tf", pa.int32()),
        pa.field("positions", pa.list_(pa.int32())),
    ]
)


def _postings_arrays(
    doc_ids: np.ndarray, tokens
) -> tuple[np.ndarray, np.ndarray, np.ndarray, pa.StringArray, np.ndarray] | None:
    """tokens (pa.ListArray of strings, or a pandas Series of lists) ->
    finished per-(term, doc) postings for one batch, sorted by (doc, term
    first-appearance code): (doc, tf, codes, dictionary, pos_flat).

    All string work is Arrow C kernels (utf8_length, match_substring,
    dictionary_encode); numpy handles positions/run-lengths.  Semantics are
    frozen-tokenizer limits in the frozen order (see tokenizer.py)."""
    if isinstance(tokens, pd.Series):
        tokens = pa.array(list(tokens), type=pa.list_(pa.string()))
    if isinstance(tokens, pa.ChunkedArray):
        tokens = tokens.combine_chunks()
    lens = pc.list_value_length(tokens).to_numpy(zero_copy_only=False)
    lens = np.nan_to_num(lens).astype(np.int64) if lens.dtype != np.int64 else lens
    flat = pc.list_flatten(tokens)
    if len(flat) == 0:
        return None
    row_idx = np.repeat(np.arange(len(doc_ids)), lens)

    # frozen limits, same order as tokenizer.apply_limits:
    # 1) drop terms longer than MAX_TERM_LENGTH (and zero-length split
    #    artifacts — findall never emits them, so this is a no-op there)
    tlen = pc.utf8_length(flat)
    keep = pc.and_(pc.greater(tlen, 0), pc.less_equal(tlen, MAX_TERM_LENGTH))
    keep_np = keep.to_numpy(zero_copy_only=False)
    if not keep_np.all():
        flat = flat.filter(keep)
        row_idx = row_idx[keep_np]
    # 2) positions are 1-based indices in the post-filter stream ...
    new_lens = np.bincount(row_idx, minlength=len(doc_ids))
    starts = np.concatenate(([0], np.cumsum(new_lens)[:-1]))
    positions = (np.arange(len(row_idx)) - np.repeat(starts, new_lens) + 1).astype(np.int64)
    doc_rep = doc_ids[row_idx]
    # 3) ... capped at MAX_POSITION (tokens beyond are dropped)
    cap = positions <= MAX_POSITION
    if not cap.all():
        flat = flat.filter(pa.array(cap))
        doc_rep = doc_rep[cap]
        positions = positions[cap]
    if len(doc_rep) == 0:
        return None
    # 4) word:tail operator tokens are positionless (pos 0, codecs.h:191-195)
    # but still consume their slot — distances around them are preserved
    op = pc.match_substring(flat, POSITIONLESS_MARKER).to_numpy(zero_copy_only=False)
    if op.any():
        positions = np.where(op, 0, positions)

    enc = flat.dictionary_encode()
    codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    uniques = enc.dictionary
    # sort by (doc, term-code); stable keeps positions ascending within a
    # run.  When (doc, code) packs into one int64 a single radix argsort
    # replaces the 3-key lexsort (~2x) and run boundaries fall out of the
    # packed key; otherwise fall back to the general lexsort.
    bits_code = max((len(uniques) - 1).bit_length(), 1)
    if int(doc_rep.max()).bit_length() + bits_code <= 63:
        key = (doc_rep << np.int64(bits_code)) | codes
        order = np.argsort(key, kind="stable")
        ks = key[order]
        boundary = np.empty(len(ks), dtype=bool)
        boundary[0] = True
        np.not_equal(ks[1:], ks[:-1], out=boundary[1:])
    else:
        order = np.lexsort((positions, codes, doc_rep))
        d_s, c_s = doc_rep[order], codes[order]
        boundary = np.empty(len(d_s), dtype=bool)
        boundary[0] = True
        boundary[1:] = (d_s[1:] != d_s[:-1]) | (c_s[1:] != c_s[:-1])
    d, c, p = doc_rep[order], codes[order], positions[order]
    run_starts = np.flatnonzero(boundary)
    run_lens = np.diff(np.concatenate((run_starts, [len(d)])))
    return d[run_starts], run_lens, c[run_starts], uniques, p


def _batch_postings(doc_ids: np.ndarray, token_lists) -> pa.RecordBatch | None:
    out = _postings_arrays(doc_ids, token_lists)
    if out is None:
        return None
    doc, tf, codes, uniques, pos = out
    offsets = np.concatenate(
        ([0], np.cumsum(tf))
    ).astype(np.int32)
    term_col = uniques.take(pa.array(codes))
    if isinstance(term_col, pa.ChunkedArray):
        term_col = term_col.combine_chunks()
    return pa.RecordBatch.from_arrays(
        [
            term_col.cast(pa.string()),
            pa.array(doc, type=pa.int64()),
            pa.array(tf.astype(np.int32), type=pa.int32()),
            pa.ListArray.from_arrays(
                pa.array(offsets, type=pa.int32()),
                pa.array(pos.astype(np.int32), type=pa.int32()),
            ),
        ],
        schema=_OUT_SCHEMA,
    )


def _encode_partition(
    doc: np.ndarray,
    tf: np.ndarray,
    codes: np.ndarray,
    uniques,
    pos_flat: np.ndarray,
    chunk_bits: int,
    codec: str = "varbyte",
) -> pa.RecordBatch:
    """Vectorized block encoder: one numpy pass over a partition's postings.

    Input rows are (doc, tf, term-code) with per-doc position lists flattened
    in row order; output is one RecordBatch of posting blocks.  No python
    loop touches rows or blocks — binary columns are built zero-copy from one
    encoded buffer + block byte-offsets (pa.BinaryArray.from_buffers): under
    varbyte one ``encode_varbyte_offsets`` pass per stream; under pfor one
    ``pfor_encode_rows`` pass per stream (blocks grouped by bit width —
    lucene_codec.cpp:163-208 shape, batched across every block at once).

    ``uniques`` may be a pa.StringArray (term strings by code) or a numpy
    object array — term columns are built by Arrow take either way.
    """
    from ..operators.segments import BLOCK_SIZE
    from ..functions.varbyte import encode_varbyte_offsets

    if not isinstance(uniques, pa.Array):
        uniques = pa.array(np.asarray(uniques, dtype=object), type=pa.string())

    n = len(doc)
    chunk = doc >> np.int64(chunk_bits)
    # order postings by (chunk, term, doc) — the physical layout.  The input
    # is doc-ascending in the normal build (postings arrive in corpus doc
    # order), so a STABLE sort by (chunk, code) alone preserves doc order
    # within each group and the key needs no doc bits — it usually fits
    # int32, where numpy's radix sort runs ~2x the int64 width.  Unsorted
    # inputs (NRT slices, ad-hoc frames) fall back to a (chunk, code, low
    # doc bits) packed key, or the general 3-key lexsort if even that
    # overflows 63 bits.
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
    # gather variable-length position rows into the new order (source row
    # offsets MUST come from the pre-reorder tf layout)
    src_offsets = np.concatenate(([0], np.cumsum(tf)))[:-1][order]
    doc, tf, codes, chunk = doc[order], tf[order], codes[order], chunk[order]
    new_offsets = np.concatenate(([0], np.cumsum(tf)))
    gather = np.repeat(src_offsets - new_offsets[:-1], tf) + np.arange(
        new_offsets[-1]
    )
    pos_flat = pos_flat[gather]

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

    def stream_col(values: np.ndarray, value_bounds: np.ndarray) -> pa.Array:
        """One stream -> per-block wire bytes as an Arrow binary column.
        value_bounds are the per-block value-index bounds (len n_blocks+1)."""
        if codec == "pfor":
            from ..functions.pfor import pfor_encode_rows

            buf, byte_off = pfor_encode_rows(values, np.diff(value_bounds))
            return binary_col(buf, byte_off)
        buf, value_off = encode_varbyte_offsets(values)
        return binary_col(buf, value_off[value_bounds])

    row_bounds = np.append(bs, n)
    pos_bounds = new_offsets[row_bounds]  # value-index bounds in the pos stream
    n_blocks = len(bs)
    # tokenizer hits carry no payloads: an all-empty pay_bytes stream
    empty_pay = pa.Array.from_buffers(
        pa.binary(), n_blocks,
        [None, pa.py_buffer(np.zeros(n_blocks + 1, dtype=np.int32).tobytes()),
         pa.py_buffer(b"")],
    )
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
            pa.array(np.add.reduceat(tf, bs).astype(np.int64), type=pa.int64()),
            stream_col(d_delta.astype(np.uint64), row_bounds),
            stream_col(tf.astype(np.uint64), row_bounds),
            stream_col(p_delta.astype(np.uint64), pos_bounds),
            empty_pay,
        ],
        names=[
            "term", "chunk", "block_id", "doc_count", "min_doc_id", "max_doc_id",
            "max_tf", "sum_tf", "doc_deltas", "tf_bytes", "pos_bytes", "pay_bytes",
        ],
    )


# per-worker conv->base table cache for the fused attach (loaded once per
# worker lifetime, shared across tasks — guide "heavyweight init once")
_CONV_BASES_CACHE: dict = {}


def _conv_base_lookup(path: str, conv_range: tuple[str, str] | None = None):
    """(sorted conv_id bytes array, base array) loaded from the store's
    conv_bases parquet once per worker process and cached by (path, latest
    file mtime, conv_range).  ``conv_range=(c_lo, c_hi)`` reads only the
    convs in that inclusive conv_id range (a pyarrow ``filters=`` range,
    row-group pruned on the sorted bases), so a worker holds one segment's
    slice of the table, not all of it; None loads the whole table.
    Lookups are numpy searchsorted over the sorted fixed-width byte keys —
    no per-entry Python objects are ever built."""
    import glob as _glob
    import os as _os

    files = sorted(_glob.glob(_os.path.join(path, "*.parquet")))
    key = (
        path, max((_os.path.getmtime(f) for f in files), default=0.0),
        conv_range,
    )
    hit = _CONV_BASES_CACHE.get(path)
    if hit is not None and hit[0] == key:
        return hit[1]
    import pyarrow.parquet as _pq

    filters = None
    if conv_range is not None:
        filters = [
            ("conv_id", ">=", conv_range[0]), ("conv_id", "<=", conv_range[1]),
        ]
    t = _pq.read_table(path, columns=["conv_id", "base"], filters=filters)
    conv = t.column("conv_id").cast(pa.binary()).combine_chunks()
    conv_np = conv.to_numpy(zero_copy_only=False).astype("S")
    base_np = t.column("base").to_numpy(zero_copy_only=False).astype(np.int64)
    order = np.argsort(conv_np, kind="stable")
    table = (conv_np[order], base_np[order])
    _CONV_BASES_CACHE.clear()  # one store's slice at a time per worker
    _CONV_BASES_CACHE[path] = (key, table)
    return table


def blocks_from_turns(
    turns: DataFrame,
    text_col: str = "text",
    chunk_bits: int | None = None,
    codec: str = "varbyte",
    conv_attach: tuple[str, int, int, tuple[str, str] | None] | None = None,
) -> DataFrame:
    """turns(doc_id, text) -> encoded posting blocks in ONE mapInArrow pass —
    zero shuffles end to end (tokenize -> postings -> delta+varbyte blocks).

    Each input partition becomes an independently-encoded mini-segment slice:
    a (term, chunk) group that straddles a partition boundary yields two
    independent block sets (blocks decode standalone; trinity's per-segment
    term postings are split the same way).  ``operators.merge`` re-encodes
    globally for optimal block packing.

    ``conv_attach=(bases_parquet_dir, doc_lo, doc_hi, conv_range)`` fuses
    the virtual docid-map resolution INTO this pass: each worker loads the
    conv->base table once (cached for its lifetime) and computes ``doc_id =
    base + turn_idx`` per batch — no join, no shuffle, at any conv count.
    ``conv_range=(c_lo, c_hi)`` limits the load to the segment's conv_id
    slice (the caller filters the input by the same range); None loads the
    whole table.  Rows outside [doc_lo, doc_hi) are dropped worker-side
    (the segment slice).  Input then needs (conv_id, turn_idx, text)
    instead of (doc_id, text); a conv_id absent from the loaded bases is
    corruption and raises.
    """
    from ..operators.segments import CHUNK_BITS, SEGMENT_SCHEMA, _check_codec

    _check_codec(codec)
    cb = chunk_bits if chunk_bits is not None else CHUNK_BITS

    def _batch_doc_ids(batch: pa.RecordBatch) -> np.ndarray | None:
        if conv_attach is None:
            return np.ascontiguousarray(
                batch.column("doc_id").to_numpy(zero_copy_only=False),
                dtype=np.int64,
            )
        path, _, _, conv_range = conv_attach
        conv_sorted, base_sorted = _conv_base_lookup(path, conv_range)
        conv = batch.column("conv_id")
        enc = (
            conv.combine_chunks() if isinstance(conv, pa.ChunkedArray) else conv
        ).dictionary_encode()
        uniq = (
            enc.dictionary.cast(pa.binary())
            .to_numpy(zero_copy_only=False)
            .astype("S")
        )
        if uniq.dtype.itemsize > conv_sorted.dtype.itemsize:
            # a conv_id longer than every stored id cannot be present, and
            # width-truncation would otherwise false-match a shorter key
            long_mask = np.char.str_len(uniq) > conv_sorted.dtype.itemsize
            if long_mask.any():
                raise ValueError(
                    f"conv_id {uniq[long_mask][:1]!r} missing from "
                    f"conv_bases at {path}: corrupt virtual docid map"
                )
        uniq = uniq.astype(conv_sorted.dtype)
        pos = np.searchsorted(conv_sorted, uniq)
        pos_clip = np.minimum(pos, len(conv_sorted) - 1)
        if not (conv_sorted[pos_clip] == uniq).all():
            missing = uniq[conv_sorted[pos_clip] != uniq][:1]
            raise ValueError(
                f"conv_id {missing!r} missing from conv_bases at {path}: "
                "corrupt virtual docid map"
            )
        base_by_code = base_sorted[pos_clip]
        codes = enc.indices.to_numpy(zero_copy_only=False)
        turn = batch.column("turn_idx").to_numpy(zero_copy_only=False)
        return base_by_code[codes] + turn.astype(np.int64)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        docs: list[np.ndarray] = []
        tfs: list[np.ndarray] = []
        codes: list[np.ndarray] = []
        pos: list[np.ndarray] = []
        uniq: dict[str, int] = {}
        for batch in batches:
            batch_doc_ids = _batch_doc_ids(batch)
            if conv_attach is not None:
                _, lo, hi, _ = conv_attach
                mask = (batch_doc_ids >= lo) & (batch_doc_ids < hi)
                if not mask.all():
                    keep = pa.array(mask)
                    batch = batch.filter(keep)
                    batch_doc_ids = batch_doc_ids[mask]
                if len(batch_doc_ids) == 0:
                    continue
            out = _postings_arrays(
                batch_doc_ids,
                tokenize_arrow(batch.column(text_col)),
            )
            if out is None:
                continue
            d, tf, c, u, p = out
            # remap batch-local codes into the partition-wide dictionary
            remap = np.empty(len(u), dtype=np.int64)
            for i, t in enumerate(u.to_pylist()):
                remap[i] = uniq.setdefault(t, len(uniq))
            codes.append(remap[c])
            docs.append(d)
            tfs.append(tf)
            pos.append(p)
        if not docs:
            return
        uniques = np.empty(len(uniq), dtype=object)
        for t, i in uniq.items():
            uniques[i] = t
        yield _encode_partition(
            np.concatenate(docs), np.concatenate(tfs), np.concatenate(codes),
            uniques, np.concatenate(pos), cb, codec,
        )

    in_cols = (
        ["conv_id", "turn_idx", text_col]
        if conv_attach is not None
        else ["doc_id", text_col]
    )
    return turns.select(*in_cols).mapInArrow(run, SEGMENT_SCHEMA)


def postings_from_turns(turns: DataFrame, text_col: str = "text") -> DataFrame:
    """turns(doc_id, text, ...) -> postings, zero shuffles.

    Tokenization uses the Arrow twin of the frozen tokenize_udf pipeline
    (tokenizer.tokenize_arrow — equivalence-tested against the pandas UDF)."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            out = _batch_postings(
                np.ascontiguousarray(
                    batch.column("doc_id").to_numpy(zero_copy_only=False),
                    dtype=np.int64,
                ),
                tokenize_arrow(batch.column(text_col)),
            )
            if out is not None:
                yield out

    return turns.select("doc_id", text_col).mapInArrow(run, POSTINGS_SCHEMA)
