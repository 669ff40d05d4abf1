"""FOR/PFOR block codec — the Lucene-codec wire format, numpy-vectorized.

Reference: Trinity's Lucene codec packs postings in 128-value blocks, each
bit-packed to the block's max bitwidth, with sub-128 tails stored as vInts
(``/root/reference/lucene_codec.cpp:163-208`` encode, ``:596-660`` decode /
skip).  This module reproduces that format shape:

    [u32 n_values]
    [u8 width × n_full_blocks]          (width 0..64; 0 = all-zero block)
    [packed bitstreams, concatenated]   (ceil(128*w/8) bytes per block)
    [tail varbyte]                      (n_values % 128 trailing values)

Vectorization strategy: a Python loop would run per block (the round-1
decode sin); instead blocks are GROUPED BY WIDTH — all blocks of width w
(same byte length) are gathered with one fancy-index into a (k, 16*w) byte
matrix and unpacked in one ``np.unpackbits`` call, so the loop runs over
DISTINCT WIDTHS (<= 64 iterations regardless of data size).

This codec is wired in as a SELECTABLE wire format
(``build_index(codec="pfor")``; one codec per store, fixed at its first
commit, and the segment encoder ``segments._encode_partition`` calls
``pfor_encode_rows`` for build and merge alike; the segment lineage records
which codec wrote it — the codecs.h:93-95 segment codec-identity analog).  On transcript-shaped postings the varbyte stream is
smaller (tf/position deltas are mostly 1-byte); both block wires are
written with Spark's default snappy (no compression option is set on block
writes).  Neither is the default: the ``native`` codec's flat Parquet rows
are (``operators/segments.py``); rank parity is score-level and
unaffected.

Two API layers:
- ``pfor_encode`` / ``pfor_decode``: one value array <-> one byte buffer.
- ``pfor_encode_rows`` / ``pfor_decode_rows``: MANY independent rows (one
  per posting block) encoded/decoded in one vectorized pass — the layer the
  segment encode/decode kernels use, so the per-row loop the single-buffer
  API would force on a batch of thousands of blocks never exists.  Each
  row's bytes are identical to ``pfor_encode`` of that row alone (tested),
  so the two layers interoperate freely.
"""

from __future__ import annotations

import numpy as np

from .varbyte import decode_varbyte, encode_varbyte

BLOCK = 128


def _bit_width(values: np.ndarray) -> int:
    m = int(values.max()) if values.size else 0
    return int(m).bit_length()


def pfor_encode(values: np.ndarray) -> bytes:
    """Encode a uint64 array into FOR blocks (+ varbyte tail)."""
    v = np.asarray(values, dtype=np.uint64)
    n = len(v)
    n_full = n // BLOCK
    full = v[: n_full * BLOCK].reshape(n_full, BLOCK)
    widths = np.array([_bit_width(b) for b in full], dtype=np.uint8)
    parts: list[bytes] = [
        np.array([n], dtype="<u4").tobytes(),
        widths.tobytes(),
    ]
    # pack per distinct width: one unpack/pack matrix op per width group
    by_width: dict[int, list[int]] = {}
    for i, w in enumerate(widths):
        by_width.setdefault(int(w), []).append(i)
    chunks: dict[int, bytes] = {}
    for w, idxs in by_width.items():
        if w == 0:
            for i in idxs:
                chunks[i] = b""
            continue
        blocks = full[idxs]  # (k, 128)
        bits = (
            (blocks[:, :, None] >> np.arange(w, dtype=np.uint64)) & np.uint64(1)
        ).astype(np.uint8)  # (k, 128, w) little-endian bit order
        raw = np.packbits(bits.reshape(len(idxs), -1), axis=1, bitorder="little")
        nbytes = (BLOCK * w + 7) // 8
        for j, i in enumerate(idxs):
            chunks[i] = raw[j, :nbytes].tobytes()
    for i in range(n_full):
        parts.append(chunks[i])
    parts.append(encode_varbyte(v[n_full * BLOCK :]))
    return b"".join(parts)


def pfor_decode(buf: bytes) -> np.ndarray:
    """Decode FOR blocks (+ varbyte tail) back to a uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    n = int(np.frombuffer(b[:4].tobytes(), dtype="<u4")[0])
    n_full = n // BLOCK
    widths = b[4 : 4 + n_full].astype(np.int64)
    lens = (BLOCK * widths + 7) // 8
    starts = 4 + n_full + np.concatenate(([0], np.cumsum(lens)[:-1]))
    out = np.zeros(n_full * BLOCK, dtype=np.uint64)
    for w in np.unique(widths):
        w = int(w)
        if w == 0:
            continue
        idxs = np.flatnonzero(widths == w)
        nbytes = (BLOCK * w + 7) // 8
        # gather all same-width blocks into one (k, nbytes) matrix
        gather = starts[idxs][:, None] + np.arange(nbytes)
        raw = b[gather]  # (k, nbytes)
        bits = np.unpackbits(raw, axis=1, bitorder="little")[:, : BLOCK * w]
        vals = bits.reshape(len(idxs), BLOCK, w).astype(np.uint64)
        vals = (vals << np.arange(w, dtype=np.uint64)).sum(axis=2, dtype=np.uint64)
        out[(idxs[:, None] * BLOCK + np.arange(BLOCK)).ravel()] = vals.ravel()
    tail_off = int(4 + n_full + lens.sum())
    tail = decode_varbyte(b[tail_off:])
    n_tail = n - n_full * BLOCK
    if tail.size != n_tail:
        # header/tail disagreement = corruption (partial write, torn read).
        # Same policy as decode_varbyte's truncated-group check: surface it,
        # never return silently-truncated or silently-short postings.
        raise ValueError(
            f"pfor_decode: header says {n_tail} tail values, varbyte tail "
            f"carries {tail.size}"
        )
    return np.concatenate([out, tail])


def _bit_width_vec(values: np.ndarray) -> np.ndarray:
    """Per-element bit_length, loop over BITS (<=64), never elements."""
    v = np.asarray(values, dtype=np.uint64)
    w = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while tmp.any():
        live = tmp > 0
        w[live] += 1
        tmp >>= np.uint64(1)
    return w


def _segmented_intra(counts: np.ndarray) -> np.ndarray:
    """[0..c0), [0..c1), ... concatenated (the standard repeat/cumsum gather)."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    return np.arange(total, dtype=np.int64) - np.repeat(starts, counts)


def pfor_encode_rows(
    values: np.ndarray, row_counts: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Encode many independent value rows in ONE vectorized pass.

    ``values`` is the concatenation of all rows' uint64 values;
    ``row_counts[i]`` is row i's value count.  Returns ``(buf,
    row_byte_offsets)`` with ``len(row_byte_offsets) == len(row_counts)+1``;
    row i's bytes — identical to ``pfor_encode(values_of_row_i)`` — occupy
    ``buf[row_byte_offsets[i]:row_byte_offsets[i+1]]``.

    Work is grouped by DISTINCT BLOCK WIDTH across all rows (one
    packbits matrix op per width, <=64 groups) plus one varbyte pass over
    every row's tail values concatenated (varbyte is stateless and
    self-delimiting, so per-row tails concatenate losslessly)."""
    from .varbyte import encode_varbyte_offsets

    v = np.asarray(values, dtype=np.uint64)
    rc = np.asarray(row_counts, dtype=np.int64)
    n_rows = len(rc)
    row_val_start = np.concatenate(([0], np.cumsum(rc)))
    assert row_val_start[-1] == len(v)
    n_full = rc // BLOCK
    tail_len = rc - n_full * BLOCK

    # global full-block table: owning row, intra-row ordinal, start value idx
    blk_row = np.repeat(np.arange(n_rows), n_full)
    intra = _segmented_intra(n_full)
    blk_start = row_val_start[:-1][blk_row] + intra * BLOCK
    n_blocks = len(blk_row)
    if n_blocks:
        mat = v[blk_start[:, None] + np.arange(BLOCK)]
        widths = _bit_width_vec(mat.max(axis=1))
    else:
        mat = np.empty((0, BLOCK), dtype=np.uint64)
        widths = np.empty(0, dtype=np.int64)
    blk_bytes = (BLOCK * widths + 7) // 8  # == 16*width for BLOCK=128

    # tails of all rows, concatenated in row order -> one varbyte encode
    tail_src = np.repeat(
        row_val_start[:-1] + n_full * BLOCK, tail_len
    ) + _segmented_intra(tail_len)
    tail_buf, tail_off = encode_varbyte_offsets(v[tail_src])
    tail_val_bounds = np.concatenate(([0], np.cumsum(tail_len)))
    tail_bytes_row = np.diff(tail_off[tail_val_bounds])

    blk_bytes_row = np.bincount(
        blk_row, weights=blk_bytes.astype(np.float64), minlength=n_rows
    ).astype(np.int64)
    row_len = 4 + n_full + blk_bytes_row + tail_bytes_row
    row_off = np.concatenate(([0], np.cumsum(row_len)))
    out = np.zeros(int(row_off[-1]), dtype=np.uint8)

    # headers: u32 little-endian n at each row start
    hdr = rc.astype(np.uint64)
    for k in range(4):
        out[row_off[:-1] + k] = ((hdr >> np.uint64(8 * k)) & np.uint64(0xFF)).astype(
            np.uint8
        )
    if n_blocks:
        # width bytes
        out[row_off[:-1][blk_row] + 4 + intra] = widths.astype(np.uint8)
        # packed bitstreams, one scatter per distinct width
        c = np.cumsum(blk_bytes)
        ex = c - blk_bytes  # exclusive cumsum
        row_first_blk = np.concatenate(([0], np.cumsum(n_full)[:-1]))
        within = ex - ex[row_first_blk[blk_row]]
        blk_pos = row_off[:-1][blk_row] + 4 + n_full[blk_row] + within
        for w in np.unique(widths):
            w = int(w)
            if w == 0:
                continue
            idxs = np.flatnonzero(widths == w)
            bits = (
                (mat[idxs][:, :, None] >> np.arange(w, dtype=np.uint64))
                & np.uint64(1)
            ).astype(np.uint8)
            raw = np.packbits(
                bits.reshape(len(idxs), -1), axis=1, bitorder="little"
            )
            nbytes = (BLOCK * w + 7) // 8
            out[blk_pos[idxs][:, None] + np.arange(nbytes)] = raw[:, :nbytes]
    # tail bytes (contiguous per row, already in row order in tail_buf)
    if len(tail_buf):
        tail_out_start = row_off[:-1] + 4 + n_full + blk_bytes_row
        pos = np.repeat(tail_out_start, tail_bytes_row) + _segmented_intra(
            tail_bytes_row
        )
        out[pos] = tail_buf
    return out, row_off


def pfor_decode_rows(
    stream: np.ndarray, row_offsets: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Decode many pfor rows in one vectorized pass (inverse of
    ``pfor_encode_rows``).  ``row_offsets`` are the per-row byte bounds
    (len = n_rows + 1).  Returns ``(values, row_counts)`` with all rows'
    values concatenated in row order."""
    from .varbyte import decode_varbyte

    b = np.asarray(stream, dtype=np.uint8)
    ro = np.asarray(row_offsets, dtype=np.int64)
    n_rows = len(ro) - 1
    if n_rows == 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
    n = np.zeros(n_rows, dtype=np.int64)
    for k in range(4):
        n |= b[ro[:-1] + k].astype(np.int64) << (8 * k)
    n_full = n // BLOCK
    tail_len = n - n_full * BLOCK

    blk_row = np.repeat(np.arange(n_rows), n_full)
    intra = _segmented_intra(n_full)
    widths = b[ro[:-1][blk_row] + 4 + intra].astype(np.int64)
    blk_bytes = (BLOCK * widths + 7) // 8
    c = np.cumsum(blk_bytes) if len(blk_bytes) else blk_bytes
    ex = c - blk_bytes if len(blk_bytes) else blk_bytes
    row_first_blk = np.concatenate(([0], np.cumsum(n_full)[:-1]))
    within = ex - ex[row_first_blk[blk_row]] if len(blk_bytes) else ex
    blk_pos = ro[:-1][blk_row] + 4 + n_full[blk_row] + within

    out_row_start = np.concatenate(([0], np.cumsum(n)))
    out = np.zeros(int(out_row_start[-1]), dtype=np.uint64)
    blk_out = out_row_start[:-1][blk_row] + intra * BLOCK
    for w in np.unique(widths):
        w = int(w)
        if w == 0:
            continue
        idxs = np.flatnonzero(widths == w)
        nbytes = (BLOCK * w + 7) // 8
        raw = b[blk_pos[idxs][:, None] + np.arange(nbytes)]
        bits = np.unpackbits(raw, axis=1, bitorder="little")[:, : BLOCK * w]
        vals = bits.reshape(len(idxs), BLOCK, w).astype(np.uint64)
        vals = (vals << np.arange(w, dtype=np.uint64)).sum(axis=2, dtype=np.uint64)
        out[(blk_out[idxs][:, None] + np.arange(BLOCK)).ravel()] = vals.ravel()
    # tails: per-row byte ranges gathered then ONE varbyte decode
    blk_bytes_row = (
        np.bincount(blk_row, weights=blk_bytes.astype(np.float64), minlength=n_rows)
        .astype(np.int64)
        if len(blk_bytes)
        else np.zeros(n_rows, dtype=np.int64)
    )
    tstart = ro[:-1] + 4 + n_full + blk_bytes_row
    tbytes = ro[1:] - tstart
    if int(tbytes.sum()):
        gather = np.repeat(tstart, tbytes) + _segmented_intra(tbytes)
        tail_vals = decode_varbyte(b[gather])
        assert len(tail_vals) == int(tail_len.sum())
        tpos = np.repeat(
            out_row_start[:-1] + n_full * BLOCK, tail_len
        ) + _segmented_intra(tail_len)
        out[tpos] = tail_vals
    return out, n
