"""Delta + varbyte posting-list codec with block-max metadata.

The physical analogue of the reference's index artifacts — Postgres GIN
posting trees (``data-pipeline/database.py:59-60``) and ivfflat lists
(``database.py:47-54``) — re-designed for columnar storage: sorted doc-id
runs are delta-encoded then varbyte-compressed (LEB128: 7 payload bits per
byte, MSB = continuation), packed into fixed-size blocks that carry the
max normalized-tf ("block max") used by Block-Max WAND pruning at query
time (Ding & Suel, SIGIR 2011 — public algorithm).

All hot paths are numpy-vectorized (no per-element Python loops over
postings) so they run fast inside Arrow-batched pandas UDFs.
"""

from __future__ import annotations

import numpy as np

_MASK7 = np.uint64(0x7F)
_CONT = np.uint8(0x80)


def encode_varbyte_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode a uint64 array; also return per-value byte lengths.

    The lengths let a caller slice the concatenated stream into arbitrary
    sub-ranges (per-block payloads) without re-encoding — the core of the
    batch block encoder.
    """
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        nbits[nz] += 1
        tmp >>= np.uint64(7)
    nbits[nbits == 0] = 1
    out = np.zeros(int(nbits.sum()), dtype=np.uint8)
    pos = np.cumsum(nbits) - nbits
    shifted = v.copy()
    active = np.ones(v.shape, dtype=bool)
    level = 0
    while active.any():
        idx = pos[active] + level
        chunk = (shifted[active] & _MASK7).astype(np.uint8)
        more = level + 1 < nbits[active]
        out[idx] = chunk | np.where(more, _CONT, np.uint8(0))
        shifted[active] >>= np.uint64(7)
        active = active & (nbits > level + 1)
        level += 1
    return out.tobytes(), nbits


def encode_varbyte(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array. Vectorized over byte positions."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # bytes needed per value: ceil(bit_length / 7), min 1
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        nbits[nz] += 1
        tmp >>= np.uint64(7)
    nbits[nbits == 0] = 1
    out = np.zeros(int(nbits.sum()), dtype=np.uint8)
    pos = np.cumsum(nbits) - nbits  # start offset of each value
    shifted = v.copy()
    active = np.ones(v.shape, dtype=bool)
    level = 0
    while active.any():
        idx = pos[active] + level
        chunk = (shifted[active] & _MASK7).astype(np.uint8)
        more = level + 1 < nbits[active]
        out[idx] = chunk | np.where(more, _CONT, np.uint8(0))
        shifted[active] >>= np.uint64(7)
        active = active & (nbits > level + 1)
        level += 1
    return out.tobytes()


def decode_varbyte(data: bytes) -> np.ndarray:
    """Inverse of :func:`encode_varbyte`. Vectorized."""
    if not data:
        return np.zeros(0, dtype=np.uint64)
    b = np.frombuffer(data, dtype=np.uint8)
    is_last = (b & _CONT) == 0
    # position of each byte within its value (0-based from LSB)
    ends = np.flatnonzero(is_last)
    starts = np.concatenate(([0], ends[:-1] + 1))
    n = ends.size
    values = np.zeros(n, dtype=np.uint64)
    width = ends - starts + 1
    maxw = int(width.max())
    payload = (b & np.uint8(0x7F)).astype(np.uint64)
    for level in range(maxw):
        sel = width > level
        values[sel] |= payload[starts[sel] + level] << np.uint64(7 * level)
    return values


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    """Strictly-increasing uint64 ids → first id + successive gaps."""
    a = np.ascontiguousarray(sorted_ids, dtype=np.uint64)
    if a.size == 0:
        return a
    out = np.empty_like(a)
    out[0] = a[0]
    np.subtract(a[1:], a[:-1], out=out[1:])
    return out


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    return np.cumsum(np.ascontiguousarray(deltas, dtype=np.uint64),
                     dtype=np.uint64)


def tf_norm(tf: np.ndarray, dl: np.ndarray, avgdl: float,
            k1: float, b: float) -> np.ndarray:
    """BM25 term-frequency normalization, vectorized (matches oracle)."""
    tf = tf.astype(np.float64)
    denom = tf + k1 * (1.0 - b + b * dl.astype(np.float64) / avgdl)
    return tf / denom


def encode_blocks(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                  avgdl: float, k1: float, b: float,
                  block_size: int) -> list[dict]:
    """Split one term's sorted postings into compressed block rows.

    Tail compaction: a final partial block (< block_size postings) is
    absorbed into the preceding full block, so block sizes are
    ``block_size`` except the last, which is in ``[block_size,
    2*block_size)`` (or the whole list when it is shorter than one
    block). This halves the block-row count for the long tail of terms
    with just over a block of postings per bucket and removes the
    tiny-tail rows the per-bucket WAND scan would otherwise fetch.

    Returns dicts with keys matching the ``postings`` table schema:
    block_id, n_postings, first_doc_id, last_doc_id, doc_ids_vb, tfs_vb,
    dls_vb, block_max_tf_norm.
    """
    assert doc_ids.size == tfs.size == dls.size
    n = int(doc_ids.size)
    rem = n % block_size
    # drop the last boundary when it would start a sub-block_size tail
    bounds = list(range(0, n, block_size))
    if rem and len(bounds) > 1:
        bounds.pop()
    blocks = []
    for bi, lo in enumerate(bounds):
        hi = bounds[bi + 1] if bi + 1 < len(bounds) else n
        ids = doc_ids[lo:hi]
        t, d = tfs[lo:hi], dls[lo:hi]
        bmax = float(tf_norm(t, d, avgdl, k1, b).max()) if avgdl > 0 else 0.0
        blocks.append({
            "block_id": bi,
            "n_postings": int(hi - lo),
            "first_doc_id": int(ids[0]),
            "last_doc_id": int(ids[-1]),
            "doc_ids_vb": encode_varbyte(delta_encode(ids)),
            "tfs_vb": encode_varbyte(t.astype(np.uint64)),
            "dls_vb": encode_varbyte(d.astype(np.uint64)),
            "block_max_tf_norm": bmax,
        })
    return blocks


def decode_block(doc_ids_vb: bytes, tfs_vb: bytes, dls_vb: bytes):
    """(doc_ids, tfs, dls) uint64 arrays for one block."""
    return (delta_decode(decode_varbyte(doc_ids_vb)),
            decode_varbyte(tfs_vb),
            decode_varbyte(dls_vb))


def _binary_cells(col):
    """An Arrow binary column → (its cells' bytes back to back, the byte
    offset of each cell in them, ``len + 1`` entries). Zero-copy: the
    values buffer of a (large_)binary array is already contiguous."""
    import pyarrow as pa

    arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    width = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    _, off_buf, data_buf = arr.buffers()
    offsets = np.frombuffer(off_buf, dtype=width)[
        arr.offset:arr.offset + len(arr) + 1].astype(np.int64)
    if not len(arr) or data_buf is None:
        return b"", np.zeros(len(arr) + 1, dtype=np.int64)
    return (memoryview(data_buf)[offsets[0]:offsets[-1]],
            offsets - offsets[0])


def decode_varbyte_cells(col) -> tuple[np.ndarray, np.ndarray]:
    """:func:`decode_varbyte` over every cell of an Arrow binary column
    in ONE call on the column's values buffer: (the values of all cells
    back to back, ``starts``), cell i's values being
    ``values[starts[i]:starts[i + 1]]``. Every encoded stream ends on a
    terminal byte, so the concatenated stream decodes to the
    concatenated values; a cell's value count is its terminal bytes."""
    data, offsets = _binary_cells(col)
    values = decode_varbyte(data)
    last = np.zeros(len(data) + 1, dtype=np.int64)
    if len(data):
        np.cumsum(np.frombuffer(data, dtype=np.uint8) < _CONT, out=last[1:])
    return values, last[offsets]


def decode_block_table(doc_ids_vb, tfs_vb, dls_vb):
    """Whole-table :func:`decode_block`: (doc_ids, tfs, dls, starts) over
    the blocks of three Arrow binary columns, bit-identical to decoding
    each row and concatenating; row i's postings are
    ``[starts[i], starts[i + 1])``. The doc-id deltas are summed over
    the whole table at once and the running sum is reset at each block
    start (uint64 arithmetic wraps modulo 2^64 on both sides, so the
    difference is each block's own sum exactly)."""
    deltas, starts = decode_varbyte_cells(doc_ids_vb)
    sums = np.concatenate(([np.uint64(0)], np.cumsum(deltas,
                                                     dtype=np.uint64)))
    doc_ids = sums[1:] - np.repeat(sums[starts[:-1]], np.diff(starts))
    return (doc_ids, decode_varbyte_cells(tfs_vb)[0],
            decode_varbyte_cells(dls_vb)[0], starts)


def encode_blocks_multi(
    group_starts: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    avgdl: float,
    k1: float,
    b: float,
    block_size: int,
):
    """Encode MANY groups' sorted postings into block rows in one
    vectorized pass (bit-identical to per-group :func:`encode_blocks`).

    ``group_starts``: sorted start offsets of each (term, partition) group
    within the flat arrays. All heavy work — delta, varbyte, block maxima,
    per-block tf sums — is whole-array numpy; the only Python loop is one
    cheap byte-slice per output block.

    Returns ``(block_group_idx, rows)`` where rows is a list of tuples
    ``(block_id, n_postings, first_doc_id, last_doc_id, doc_ids_vb,
    tfs_vb, dls_vb, block_max_tf_norm, cf_block)`` and block_group_idx[i]
    is the index into ``group_starts`` of the group that produced row i.
    """
    n = int(doc_ids.size)
    if n == 0:
        return np.zeros(0, dtype=np.int64), []
    ids = np.ascontiguousarray(doc_ids, dtype=np.uint64)
    tfs = np.ascontiguousarray(tfs, dtype=np.uint64)
    dls = np.ascontiguousarray(dls, dtype=np.uint64)
    gs = np.ascontiguousarray(group_starts, dtype=np.int64)

    # index of each value within its group
    gidx_of_value = np.searchsorted(gs, np.arange(n), side="right") - 1
    idx_in_group = np.arange(n) - gs[gidx_of_value]
    # block boundaries: group start or block_size multiple within group
    is_start = (idx_in_group % block_size) == 0
    # tail compaction (same rule as encode_blocks): kill the boundary that
    # would start a sub-block_size final tail, merging it into the
    # preceding full block
    glen = np.diff(np.append(gs, n))
    glen_of_value = glen[gidx_of_value]
    rem_of_value = glen_of_value % block_size
    is_start &= ~((rem_of_value != 0)
                  & (idx_in_group == glen_of_value - rem_of_value)
                  & (idx_in_group > 0))
    starts = np.flatnonzero(is_start)
    ends = np.append(starts[1:], n)
    block_ids = (idx_in_group[starts] // block_size).astype(np.int64)
    block_group = gidx_of_value[starts]

    # per-block delta encoding: gaps everywhere, absolute at block starts
    deltas = ids.copy()
    deltas[1:] -= ids[:-1]
    deltas[starts] = ids[starts]

    ids_bytes, ids_len = encode_varbyte_with_lengths(deltas)
    tfs_bytes, tfs_len = encode_varbyte_with_lengths(tfs)
    dls_bytes, dls_len = encode_varbyte_with_lengths(dls)
    ids_off = np.concatenate(([0], np.cumsum(ids_len)))
    tfs_off = np.concatenate(([0], np.cumsum(tfs_len)))
    dls_off = np.concatenate(([0], np.cumsum(dls_len)))

    norm = tf_norm(tfs, dls, avgdl, k1, b) if avgdl > 0 \
        else np.zeros(n, dtype=np.float64)
    bmax = np.maximum.reduceat(norm, starts)
    cf = np.add.reduceat(tfs.astype(np.int64), starts)

    rows = []
    for i in range(len(starts)):
        s, e = int(starts[i]), int(ends[i])
        rows.append((
            int(block_ids[i]), e - s, int(ids[s]), int(ids[e - 1]),
            ids_bytes[ids_off[s]:ids_off[e]],
            tfs_bytes[tfs_off[s]:tfs_off[e]],
            dls_bytes[dls_off[s]:dls_off[e]],
            float(bmax[i]), int(cf[i]),
        ))
    return block_group, rows
