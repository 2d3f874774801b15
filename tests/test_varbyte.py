"""Round-trip + property tests for the posting codec (FIXTURES.md §4.4)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from semantic_search_engine_spark.functions.varbyte import (
    decode_block,
    decode_block_table,
    decode_varbyte,
    delta_decode,
    delta_encode,
    encode_blocks,
    encode_varbyte,
    tf_norm,
)


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert decode_varbyte(encode_varbyte(arr)).tolist() == vals


@given(st.sets(st.integers(min_value=0, max_value=2**60 - 1),
               min_size=1, max_size=300))
@settings(max_examples=100, deadline=None)
def test_delta_roundtrip(ids):
    arr = np.array(sorted(ids), dtype=np.uint64)
    assert np.array_equal(delta_decode(delta_encode(arr)), arr)


def test_varbyte_compactness():
    small = np.arange(1000, dtype=np.uint64)  # deltas of sorted runs are small
    enc = encode_varbyte(delta_encode(small))
    assert len(enc) < 1100  # ~1 byte per gap vs 8 raw


def test_encode_blocks_roundtrip_and_blockmax():
    rng = np.random.default_rng(7)
    n = 1000
    ids = np.cumsum(rng.integers(1, 50, size=n)).astype(np.uint64)
    tfs = rng.integers(1, 30, size=n).astype(np.uint64)
    dls = rng.integers(20, 2000, size=n).astype(np.uint64)
    avgdl, k1, b = 200.0, 1.2, 0.75
    blocks = encode_blocks(ids, tfs, dls, avgdl, k1, b, block_size=128)
    # tail compaction: 1000 = 7*128 + 104 → the 104-posting tail merges
    # into block 6 (232 postings), so 7 blocks, not 8
    assert len(blocks) == 7
    assert [b_["n_postings"] for b_ in blocks] == [128] * 6 + [232]
    out_ids, out_tfs, out_dls = [], [], []
    for blk in blocks:
        i, t, d = decode_block(blk["doc_ids_vb"], blk["tfs_vb"], blk["dls_vb"])
        assert i[0] == blk["first_doc_id"] and i[-1] == blk["last_doc_id"]
        assert len(i) == blk["n_postings"]
        # invariant 4: block max dominates every member contribution
        member = tf_norm(t, d, avgdl, k1, b)
        assert blk["block_max_tf_norm"] >= member.max() - 1e-12
        out_ids.append(i); out_tfs.append(t); out_dls.append(d)
    assert np.array_equal(np.concatenate(out_ids), ids)
    assert np.array_equal(np.concatenate(out_tfs), tfs)
    assert np.array_equal(np.concatenate(out_dls), dls)


def test_empty_inputs():
    assert encode_varbyte(np.zeros(0, dtype=np.uint64)) == b""
    assert decode_varbyte(b"").size == 0
    assert delta_encode(np.zeros(0, dtype=np.uint64)).size == 0


@pytest.mark.parametrize("large", [False, True], ids=["binary",
                                                      "large_binary"])
def test_whole_table_decode_equals_decode_block(large):
    """decode_block_table over Arrow binary columns equals decode_block
    per row, concatenated: an empty table, 1-posting blocks, doc-id
    gaps of 2^35 and more (6-byte varbytes, and absolute first ids near
    2^60 whose running sum over the table wraps uint64), and a sliced
    column (a non-zero Arrow offset)."""
    import pyarrow as pa

    typ = pa.large_binary() if large else pa.binary()
    rng = np.random.Generator(np.random.PCG64(5))
    blocks = []
    firsts = []
    for n in [1, 1, 3, 1, 17, 2, 1, 64, 1] * 3:
        gaps = rng.integers(1, 2**36, size=n, dtype=np.uint64)
        gaps[rng.random(n) < 0.3] = np.uint64(2**35)
        ids = np.cumsum(gaps, dtype=np.uint64) + np.uint64(
            rng.integers(3 * 2**58, 2**60 - 2**44))
        firsts.append(int(ids[0]))
        blocks.append((encode_varbyte(delta_encode(ids)),
                       encode_varbyte(rng.integers(1, 300, size=n)
                                      .astype(np.uint64)),
                       encode_varbyte(rng.integers(1, 2**20, size=n)
                                      .astype(np.uint64))))

    def check(rows):
        cols = [pa.chunked_array([pa.array([r[i] for r in rows[:3]], typ),
                                  pa.array([r[i] for r in rows[3:]], typ)],
                                 type=typ) for i in range(3)]
        ids, tfs, dls, starts = decode_block_table(*cols)
        assert starts[0] == 0 and len(starts) == len(rows) + 1
        for i, row in enumerate(rows):
            want = decode_block(*row)
            lo, hi = starts[i], starts[i + 1]
            for got, w in zip((ids[lo:hi], tfs[lo:hi], dls[lo:hi]), want):
                assert got.dtype == w.dtype and np.array_equal(got, w), i
        assert len(ids) == len(tfs) == len(dls) == starts[-1]

    assert sum(firsts) > 2**64  # the table-wide delta sum wraps
    check([])
    check(blocks)
    check(blocks[4:])
    sliced = [pa.array([r[i] for r in blocks], typ).slice(2, 5)
              for i in range(3)]
    ids, tfs, dls, starts = decode_block_table(*sliced)
    want = [decode_block(*r) for r in blocks[2:7]]
    assert np.array_equal(ids, np.concatenate([w[0] for w in want]))
    assert np.array_equal(dls, np.concatenate([w[2] for w in want]))
    assert np.array_equal(np.diff(starts), [len(w[0]) for w in want])


def test_multi_group_batch_encoder_matches_per_group():
    """encode_blocks_multi + the streaming wrapper must be bit-identical to
    the original per-group encode_blocks, across random batch splits."""
    import numpy as np
    import pandas as pd
    from semantic_search_engine_spark.functions.varbyte import (
        encode_blocks, encode_blocks_multi)
    from semantic_search_engine_spark.plans.build_index import (
        make_block_encoder)

    rng = np.random.Generator(np.random.PCG64(11))
    avgdl, k1, b, bs = 83.5, 1.2, 0.75, 8

    # build a sorted (term, pid, doc_id) stream with varied group sizes
    groups = []
    for t in range(6):
        for pid in range(3):
            n = int(rng.integers(1, 40))
            ids = np.sort(rng.choice(10_000, size=n, replace=False))
            tfs = rng.integers(1, 9, size=n)
            dls = rng.integers(10, 300, size=n)
            groups.append((f"t{t:02d}", pid, ids, tfs, dls))

    expected = []
    for term, pid, ids, tfs, dls in groups:
        for blk in encode_blocks(ids.astype(np.uint64), tfs.astype(np.uint64),
                                 dls.astype(np.uint64), avgdl, k1, b, bs):
            lo = blk["block_id"] * bs
            cf = int(tfs[lo:lo + blk["n_postings"]].sum())
            expected.append((term, pid, blk["block_id"], blk["n_postings"],
                             blk["first_doc_id"], blk["last_doc_id"],
                             blk["doc_ids_vb"], blk["tfs_vb"],
                             blk["dls_vb"], blk["block_max_tf_norm"], cf))

    flat = {
        "term": np.concatenate([[g[0]] * len(g[2]) for g in groups]),
        "partition_id": np.concatenate([[g[1]] * len(g[2]) for g in groups]),
        "doc_id": np.concatenate([g[2] for g in groups]),
        "tf": np.concatenate([g[3] for g in groups]),
        "dl": np.concatenate([g[4] for g in groups]),
    }
    n = len(flat["doc_id"])
    for trial in range(6):
        cuts = np.sort(rng.choice(np.arange(1, n), size=min(9, n - 1),
                                  replace=False))
        bounds = [0, *cuts.tolist(), n]
        batches = [pd.DataFrame({k: v[a:b2] for k, v in flat.items()})
                   for a, b2 in zip(bounds[:-1], bounds[1:])]
        enc = make_block_encoder(avgdl, k1, b, bs)
        got = []
        for pdf in enc(iter(batches)):
            got.extend(tuple(r) for r in pdf.itertuples(index=False))
        assert sorted(got, key=lambda r: (r[0], r[1], r[2])) == \
            sorted(expected, key=lambda r: (r[0], r[1], r[2])), trial


def test_tail_compaction_block_shapes():
    """Block sizes are block_size except the last ∈ [block_size,
    2*block_size), or a single short block when the list is smaller."""
    from semantic_search_engine_spark.functions.varbyte import encode_blocks

    avgdl, k1, b, bs = 100.0, 1.2, 0.75, 16
    for n, want in [(5, [5]), (16, [16]), (17, [17]), (31, [31]),
                    (32, [16, 16]), (33, [16, 17]), (48, [16, 16, 16]),
                    (50, [16, 16, 18])]:
        ids = np.arange(1, n + 1, dtype=np.uint64) * 3
        tfs = np.ones(n, dtype=np.uint64)
        dls = np.full(n, 100, dtype=np.uint64)
        blocks = encode_blocks(ids, tfs, dls, avgdl, k1, b, bs)
        assert [blk["n_postings"] for blk in blocks] == want, n
        assert [blk["block_id"] for blk in blocks] == list(range(len(want)))
        got = np.concatenate([decode_block(blk["doc_ids_vb"], blk["tfs_vb"],
                                           blk["dls_vb"])[0]
                              for blk in blocks])
        assert np.array_equal(got, ids), n
