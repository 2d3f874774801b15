"""Field collapsing (X51) — best doc per key, top-k keys (Elasticsearch
``collapse`` / one-result-per-site). Pinned at three levels: the collapsed
WAND kernel vs an exhaustive per-key reference on random corpora, the
Spark fast path vs the exhaustive Spark path, and both vs the oracle.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from semantic_search_engine_spark.config import EngineConfig
from semantic_search_engine_spark.functions.varbyte import encode_blocks
from semantic_search_engine_spark.oracle import OracleIndex, collapse_top_k
from semantic_search_engine_spark.plans.wand import wand_top_k

K1, B = 1.2, 0.75


def _random_index(rng, n_docs, n_terms, density, block_size):
    doc_len = rng.integers(5, 200, size=n_docs)
    avgdl = float(doc_len.mean())
    term_postings = {}
    for t in range(n_terms):
        mask = rng.random(n_docs) < density * (1.0 if t else 3.0)
        ids = np.flatnonzero(mask).astype(np.uint64)
        if ids.size == 0:
            continue
        tfs = rng.integers(1, 8, size=ids.size).astype(np.uint64)
        term_postings[f"t{t:02d}"] = (ids, tfs)
    term_blocks = {}
    for term, (ids, tfs) in term_postings.items():
        dls = doc_len[ids.astype(np.int64)].astype(np.uint64)
        term_blocks[term] = encode_blocks(ids, tfs, dls, avgdl, K1, B,
                                          block_size)
    weights = {t: float(rng.uniform(0.1, 3.0)) for t in term_postings}
    return term_blocks, weights, term_postings, doc_len, avgdl


def _exhaustive_collapse(term_postings, weights, doc_len, avgdl, keys, k):
    scores: dict[int, float] = {}
    for term in sorted(term_postings):
        if term not in weights:
            continue
        w = weights[term]
        ids, tfs = term_postings[term]
        for d, tf in zip(ids.astype(int), tfs.astype(int)):
            dl = float(doc_len[d])
            contrib = w * (tf / (tf + K1 * (1 - B + B * dl / avgdl)))
            scores[d] = scores.get(d, 0.0) + contrib
    best: dict = {}
    for d in sorted(scores):
        key = keys[d]
        if key not in best or scores[d] > best[key][0]:
            best[key] = (scores[d], d)
    hits = sorted(((key, d, s) for key, (s, d) in best.items()),
                  key=lambda x: (-x[2], x[1]))
    return hits[:k]


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("n_keys", [3, 17, 400])
def test_kernel_collapse_equals_exhaustive(seed, n_keys):
    rng = np.random.default_rng(seed)
    blocks, weights, postings, dl, avgdl = _random_index(
        rng, n_docs=800, n_terms=5, density=0.15, block_size=32)
    keys = [f"k{int(x)}" for x in rng.integers(0, n_keys, size=800)]
    meta_ids = np.arange(800, dtype=np.int64)
    for k in (1, 5, 20):
        got, stats = wand_top_k(blocks, weights, k, K1, B, avgdl,
                                collapse=(meta_ids, keys))
        want = _exhaustive_collapse(postings, weights, dl, avgdl, keys, k)
        assert got == want, (seed, n_keys, k)
    # pruning must actually fire when keys are few (theta rises fast)
    if n_keys == 3:
        _got, stats = wand_top_k(blocks, weights, 3, K1, B, avgdl,
                                 collapse=(meta_ids, keys))
        assert stats["skipped_evals"] > 0, stats


def test_kernel_collapse_unique_keys_degenerates_to_plain_topk():
    rng = np.random.default_rng(9)
    blocks, weights, postings, dl, avgdl = _random_index(
        rng, n_docs=500, n_terms=4, density=0.2, block_size=32)
    keys = [f"u{d}" for d in range(500)]  # every doc its own key
    meta_ids = np.arange(500, dtype=np.int64)
    got, _ = wand_top_k(blocks, weights, 10, K1, B, avgdl,
                        collapse=(meta_ids, keys))
    plain, _ = wand_top_k(blocks, weights, 10, K1, B, avgdl)
    assert [(d, s) for _key, d, s in got] == plain


def test_kernel_collapse_missing_meta_goes_to_null_group():
    rng = np.random.default_rng(3)
    blocks, weights, postings, dl, avgdl = _random_index(
        rng, n_docs=100, n_terms=3, density=0.3, block_size=16)
    # empty metadata: every doc collapses into the single None group
    got, _ = wand_top_k(blocks, weights, 10, K1, B, avgdl,
                        collapse=(np.array([], dtype=np.int64), []))
    plain, _ = wand_top_k(blocks, weights, 1, K1, B, avgdl)
    assert len(got) == 1
    assert got[0][0] is None and (got[0][1], got[0][2]) == plain[0]


# ---------------------------------------------------------------------------
# Spark engine: wand mode ≡ exhaustive mode ≡ oracle
# ---------------------------------------------------------------------------

CFG = EngineConfig(n_doc_buckets=8, n_term_buckets=8, shuffle_partitions=8,
                   block_size=32)


@pytest.fixture(scope="module")
def eng(spark, tiny_corpus_dir, tmp_path_factory):
    from semantic_search_engine_spark.plans.build_index import IndexBuilder
    from semantic_search_engine_spark.plans.query import QueryEngine
    from semantic_search_engine_spark.sources.store import HadoopTableStore

    store = HadoopTableStore(spark, str(tmp_path_factory.mktemp("wh_col")))
    docs = spark.read.parquet(f"{tiny_corpus_dir}/documents.parquet")
    IndexBuilder(spark, store, CFG).build(docs)
    return QueryEngine(spark, store, None)


@pytest.fixture(scope="module")
def oracle(tiny_rows):
    return OracleIndex.build(tiny_rows, CFG)


@pytest.mark.parametrize("q", ["wireless bluetooth headphones",
                               "zipfhead0 zipfhead1"])
def test_engine_collapse_matches_oracle_and_exhaustive(eng, oracle, q):
    fast = eng.collapse_top_k(q, by="lang", k=10)
    slow = eng.collapse_top_k(q, by="lang", k=10, mode="exhaustive")
    want = collapse_top_k(oracle, q, by="lang", k=10)
    assert [(key, d) for key, d, _ in fast] == [(key, d)
                                                for key, d, _ in want], q
    assert [(key, d) for key, d, _ in slow] == [(key, d)
                                                for key, d, _ in want], q
    for (gk, gd, gs), (wk, wd, ws) in zip(fast, want):
        assert math.isclose(gs, ws, rel_tol=0, abs_tol=1e-12)
    assert 0 < len(fast) <= 10
    # collapsed: one row per key
    keys = [key for key, _d, _s in fast]
    assert len(keys) == len(set(keys))


def test_engine_collapse_by_unique_key_equals_topk(eng, q="zipfhead0"):
    col = eng.collapse_top_k(q, by="url", k=10)
    top = [(r["doc_id"], r["score"])
           for r in eng.wand_top_k_df(q, k=10).collect()]
    assert [(d, s) for _key, d, s in col] == top


def test_engine_collapse_rejects_unknown_mode(eng):
    with pytest.raises(ValueError):
        eng.collapse_top_k_df("x", mode="nope")
