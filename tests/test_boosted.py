"""Static-rank blended retrieval (X56) — ``bm25 + w·static(doc)``, the
web-search serve shape. Pinned at three levels: the boosted WAND kernel
vs an exhaustive blended reference on random corpora (random priors),
the Spark fast path vs the exhaustive Spark path, and the rescore
window's convergence to exact.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from semantic_search_engine_spark.config import EngineConfig
from semantic_search_engine_spark.functions.varbyte import encode_blocks
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


def _exhaustive_boosted(term_postings, weights, doc_len, avgdl, static,
                        w_static, k):
    scores: dict[int, float] = {}
    for term in sorted(term_postings):
        if term not in weights:
            continue
        w = weights[term]
        ids, tfs = term_postings[term]
        for d, tf in zip(ids.astype(int), tfs.astype(int)):
            dl = float(doc_len[d])
            contrib = w * (tf / (tf + K1 * (1 - B + B * dl / avgdl)))
            # prior first, then contribs in sorted-term order — the
            # kernel's float accumulation order
            scores[d] = scores.get(d, w_static * float(static[d])) \
                + contrib
    hits = sorted(((d, s) for d, s in scores.items()),
                  key=lambda x: (-x[1], x[0]))
    return hits[:k]


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("w_static", [0.0, 0.7, 5.0])
def test_kernel_boosted_equals_exhaustive(seed, w_static):
    rng = np.random.default_rng(seed)
    blocks, weights, postings, dl, avgdl = _random_index(
        rng, n_docs=800, n_terms=5, density=0.15, block_size=32)
    static = rng.random(800)
    meta_ids = np.arange(800, dtype=np.int64)
    for k in (1, 5, 20):
        got, _ = wand_top_k(blocks, weights, k, K1, B, avgdl,
                            prior=(meta_ids, static, w_static))
        want = _exhaustive_boosted(postings, weights, dl, avgdl, static,
                                   w_static, k)
        assert got == want, (seed, w_static, k)


def test_kernel_boosted_zero_weight_is_plain_wand():
    rng = np.random.default_rng(7)
    blocks, weights, _p, _dl, avgdl = _random_index(
        rng, n_docs=600, n_terms=4, density=0.2, block_size=32)
    static = rng.random(600)
    got, _ = wand_top_k(blocks, weights, 10, K1, B, avgdl,
                        prior=(np.arange(600, dtype=np.int64), static, 0.0))
    plain, _ = wand_top_k(blocks, weights, 10, K1, B, avgdl)
    assert got == plain


def test_kernel_boosted_missing_meta_means_zero_prior():
    rng = np.random.default_rng(11)
    blocks, weights, _p, _dl, avgdl = _random_index(
        rng, n_docs=300, n_terms=3, density=0.3, block_size=16)
    got, _ = wand_top_k(blocks, weights, 10, K1, B, avgdl,
                        prior=(np.array([], dtype=np.int64),
                               np.array([], dtype=np.float64), 3.0))
    plain, _ = wand_top_k(blocks, weights, 10, K1, B, avgdl)
    assert got == plain  # empty slice: every prior 0, blend == bm25


def test_kernel_boosted_pruning_fires():
    rng = np.random.default_rng(13)
    blocks, weights, _p, _dl, avgdl = _random_index(
        rng, n_docs=5000, n_terms=5, density=0.3, block_size=32)
    static = rng.random(5000) * 0.01  # small priors: UBs stay tight
    _got, stats = wand_top_k(blocks, weights, 3, K1, B, avgdl,
                             prior=(np.arange(5000, dtype=np.int64),
                                    static, 0.5))
    assert stats["skipped_evals"] > 0, stats


# ---------------------------------------------------------------------------
# Spark engine: wand ≡ exhaustive; rescore converges; url_prior builtin
# ---------------------------------------------------------------------------

CFG = EngineConfig(n_doc_buckets=8, n_term_buckets=8, shuffle_partitions=8,
                   block_size=32)


@pytest.fixture(scope="module")
def eng(spark, tiny_corpus_dir, tmp_path_factory):
    from semantic_search_engine_spark.plans.build_index import IndexBuilder
    from semantic_search_engine_spark.plans.query import QueryEngine
    from semantic_search_engine_spark.sources.store import HadoopTableStore

    store = HadoopTableStore(spark, str(tmp_path_factory.mktemp("wh_boost")))
    docs = spark.read.parquet(f"{tiny_corpus_dir}/documents.parquet")
    IndexBuilder(spark, store, CFG).build(docs)
    return QueryEngine(spark, store, None)


@pytest.mark.parametrize("q", ["wireless bluetooth headphones",
                               "zipfhead0 zipfhead1"])
@pytest.mark.parametrize("static", ["url_prior", "doc_len"])
def test_engine_boosted_wand_matches_exhaustive(eng, q, static):
    w = 0.3 if static == "url_prior" else 0.001
    fast = eng.boosted_top_k(q, static=static, w_static=w, k=10)
    slow = eng.boosted_top_k(q, static=static, w_static=w, k=10,
                             mode="exhaustive")
    assert [d for d, _ in fast] == [d for d, _ in slow], (q, static)
    for (_, gs), (_, ws) in zip(fast, slow):
        assert math.isclose(gs, ws, rel_tol=0, abs_tol=1e-9)
    assert len(fast) > 0


def test_engine_boost_changes_order_vs_plain(eng):
    q = "zipfhead0 zipfhead1"
    plain = [d for d, _ in eng.boosted_top_k(q, w_static=0.0, k=10)]
    top = [(r["doc_id"], r["score"])
           for r in eng.wand_top_k_df(q, k=10).collect()]
    assert plain == [d for d, _ in top]  # w=0 ⇒ plain WAND ranks
    # url_prior can be constant on a synthetic corpus (uniform path
    # depth), and a constant prior must NOT reorder; doc_len varies, so
    # a heavy doc_len prior must
    boosted = [d for d, _ in eng.boosted_top_k(q, static="doc_len",
                                               w_static=1.0, k=10)]
    assert boosted != plain


def test_engine_rescore_converges_to_exact(eng):
    q = "wireless bluetooth headphones"
    exact = eng.boosted_top_k(q, w_static=0.5, k=10)
    n = eng.corpus_stats()["n_docs"]
    wide = eng.boosted_top_k(q, w_static=0.5, k=10, mode="rescore",
                             window=int(n))
    assert [d for d, _ in wide] == [d for d, _ in exact]
    for (_, gs), (_, ws) in zip(wide, exact):
        assert math.isclose(gs, ws, rel_tol=0, abs_tol=1e-9)
    # narrow window on a high-match query: k rows, sorted
    narrow = eng.boosted_top_k("zipfhead0", w_static=0.5, k=5,
                               mode="rescore")
    assert len(narrow) == 5
    scores = [s for _, s in narrow]
    assert scores == sorted(scores, reverse=True)


def test_engine_boosted_rejects_bad_args(eng):
    with pytest.raises(ValueError, match="w_static"):
        eng.boosted_top_k_df("x", w_static=-1.0)
    with pytest.raises(ValueError, match="unknown boosted mode"):
        eng.boosted_top_k_df("x", mode="nope")
    with pytest.raises(ValueError, match="static prior"):
        eng.boosted_top_k_df("x", static="no_such_col")


def test_url_prior_expression(eng, spark):
    rows = (eng.store.read("doc_meta")
            .select("url", eng.static_prior_col("url_prior")
                    .alias("prior")).collect())
    for r in rows:
        path = r["url"].split("://", 1)[-1].split("/", 1)
        depth = (len([seg for seg in path[1].split("/") if seg])
                 if len(path) > 1 else 0)
        assert math.isclose(r["prior"], 1.0 / (1.0 + depth),
                            abs_tol=1e-12), r["url"]
        assert 0.0 < r["prior"] <= 1.0
