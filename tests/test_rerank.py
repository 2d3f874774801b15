"""Injected cross-encoder rerank stage (operators/rerank.py, X116).

The production second stage over the reference's bi-encoder ranking
(``ml-model/app.py:59-90``): WAND retrieves top-N, an injected
``CrossEncoder.predict``-shaped callable rescores the (query, text)
pairs, the window re-sorts. These tests inject the deterministic fake
and pin: exact agreement with a plain-Python mirror of the same
two-stage computation, loader ≡ scorer, the first-stage-window bound,
shape-contract refusal, and the bucket-pruned text read (the stage must
never scan the whole doc_features table to decorate ≤ N hits).
"""

from __future__ import annotations

import numpy as np
import pytest

from semantic_search_engine_spark.config import EngineConfig
from semantic_search_engine_spark.operators.rerank import (
    deterministic_fake_cross_scorer,
    make_cross_scorer_udf,
)
from semantic_search_engine_spark.plans.query import QueryEngine

Q = "wireless bluetooth headphones"
FIRST_K = 30


@pytest.fixture(scope="module")
def rerank_built(spark, tiny_corpus_dir, tmp_path_factory):
    """Index built with the at-scale doc_features layout
    (partition_doc_features=True — the config large corpora run with),
    so the bucket-pruning plan assertion below exercises the layout the
    100-TB story depends on."""
    from semantic_search_engine_spark.plans.build_index import IndexBuilder
    from semantic_search_engine_spark.sources.store import HadoopTableStore

    cfg = EngineConfig(n_doc_buckets=8, n_term_buckets=8,
                       shuffle_partitions=8, block_size=32,
                       partition_doc_features=True)
    store = HadoopTableStore(spark,
                             str(tmp_path_factory.mktemp("rerank_wh")))
    docs = spark.read.parquet(f"{tiny_corpus_dir}/documents.parquet")
    IndexBuilder(spark, store, cfg).build(docs)
    return store, cfg


def _mirror(qe, store, scorer, query, k, first_k):
    """Plain-Python replay of the two-stage computation: engine
    first-stage top-first_k, texts straight off the stored table, the
    SAME callable scoring one pair at a time (exercising a different
    batch decomposition than the UDF's), resorted by
    (rerank DESC, doc_id ASC)."""
    first = qe.top_k(query, k=first_k)
    texts = {int(r["doc_id"]): r["text"] for r in
             store.read("doc_features").select("doc_id", "text")
             .collect()}
    scored = []
    for doc_id, bm25 in first:
        s = float(np.asarray(scorer([(query, texts[doc_id])]))[0])
        scored.append((doc_id, s, bm25))
    scored.sort(key=lambda h: (-h[1], h[0]))
    return scored[:k]


def test_rerank_matches_plain_python_mirror(spark, rerank_built):
    store, cfg = rerank_built
    qe = QueryEngine(spark, store, cfg)
    fake = deterministic_fake_cross_scorer()
    got = qe.rerank_top_k(Q, k=10, first_k=FIRST_K, scorer=fake)
    want = _mirror(qe, store, fake, Q, 10, FIRST_K)
    assert [(d, s) for d, s, _ in got] == \
        [(d, s) for d, s, _ in want]
    # the carried first-stage BM25 matches too
    assert [b for _, _, b in got] == pytest.approx(
        [b for _, _, b in want])


def test_rerank_loader_equals_scorer(spark, rerank_built):
    store, cfg = rerank_built
    qe = QueryEngine(spark, store, cfg)
    by_scorer = qe.rerank_top_k(
        Q, k=10, first_k=FIRST_K,
        scorer=deterministic_fake_cross_scorer())
    by_loader = qe.rerank_top_k(
        Q, k=10, first_k=FIRST_K,
        loader=lambda: deterministic_fake_cross_scorer())
    assert by_scorer == by_loader


def test_rerank_window_is_bounded_by_first_stage(spark, rerank_built):
    """Every reranked hit comes from the first-stage top-first_k set —
    the model can reorder the window, never admit docs from outside it."""
    store, cfg = rerank_built
    qe = QueryEngine(spark, store, cfg)
    first = {d for d, _ in qe.top_k(Q, k=FIRST_K)}
    got = qe.rerank_top_k(Q, k=10, first_k=FIRST_K,
                          scorer=deterministic_fake_cross_scorer())
    assert got and {d for d, _, _ in got} <= first


def test_rerank_actually_moves_ranks(spark, rerank_built):
    """Non-vacuity: the fake's token-coverage term must produce an order
    different from bare BM25 on this query window (else every test above
    would pass with a no-op stage)."""
    store, cfg = rerank_built
    qe = QueryEngine(spark, store, cfg)
    # head terms occur in most docs, so the window is genuinely full and
    # the trigram-cosine component reorders it (Q itself matches only a
    # couple of planted docs in the 200-doc tiny corpus)
    hq = "zipfhead0 zipfhead1"
    bm25_order = [d for d, _ in qe.top_k(hq, k=10)]
    rerank_order = [d for d, _, _ in qe.rerank_top_k(
        hq, k=10, first_k=FIRST_K,
        scorer=deterministic_fake_cross_scorer())]
    assert len(bm25_order) == 10
    assert rerank_order != bm25_order


def test_rerank_shape_contract_refusal(spark, rerank_built):
    store, cfg = rerank_built
    qe = QueryEngine(spark, store, cfg)

    def bad(pairs):
        return np.zeros((len(list(pairs)), 2))  # (n, 2), not (n,)

    with pytest.raises(Exception, match="expected"):
        qe.rerank_top_k(Q, k=5, first_k=10, scorer=bad)


def test_cross_scorer_udf_injection_contract():
    with pytest.raises(ValueError, match="exactly one"):
        make_cross_scorer_udf()
    with pytest.raises(ValueError, match="exactly one"):
        make_cross_scorer_udf(scorer=lambda p: [0.0],
                              loader=lambda: (lambda p: [0.0]))


def test_fake_cross_scorer_is_joint_not_factorizable():
    """The fake must behave like the model CLASS it stands in for: its
    score is a joint function of the pair. Coverage term: scoring the
    same text against a query whose tokens it contains beats the
    trigram-cosine alone."""
    fake = deterministic_fake_cross_scorer()
    t = "solar panel kit with charge controller"
    s_match = float(fake([("solar panel", t)])[0])
    s_other = float(fake([("quantum flux", t)])[0])
    assert s_match > s_other + 0.5  # coverage adds a full +1.0 vs +0.0


def test_rerank_text_read_is_bucket_pruned(spark, rerank_built):
    """The hydration that feeds the scorer must not scan the whole
    doc_features table: under the at-scale partitioned layout its
    partition_id read carries a literal ``partition_id IN (…)`` of
    exactly the ≤ first_k hits' buckets (static partition pruning; same
    discipline as test_wand.test_hydration_scan_is_partition_pruned for
    doc_meta)."""
    import re

    store, cfg = rerank_built
    qe = QueryEngine(spark, store, cfg)
    df = qe.rerank_top_k_df(Q, k=10, first_k=FIRST_K,
                            scorer=deterministic_fake_cross_scorer())
    assert df.collect()  # materialize so the assert isn't on a dead plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    hit_buckets = sorted({int(r["partition_id"]) for r in
                          qe._batch_wand_ranked([Q], k=FIRST_K).collect()})
    assert 0 < len(hit_buckets)
    i = plan.index("doc_features")
    seg = plan[plan.index("PartitionFilters: [", i):]
    seg = seg[:seg.index("]")]
    # Catalyst prints a one-value IN as ``partition_id = v``
    m = re.search(r"partition_id#\d+ (?:IN \(([^)]*)\)|= (-?\d+))", seg)
    assert m, seg
    assert sorted(int(x) for x in (m.group(1) or m.group(2)).split(",")) \
        == hit_buckets


def test_rerank_results_are_layout_independent(spark, rerank_built,
                                               tiny_corpus_dir,
                                               tmp_path_factory):
    """The default (unpartitioned doc_features) layout returns the
    identical reranked list — the partitioned layout is a pure
    performance choice, never a semantics one."""
    from semantic_search_engine_spark.plans.build_index import IndexBuilder
    from semantic_search_engine_spark.sources.store import HadoopTableStore

    store, cfg = rerank_built
    flat_cfg = EngineConfig(n_doc_buckets=8, n_term_buckets=8,
                            shuffle_partitions=8, block_size=32)
    flat_store = HadoopTableStore(
        spark, str(tmp_path_factory.mktemp("rerank_flat_wh")))
    docs = spark.read.parquet(f"{tiny_corpus_dir}/documents.parquet")
    IndexBuilder(spark, flat_store, flat_cfg).build(docs)
    fake = deterministic_fake_cross_scorer()
    a = QueryEngine(spark, store, cfg).rerank_top_k(
        Q, k=10, first_k=FIRST_K, scorer=fake)
    b = QueryEngine(spark, flat_store, flat_cfg).rerank_top_k(
        Q, k=10, first_k=FIRST_K, scorer=fake)
    assert a == b
