"""Block-max WAND (E10) correctness + pruning evidence (FIXTURES.md §4.5).

Property layer: WAND over compressed blocks must equal exhaustive scoring
on randomized corpora (the reference has no property tests — SURVEY.md §5.1
"Not present"; we add them). Spark layer: `QueryEngine.top_k(mode="wand")`
must be rank-identical to the oracle and to the exhaustive Spark path.
"""

from __future__ import annotations

import heapq
import math
import re
import uuid

import numpy as np
import pytest

from semantic_search_engine_spark.functions.varbyte import encode_blocks
from semantic_search_engine_spark.plans.wand import wand_top_k

K1, B = 1.2, 0.75


def _random_index(rng, n_docs, n_terms, density, block_size):
    """Random corpus → (term_blocks, weights, exhaustive scorer inputs)."""
    avgdl = 0.0
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
    weights = {t: float(rng.uniform(0.1, 3.0))
               for t in term_postings}
    return term_blocks, weights, term_postings, doc_len, avgdl


def _exhaustive_top_k(term_postings, weights, doc_len, avgdl, k):
    scores: dict[int, float] = {}
    for term in sorted(term_postings):  # same summation order as WAND/oracle
        if term not in weights:
            continue
        w = weights[term]
        ids, tfs = term_postings[term]
        for d, tf in zip(ids.astype(int), tfs.astype(int)):
            dl = float(doc_len[d])
            # w * (tf/(tf+K)) — the oracle's parenthesization (bit-exact)
            contrib = w * (tf / (tf + K1 * (1 - B + B * dl / avgdl)))
            scores[d] = scores.get(d, 0.0) + contrib
    ranked = sorted(scores.items(), key=lambda x: (-x[1], x[0]))
    return ranked[:k]


@pytest.mark.parametrize("seed", range(8))
@pytest.mark.parametrize("block_size", [4, 32])
def test_wand_equals_exhaustive_random(seed, block_size):
    rng = np.random.Generator(np.random.PCG64(seed))
    n_docs = int(rng.integers(50, 800))
    term_blocks, weights, postings, doc_len, avgdl = _random_index(
        rng, n_docs, n_terms=int(rng.integers(2, 6)), density=0.2,
        block_size=block_size)
    k = int(rng.integers(1, 25))
    got, stats = wand_top_k(term_blocks, weights, k, K1, B, avgdl)
    expected = _exhaustive_top_k(postings, weights, doc_len, avgdl, k)
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (gd, gs), (ed, es) in zip(got, expected):
        assert math.isclose(gs, es, rel_tol=0, abs_tol=1e-12), (gd, ed)


def test_wand_exact_float_identity_with_sorted_term_sum():
    """Scores must be bit-identical to sorted-term-order accumulation."""
    rng = np.random.Generator(np.random.PCG64(7))
    term_blocks, weights, postings, doc_len, avgdl = _random_index(
        rng, 300, n_terms=4, density=0.5, block_size=8)
    got, _ = wand_top_k(term_blocks, weights, 10, K1, B, avgdl)
    expected = _exhaustive_top_k(postings, weights, doc_len, avgdl, 10)
    assert [s for _, s in got] == [s for _, s in expected]  # == on floats


def test_wand_ties_break_by_doc_id():
    """Identical docs → identical scores; top-k must pick the smallest ids."""
    n, bs = 64, 4
    ids = np.arange(n, dtype=np.uint64)
    tfs = np.full(n, 3, dtype=np.uint64)
    dls = np.full(n, 50, dtype=np.uint64)
    blocks = {"t": encode_blocks(ids, tfs, dls, 50.0, K1, B, bs)}
    got, _ = wand_top_k(blocks, {"t": 1.5}, 10, K1, B, 50.0)
    assert [d for d, _ in got] == list(range(10))
    assert len({s for _, s in got}) == 1


def test_wand_prunes_blocks_on_selective_query():
    """A rare term AND a stopword: WAND must not decode most stopword
    blocks — the lagging cursor fence-hops to the rare term's candidates."""
    rng = np.random.Generator(np.random.PCG64(3))
    n_docs = 100_000
    doc_len = rng.integers(20, 200, size=n_docs)
    avgdl = float(doc_len.mean())
    stop_ids = np.arange(0, n_docs, 2, dtype=np.uint64)       # df = 50k
    rare_ids = np.array([10, 40_000, 99_990], dtype=np.uint64)
    mk = lambda ids: encode_blocks(
        ids, rng.integers(1, 5, size=ids.size).astype(np.uint64),
        doc_len[ids.astype(np.int64)].astype(np.uint64),
        avgdl, K1, B, 128)
    term_blocks = {"stop": mk(stop_ids), "rare": mk(rare_ids)}
    # idf-like weights: rare term dominates
    weights = {"stop": 0.05, "rare": 8.0}
    got, stats = wand_top_k(term_blocks, weights, 3, K1, B, avgdl)
    assert {d for d, _ in got} <= {10, 40_000, 99_990, 11, 41, 9}  # rare docs win
    assert stats["total_blocks"] > 350
    # decisive: vast majority of the stopword's blocks were never decoded
    assert stats["decoded_blocks"] < stats["total_blocks"] * 0.15, stats


@pytest.mark.parametrize("seed", range(6))
def test_wand_min_score_seeded_theta_exact(seed):
    """A min_score threshold must give exactly the exhaustive
    filter-then-top-k result (inclusive >=), across thresholds placed
    below, inside, and above the score distribution."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n_docs = int(rng.integers(100, 600))
    term_blocks, weights, postings, doc_len, avgdl = _random_index(
        rng, n_docs, n_terms=4, density=0.3, block_size=8)
    full = _exhaustive_top_k(postings, weights, doc_len, avgdl, n_docs)
    if not full:
        return
    scores = [s for _, s in full]
    mid = scores[len(scores) // 2]
    for thr in [scores[-1] / 2, mid, scores[0], scores[0] * 1.5]:
        got, _ = wand_top_k(term_blocks, weights, 10, K1, B, avgdl,
                            min_score=thr)
        expected = [(d, s) for d, s in full if s >= thr][:10]
        assert got == expected, thr
    # threshold == an exact achieved score must be INCLUSIVE: the doc
    # scoring exactly `mid` is in the exhaustive >= mid list, and the
    # thr=mid loop above already asserted WAND returns that exact list


def test_wand_min_score_strengthens_pruning():
    """Seeding theta with the threshold must PRUNE MORE, not fall back to
    exhaustive: fewer evaluations, more block-max skips, same results."""
    rng = np.random.Generator(np.random.PCG64(11))
    term_blocks, weights, postings, doc_len, avgdl = _random_index(
        rng, 5000, n_terms=3, density=0.4, block_size=16)
    full = _exhaustive_top_k(postings, weights, doc_len, avgdl, 5000)
    # threshold passes only 5 docs but k=10: the heap NEVER fills, so an
    # unseeded run keeps theta at -inf and evaluates every candidate,
    # while the seeded theta prunes from the first block
    thr = full[4][1]
    k = 10
    base_hits, base_stats = wand_top_k(term_blocks, weights, k, K1, B,
                                       avgdl)
    thr_hits, thr_stats = wand_top_k(term_blocks, weights, k, K1, B,
                                     avgdl, min_score=thr)
    assert thr_hits == [(d, s) for d, s in full if s >= thr][:k]
    assert thr_stats["skipped_evals"] > 0
    assert thr_stats["evaluated_docs"] < base_stats["evaluated_docs"]


def test_wand_empty_and_missing_terms():
    got, stats = wand_top_k({}, {}, 10, K1, B, 100.0)
    assert got == []
    rng = np.random.Generator(np.random.PCG64(1))
    tb, w, *_ = _random_index(rng, 100, 2, 0.3, 8)
    got, _ = wand_top_k(tb, {}, 10, K1, B, 100.0)  # no weighted terms
    assert got == []


def _bucketed_table(rng, n_buckets, block_size):
    """A random index split into doc-range buckets, as the postings
    table holds it: one Arrow row per block plus each term's df. Term
    t00 is dense; t05 lives in one bucket only; t06 has no idf (absent
    from term_stats) although it has blocks."""
    import pyarrow as pa

    from semantic_search_engine_spark.textproc import doc_bucket

    n_docs = int(rng.integers(100, 700))
    doc_ids = np.unique(rng.integers(0, 1 << 60, size=n_docs,
                                     dtype=np.uint64))
    doc_len = dict(zip(doc_ids.tolist(), rng.integers(3, 150,
                                                      size=len(doc_ids))))
    avgdl = float(np.mean(list(doc_len.values())))
    pids = np.array([doc_bucket(int(d), n_buckets) for d in doc_ids])
    rows, df = [], {}
    for t in range(7):
        mask = rng.random(len(doc_ids)) < (0.6 if t == 0 else 0.15)
        if t == 5:
            mask &= pids == pids[len(pids) // 2]
        df[f"t{t:02d}"] = int(mask.sum())
        for p in sorted(set(pids[mask].tolist())):
            ids = doc_ids[mask & (pids == p)]
            tfs = rng.integers(1, 9, size=len(ids)).astype(np.uint64)
            dls = np.array([doc_len[int(d)] for d in ids], dtype=np.uint64)
            for blk in encode_blocks(ids, tfs, dls, avgdl, K1, B,
                                     block_size):
                rows.append({"term": f"t{t:02d}", "partition_id": p, **blk})
    del df["t06"]
    cols = ["term", "partition_id", "block_id", "last_doc_id",
            "block_max_tf_norm", "doc_ids_vb", "tfs_vb", "dls_vb"]
    table = pa.table({c: [r[c] for r in rows] for c in cols})
    return table, df, len(doc_ids), avgdl, doc_ids.astype(np.int64)


@pytest.mark.parametrize("seed", range(6))
@pytest.mark.parametrize("variant", ["plain", "min_score", "after",
                                     "min_match2", "min_match3", "boosts",
                                     "allowed_empty", "allowed_partial",
                                     "allowed_full"])
def test_dense_batch_kernel_bit_identical_to_bucket_wand(seed, variant):
    """The batch kernel (one vectorized pass over a whole task's table)
    returns, for every query and k in {0, 1, 5, 20}, exactly the
    per-bucket wand_top_k results merged by (score DESC, doc_id ASC):
    the same docs, buckets and float scores, under each kernel option
    the batch core forwards. The single-query options the batch kernel
    does not take are checked against its exhaustive ranking: boosts
    fold into its idf (``boost * idf``, the same float), and
    ``min_score``/``after`` filter its full ranking before the cut."""
    import pyarrow as pa

    from semantic_search_engine_spark.plans.wand import (
        bm25_idf,
        bucket_blocks,
        make_dense_ranker,
    )

    rng = np.random.Generator(np.random.PCG64(seed))
    table, df, n_docs, avgdl, doc_ids = _bucketed_table(
        rng, n_buckets=int(rng.integers(1, 9)),
        block_size=int(rng.choice([2, 8])))
    idf = {t: bm25_idf(n_docs, d) for t, d in df.items()}
    queries = {(0,): ["t00"], (1, 7): ["t00", "t01", "t02"],
               (2,): ["t01", "t05"], (3,): ["t05"],
               (4,): ["t02", "t03", "t04", "t06"], (5,): ["t06"],
               (6,): ["t00", "t03", "t05"]}
    with_df = table.append_column("df", pa.array(
        [df.get(t, 0) for t in table.column("term").to_pylist()]))

    def bucket_wand(terms, k, boosts=None, **kw):
        """Per-bucket wand_top_k, merged by (score DESC, doc_id ASC)."""
        hits = []
        for p, by_term, _ in bucket_blocks(with_df, n_docs):
            weights = {t: (boosts.get(t, 1.0) * idf[t] if boosts
                           else idf[t])
                       for t in terms if t in by_term and t in idf}
            if weights:
                hits += [(p, d, s) for d, s in wand_top_k(
                    {t: by_term[t] for t in weights}, weights, k, K1, B,
                    avgdl, **kw)[0]]
        return sorted(hits, key=lambda h: (-h[2], h[1]))[:k]

    # the ranking of query (1, 7) places min_score and after mid-list
    ref = bucket_wand(queries[(1, 7)], n_docs)
    kw, boosts = {}, None
    if variant == "min_score":
        kw["min_score"] = ref[len(ref) // 3][2]
    elif variant == "after":
        kw["after"] = (ref[len(ref) // 4][2], ref[len(ref) // 4][1])
    elif variant.startswith("min_match"):
        kw["min_match"] = int(variant[-1])
    elif variant == "boosts":  # t03^0: its docs score 0.0 from it
        boosts = {"t00": 0.5, "t03": 0.0, "t05": 2.5}
    elif variant == "allowed_empty":
        kw["allowed"] = np.zeros(0, dtype=np.int64)
    elif variant == "allowed_partial":
        kw["allowed"] = np.sort(rng.choice(doc_ids, size=len(doc_ids) // 3,
                                           replace=False))
    elif variant == "allowed_full":
        kw["allowed"] = doc_ids
    allowed = kw.pop("allowed", None)
    min_score, after = kw.pop("min_score", 0.0), kw.pop("after", None)
    dense_idf = ({t: boosts.get(t, 1.0) * w for t, w in idf.items()}
                 if boosts else idf)

    def passes(d, s):
        return s >= min_score and (after is None or s < after[0] or (
            s == after[0] and d > after[1]))

    for k in (0, 1, 5, 20):
        got = make_dense_ranker(queries, n_docs if (min_score or after)
                                else k, K1, B, avgdl, dense_idf,
                                **kw)(table, allowed)
        for qids, terms in queries.items():
            want = bucket_wand(terms, k, boosts, allowed=allowed,
                               min_score=min_score, after=after, **kw)
            for qid in qids:
                assert [(p, d, s) for q, p, d, s, _ in got
                        if q == qid and passes(d, s)][:k] \
                    == want, (variant, k, qid, terms)
        if k == 20 and variant in ("plain", "boosts"):
            assert any(q == 3 for q, *_ in got)  # the one-bucket term


# ---------------------------------------------------------------------------
# Spark layer
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def wand_built(spark, tiny_corpus_dir, tmp_path_factory):
    from semantic_search_engine_spark.config import EngineConfig
    from semantic_search_engine_spark.plans.build_index import IndexBuilder
    from semantic_search_engine_spark.sources.store import HadoopTableStore

    cfg = EngineConfig(n_doc_buckets=8, n_term_buckets=8,
                       shuffle_partitions=8, block_size=32)
    store = HadoopTableStore(spark, str(tmp_path_factory.mktemp("wand_wh")))
    docs = spark.read.parquet(f"{tiny_corpus_dir}/documents.parquet")
    IndexBuilder(spark, store, cfg).build(docs)
    return store, cfg


def test_spark_wand_rank_identical_to_oracle(spark, wand_built, tiny_rows):
    from semantic_search_engine_spark.corpus import QUERY_CORPUS
    from semantic_search_engine_spark.oracle import OracleIndex
    from semantic_search_engine_spark.plans.query import QueryEngine

    store, cfg = wand_built
    oracle = OracleIndex.build(tiny_rows, cfg)
    qe = QueryEngine(spark, store, cfg)
    for pq in QUERY_CORPUS:
        expected = oracle.top_k(pq.query, k=10)
        got = qe.top_k(pq.query, k=10, mode="wand")
        assert [d for d, _ in got] == [d for d, _ in expected], pq.query
        for (gd, gs), (ed, es) in zip(got, expected):
            assert math.isclose(gs, es, abs_tol=1e-6), (pq.query, gd)


def test_spark_wand_equals_exhaustive_path(spark, wand_built):
    from semantic_search_engine_spark.plans.query import QueryEngine

    store, cfg = wand_built
    qe = QueryEngine(spark, store, cfg)
    for q in ["zipfhead0 zipfhead1", "wireless bluetooth headphones",
              "raretermxq zipfhead0"]:
        wand = qe.top_k(q, k=25, mode="wand")
        exh = qe.top_k(q, k=25, mode="exhaustive")
        assert [d for d, _ in wand] == [d for d, _ in exh], q
        for (wd, ws), (ed, es) in zip(wand, exh):
            assert math.isclose(ws, es, abs_tol=1e-9), (q, wd)


def test_spark_filtered_wand_matches_oracle(spark, wand_built, tiny_rows):
    """E10+E11: structured filters pushed into the WAND cogroup path must
    reproduce the oracle's filtered ranking exactly."""
    import datetime as dt
    from semantic_search_engine_spark.oracle import OracleIndex
    from semantic_search_engine_spark.plans.query import QueryEngine

    store, cfg = wand_built
    oracle = OracleIndex.build(tiny_rows, cfg)
    qe = QueryEngine(spark, store, cfg)

    for q, kwargs in [
        ("wireless bluetooth headphones", dict(lang="en")),
        ("zipfhead0 zipfhead1", dict(lang="de")),
        ("zipfhead0 zipfhead1",
         dict(warc_ts_min=dt.datetime(2025, 1, 1, 1, 0))),
        ("zipfhead0", dict(lang="en",
                           warc_ts_max=dt.datetime(2025, 1, 1, 2, 0))),
    ]:
        got = qe.wand_top_k_df(q, k=10, **kwargs).collect()
        exp = oracle.search(q, k=10, **kwargs)["results"]
        assert [r["doc_id"] for r in got] == [h["doc_id"] for h in exp], \
            (q, kwargs)
        for g, e in zip(got, exp):
            assert math.isclose(g["score"], e["score"], abs_tol=1e-6)


def test_search_fast_path_filtered_pagination(spark, wand_built, tiny_rows):
    """search() count_mode='none' routes through filtered WAND; pagination
    and result envelope must match the oracle page-for-page."""
    from semantic_search_engine_spark.oracle import OracleIndex
    from semantic_search_engine_spark.plans.query import QueryEngine

    store, cfg = wand_built
    oracle = OracleIndex.build(tiny_rows, cfg)
    qe = QueryEngine(spark, store, cfg)
    for offset in (0, 5):
        s = qe.search("zipfhead0 zipfhead1", k=10, offset=offset,
                      lang="en", count_mode="none")
        o = oracle.search("zipfhead0 zipfhead1", k=10, offset=offset,
                          lang="en")
        assert [h["doc_id"] for h in s["results"]] == \
            [h["doc_id"] for h in o["results"]], offset
        assert {"url", "warc_ts", "lang", "doc_len"} <= \
            set(s["results"][0].keys())


def test_k_zero_and_bare_fast_path(spark, wand_built, collected_plans):
    """Regression (code review): k=0 must return an empty envelope, not an
    IndexError inside the WAND heap; bare fast-path queries must not touch
    doc_meta, and a filtered one reads only the doc_meta buckets that
    hold its postings."""
    from pyspark.sql import functions as F

    from semantic_search_engine_spark.plans.query import QueryEngine

    store, cfg = wand_built
    qe = QueryEngine(spark, store, cfg)
    got, stats = __import__(
        "semantic_search_engine_spark.plans.wand", fromlist=["wand_top_k"]
    ).wand_top_k({}, {}, 0, 1.2, 0.75, 100.0)
    assert got == []
    r = qe.search("zipfhead0", k=0, count_mode="none")
    assert r["results"] == [] and r["total_count"] == 0
    # bare query plan must not reference doc_meta (no full-table cogroup)
    plan = qe.wand_top_k_df("zipfhead0", k=5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "doc_meta" not in plan
    assert "FlatMapCoGroupsInPandas" not in plan
    # a filtered query reads its filter survivors with a literal
    # partition_id IN (…) of exactly the buckets of its postings
    q = "raretermxq"
    posting_buckets = sorted(
        r[0] for r in store.read("postings").filter(F.col("term") == q)
        .select("partition_id").distinct().collect())
    assert 0 < len(posting_buckets) < cfg.n_doc_buckets
    collected_plans.clear()
    assert qe.wand_top_k_df(q, k=5, lang="en").collect()
    meta_plans = [p for p in collected_plans if "doc_meta" in p]
    assert len(meta_plans) == 1, collected_plans
    assert _literal_in(meta_plans[0], "PartitionFilters",
                       "partition_id") == posting_buckets, meta_plans[0]


def test_batch_top_k_rank_identical_to_per_query(spark, wand_built):
    """Multi-query batch WAND (one job for N queries) must be bit-identical
    per query to the single-query path, including absent-term and
    empty-string queries (which map to [])."""
    from semantic_search_engine_spark.corpus import QUERY_CORPUS
    from semantic_search_engine_spark.plans.query import QueryEngine

    store, cfg = wand_built
    qe = QueryEngine(spark, store, cfg)
    queries = [pq.query for pq in QUERY_CORPUS] + ["absentterm9z", ""]
    batch = qe.batch_top_k(queries, k=10)
    assert set(batch) == set(queries)
    assert batch["absentterm9z"] == []
    assert batch[""] == []
    for q in queries:
        single = qe.top_k(q, k=10, mode="wand")
        assert batch[q] == single, q  # exact float identity, not approx


def test_batch_filtered_matches_single_filtered(spark, wand_built):
    """Batch WAND with a shared structured filter must equal the
    single-query filtered fast path per query."""
    from semantic_search_engine_spark.plans.query import QueryEngine

    store, cfg = wand_built
    qe = QueryEngine(spark, store, cfg)
    queries = ["wireless bluetooth headphones", "zipfhead0 zipfhead1",
               "absentterm9z"]
    batch = qe.batch_wand_top_k_df(queries, k=10, lang="en").collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(int(r["query_id"]), []).append(
            (int(r["doc_id"]), float(r["score"])))
    for qi, q in enumerate(queries):
        got = sorted(by_q.get(qi, []), key=lambda h: (-h[1], h[0]))
        want = [(int(r["doc_id"]), float(r["score"]))
                for r in qe.wand_top_k_df(q, k=10, lang="en")
                .collect()]
        assert got == want, q


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_term_scan_pruned(plan: str) -> None:
    # partition pruning on the postings layout column
    assert "PartitionFilters" in plan
    seg = plan[plan.index("PartitionFilters"):]
    assert "term_bucket" in seg[:400], seg[:400]
    # term pushdown reaching the parquet scan
    assert "PushedFilters" in plan
    pushed = plan[plan.index("PushedFilters"):]
    assert "term" in pushed[:300], pushed[:300]


def test_query_scan_pruning_reaches_physical_plan(spark, wand_built):
    """The pruning the scale design depends on must be visible in the
    physical plan: the postings scan carries (a) a PartitionFilters entry
    on term_bucket (partition pruning from constant-folded bucket
    literals) and (b) a PushedFilters term IN (...) (parquet row-group
    skipping) — both in a 2-query batch plan and in the scan the
    single-query driver path collects. Regression guard for SCALE.md
    §4."""
    from semantic_search_engine_spark.plans.query import QueryEngine

    store, cfg = wand_built
    qe = QueryEngine(spark, store, cfg)
    _assert_term_scan_pruned(_plan(qe.batch_wand_top_k_df(
        ["wireless bluetooth", "gaming laptop"], k=5)))
    _assert_term_scan_pruned(_plan(qe._driver_wand_scan(
        ["bluetooth", "wireless"])))


def test_python_term_bucket_equals_spark_expression(spark, wand_built):
    """The query-side bucket literal, computed in Python, equals the
    build-side ``term_bucket_expr`` (Spark's pmod(xxhash64(term), n))
    for every term of the built vocabulary, for non-ASCII terms, and for
    terms of 32 bytes or more (XXH64's 4-lane long-input branch), at
    the index's bucket count and a few others."""
    from semantic_search_engine_spark.functions.udfs import (
        term_bucket_expr,
        term_bucket_lit,
    )

    store, cfg = wand_built
    vocab = [r[0] for r in store.read("term_stats").select("term").collect()]
    extra = ["café", "naïve", "日本語", "straße", "ß" * 16, "x" * 31,
             "y" * 32, "z" * 33, "w" * 64 + "é", "long" * 20]
    terms = vocab + extra
    assert len(vocab) > 100 and any(len(t.encode()) >= 32 for t in extra)
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    for n in sorted({cfg.n_term_buckets, 1, 7, 64}):
        want = dict(df.select("term", term_bucket_expr("term", n)
                              .alias("b")).collect())
        got = {t: term_bucket_lit(t, n) for t in terms}
        assert got == want, n
        assert all(type(b) is int for b in got.values())
    # and the stored layout agrees with the literal on the real table
    stored = dict(store.read("term_stats").select("term", "term_bucket")
                  .collect())
    assert stored == {t: term_bucket_lit(t, cfg.n_term_buckets)
                      for t in vocab}


def test_single_query_plan_has_no_window_exchange(spark, wand_built):
    """The N=1 serve path must NOT pay the batch engine's per-query
    row_number window (VERDICT r2: the batch-of-1 scaffold added an
    exchange + stage single queries never needed) — nor any exchange or
    Python stage: it is ranked on the driver and comes back as a bare
    LocalTableScan, whose collect runs no job."""
    from semantic_search_engine_spark.plans.query import QueryEngine

    store, cfg = wand_built
    qe = QueryEngine(spark, store, cfg)
    single = qe._batch_wand_ranked(["wireless bluetooth"], k=10)
    plan = _plan(single)
    assert plan.startswith("LocalTableScan"), plan
    assert len(plan.strip().splitlines()) == 1, plan
    for node in ("Window", "Exchange", "Python"):
        assert node not in plan, (node, plan)
    sc = spark.sparkContext
    gid = f"n1-collect-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "n=1 collect")
    try:
        assert single.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(gid)) == []
    # N>1 distinct term sets still use the per-query window
    plan2 = _plan(qe._batch_wand_ranked(["wireless bluetooth", "gaming"],
                                        k=10))
    assert "Window" in plan2


def _literal_in(plan: str, section: str, col: str) -> list[int]:
    """The integer literals of ``col IN (…)`` inside a scan's
    ``section`` (e.g. ``PartitionFilters: [...]``) of a plan string
    (Catalyst prints a one-value IN as ``col = v``)."""
    seg = plan[plan.index(f"{section}: ["):]
    seg = seg[:seg.index("]")]
    m = re.search(rf"{col}#\d+L? (?:IN \(([^)]*)\)|= (-?\d+))", seg)
    assert m, seg
    return sorted(int(x) for x in (m.group(1) or m.group(2)).split(","))


def test_hydration_scan_is_partition_pruned(spark, wand_built):
    """Result hydration must not scan the whole doc_meta table: the
    ≤ k hits are collected and the doc_meta read carries a literal
    ``partition_id IN (…)`` of exactly the hit buckets (static partition
    pruning on the partitioned metadata layout; dynamic pruning never
    fires on the driver path's LocalTableScan hit frame) — for a local
    top and for a filtered top (VERDICT r2 #4 done-criterion)."""
    from semantic_search_engine_spark.plans.query import QueryEngine

    store, cfg = wand_built
    qe = QueryEngine(spark, store, cfg)
    for lang in (None, "en"):
        top = (qe._batch_wand_ranked(["wireless bluetooth"], k=10,
                                     lang=lang)
               .select("partition_id", "doc_id", "score"))
        hits = [tuple(r) for r in top.collect()]
        assert hits, lang
        rows = qe._hydrate_hits(top.toArrow())
        # every hit decorated, in (score DESC, doc_id ASC) order
        assert [(r["doc_id"], r["score"]) for r in rows] == sorted(
            [(d, s) for _, d, s in hits], key=lambda h: (-h[1], h[0]))
        assert rows[0]["url"]
        plan = _plan(qe._hits_meta_df(hits))
        assert "doc_meta" in plan, plan
        assert _literal_in(plan, "PartitionFilters", "partition_id") == \
            sorted({p for p, _, _ in hits}), (lang, plan)
        pushed = plan[plan.index("PushedFilters"):]
        assert "doc_id" in pushed[:300], pushed[:300]


def test_batch_top_k_scales_to_hundred_queries(spark, wand_built):
    """A 100-query batch (the offline-retrieval shape) completes in one
    job with every sampled query rank-identical to its single-query run
    and the closure still broadcast-sized."""
    from semantic_search_engine_spark.corpus import QUERY_CORPUS
    from semantic_search_engine_spark.plans.query import QueryEngine

    store, cfg = wand_built
    qe = QueryEngine(spark, store, cfg)
    seed_qs = [pq.query for pq in QUERY_CORPUS]
    queries = [f"{seed_qs[i % len(seed_qs)]} zipfhead{i % 7}"
               for i in range(100)]
    batch = qe.batch_top_k(queries, k=5)
    assert len(batch) == len(set(queries))
    for q in [queries[0], queries[13], queries[57], queries[99]]:
        assert batch[q] == qe.top_k(q, k=5, mode="wand"), q
    assert any(batch[q] for q in queries)  # non-degenerate


# ---------------------------------------------------------------------------
# Batch runner: one Python call per task over many buckets
# ---------------------------------------------------------------------------

BATCH_QUERIES = ["zipfhead0 zipfhead1", "wireless bluetooth headphones",
                 "raretermxq zipfhead0", "raretermxq", "zipfhead2 zipfhead3",
                 "gaming laptop", "zipfhead1 zipfhead4 smartphone",
                 "absentterm9z mechanical keyboard", "zipfhead0"]


@pytest.fixture(scope="module")
def wand32(spark, tiny_corpus_dir, tiny_rows, tmp_path_factory):
    """A 32-bucket index: more buckets than tasks, so every WAND task
    splits several buckets in-process, and rare terms sit in few of
    them."""
    from semantic_search_engine_spark.config import EngineConfig
    from semantic_search_engine_spark.oracle import OracleIndex
    from semantic_search_engine_spark.plans.build_index import IndexBuilder
    from semantic_search_engine_spark.plans.query import QueryEngine
    from semantic_search_engine_spark.sources.store import HadoopTableStore

    cfg = EngineConfig(n_doc_buckets=32, n_term_buckets=8,
                       shuffle_partitions=8, block_size=8)
    store = HadoopTableStore(spark, str(tmp_path_factory.mktemp("wand32")))
    docs = spark.read.parquet(f"{tiny_corpus_dir}/documents.parquet")
    IndexBuilder(spark, store, cfg).build(docs)
    return QueryEngine(spark, store, cfg), OracleIndex.build(tiny_rows, cfg)


def _ranked_by_query(df, n: int) -> list[list[tuple[int, float]]]:
    by_q: list[list] = [[] for _ in range(n)]
    for r in df.collect():
        by_q[int(r["query_id"])].append((int(r["doc_id"]),
                                         float(r["score"])))
    return [sorted(h, key=lambda x: (-x[1], x[0])) for h in by_q]


def _oracle_ranked(oracle, cfg, q, k, min_score=0.0, after=None,
                   term_boosts=None, min_match=1, lang=None):
    from semantic_search_engine_spark.oracle import boosted_top_k
    from semantic_search_engine_spark.textproc import tokenize

    if lang is not None:
        full = [(h["doc_id"], h["score"]) for h in
                oracle.search(q, k=k, lang=lang)["results"]]
    elif min_match > 1:
        full = oracle.top_k(q, k=k, min_match=min_match)
    else:  # the whole ranking: OracleIndex.search clamps k to max_k
        terms = tokenize(q, cfg.max_token_len, cfg.min_token_len,
                         cfg.analyzer)
        full = boosted_top_k(oracle, terms, term_boosts or {},
                             k=oracle.n_docs)
    full = [(d, s) for d, s in full if s >= min_score]
    if after is not None:
        full = [(d, s) for d, s in full
                if s < after[0] or (s == after[0] and d > after[1])]
    return full[:k]


VARIANTS = ["plain", "min_score", "after", "term_boosts", "min_match"]
#: the kernel options a batch of several term sets takes
BATCH_VARIANTS = ["plain", "min_match"]


def _variant_kw(oracle, variant: str, k: int) -> dict:
    """The kernel options each bit-identity test runs under."""
    top0 = oracle.top_k(BATCH_QUERIES[0], k=k)
    return {"plain": {},
            "min_score": {"min_score": top0[4][1]},
            "after": {"after": (top0[2][1], top0[2][0])},
            "term_boosts": {"term_boosts": {"bluetooth": 2.0,
                                            "zipfhead0": 0.5,
                                            "zipfhead3": 1.5}},
            "min_match": {"min_match": 2},
            "lang": {"lang": "en"},
            # 4 of 200 docs: most posting buckets hold no survivor
            "lang_sparse": {"lang": "de"}}[variant]


@pytest.mark.parametrize("variant", BATCH_VARIANTS)
def test_batch_runner_bit_identical_to_single_and_oracle(spark, wand32,
                                                         variant):
    """The per-task Arrow runner (each task sorts its rows once and
    splits ~32/tasks buckets in-process) returns, for every query of a
    batch larger than the task count, exactly the single-query result
    and the oracle's ranking — ids and float scores — under each kernel
    option the batch core forwards."""
    from pyspark.sql import functions as F

    qe, oracle = wand32
    cfg, k = qe.cfg, 10
    assert len(BATCH_QUERIES) >= spark.sparkContext.defaultParallelism
    # a query term absent from most buckets: a task meets buckets in
    # which some queries have no cursor at all
    rare_buckets = (qe.store.read("postings")
                    .filter(F.col("term") == "raretermxq")
                    .select("partition_id").distinct().count())
    assert 0 < rare_buckets < cfg.n_doc_buckets

    kw = _variant_kw(oracle, variant, k)
    batch = _ranked_by_query(qe._batch_wand_ranked(BATCH_QUERIES, k=k, **kw),
                             len(BATCH_QUERIES))
    assert any(batch) and not all(batch[i] for i in range(len(batch)))
    for i, q in enumerate(BATCH_QUERIES):
        single = _ranked_by_query(qe._batch_wand_ranked([q], k=k, **kw), 1)
        assert batch[i] == single[0], (variant, q)
        assert batch[i] == _oracle_ranked(oracle, cfg, q, k, **kw), \
            (variant, q)


@pytest.mark.parametrize("variant", VARIANTS + ["lang", "lang_sparse"])
def test_driver_path_bit_identical_to_batch_and_oracle(spark, wand32,
                                                       variant):
    """A single query is ranked on the driver (its result is a
    LocalTableScan). On the 32-bucket index it equals — ids and float
    scores — the oracle under each kernel option, and, under each
    option a batch takes, its own row of a 2-query batch, whose ranking
    stage runs in Python tasks; ``lang_sparse`` leaves whole posting
    buckets without a filter survivor."""
    from pyspark.sql import functions as F

    qe, oracle = wand32
    cfg, k = qe.cfg, 10
    kw = _variant_kw(oracle, variant, k)
    if variant == "lang_sparse":
        survivors = {r[0] for r in qe.store.read("doc_meta")
                     .filter(F.col("lang") == "de")
                     .select("partition_id").distinct().collect()}
        held = {r[0] for r in qe.store.read("postings")
                .filter(F.col("term").isin("zipfhead0", "zipfhead1"))
                .select("partition_id").distinct().collect()}
        assert survivors and held - survivors, (survivors, held)
    singles = {}
    for q in BATCH_QUERIES:
        df = spark.createDataFrame(qe._query_hits(q, k=k, **kw))
        assert _plan(df).startswith("LocalTableScan"), q
        singles[q] = _ranked_by_query(df, 1)[0]
        assert singles[q] == _oracle_ranked(oracle, cfg, q, k, **kw), \
            (variant, q)
    if variant == "plain":
        for q in BATCH_QUERIES:
            assert qe.top_k(q, k=k) == singles[q], q
    assert any(singles.values())
    if variant not in BATCH_VARIANTS + ["lang", "lang_sparse"]:
        return
    pairs = list(zip(BATCH_QUERIES[0::2],
                     BATCH_QUERIES[1::2] + BATCH_QUERIES[:1]))
    for a, b in pairs:
        assert set(a.split()) != set(b.split())  # two distinct term sets
        pair = _ranked_by_query(qe._batch_wand_ranked([a, b], k=k, **kw), 2)
        assert pair == [singles[a], singles[b]], (variant, a, b)
