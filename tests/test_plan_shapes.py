"""Physical-plan assertions for the session's operators — the 100 TB
design points stated in their docstrings, checked against the plans
Catalyst actually produces (the `.explain` discipline, automated)."""
from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from semantic_search_engine_spark.operators.contamination import (
    contaminated_docs,
)
from semantic_search_engine_spark.operators.diversify import (
    cluster_diverse_top_k,
)
from semantic_search_engine_spark.operators.passages import split_passages
from semantic_search_engine_spark.operators.pii import pii_signals
from semantic_search_engine_spark.plans.federate import FederatedQueryEngine


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_contamination_broadcasts_eval_side(spark):
    """X82's whole design: the eval hashes broadcast, the corpus side
    never sort-merge-joins."""
    docs = spark.createDataFrame(
        [(i, f"some document text number {i} with words")
         for i in range(50)], "doc_id long, text string")
    ev = spark.createDataFrame(
        [(0, "benchmark passage of several words here")],
        "eval_id long, text string")
    plan = _plan(contaminated_docs(docs, ev, n=5))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan
    assert "SortMergeJoin" not in plan


def test_passage_split_is_shuffle_free(spark):
    """X83's splitter is one projection: no Exchange in the plan."""
    docs = spark.createDataFrame(
        [(f"https://p{i}.x/", " ".join(f"w{j}" for j in range(40)))
         for i in range(20)], "url string, text string")
    plan = _plan(split_passages(docs, max_tokens=10))
    assert "Exchange" not in plan, plan


def test_pii_signals_are_codegen_columns(spark):
    """X85 stays JVM-side: no Python runner in the plan, and the
    expressions run inside whole-stage codegen."""
    docs = spark.createDataFrame(
        [(1, "mail a@b.io")], "doc_id long, text string")
    plan = _plan(pii_signals(docs))
    assert "Python" not in plan, plan
    assert "Exchange" not in plan, plan
    # "*(n)" prefixes mark whole-stage-codegen stages in the compact
    # plan string
    assert "*(1)" in plan, plan


def test_cluster_diversity_single_exchange(spark):
    """X84's distributed form: exactly one shuffle (the window's
    partitionBy); the final top-k is TakeOrdered, not a second
    exchange."""
    df = spark.createDataFrame(
        [(i, float(i), f"h{i % 4}") for i in range(40)],
        "doc_id long, score double, host string")
    plan = _plan(cluster_diverse_top_k(df, k=5, by="host"))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "TakeOrderedAndProject" in plan, plan


# ---------------------------------------------------------------------------
# WAND serve path: job and task counts, read from statusTracker
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def wand_engine(spark, tiny_corpus_dir, tmp_path_factory):
    from semantic_search_engine_spark.config import EngineConfig
    from semantic_search_engine_spark.plans.build_index import IndexBuilder
    from semantic_search_engine_spark.plans.query import QueryEngine
    from semantic_search_engine_spark.sources.store import HadoopTableStore

    cfg = EngineConfig(n_doc_buckets=8, n_term_buckets=8,
                       shuffle_partitions=8, block_size=32)
    store = HadoopTableStore(spark, str(tmp_path_factory.mktemp("shape_wh")))
    docs = spark.read.parquet(f"{tiny_corpus_dir}/documents.parquet")
    builder = IndexBuilder(spark, store, cfg)
    builder.build(docs)
    builder.build(docs, field="title")  # for weighted_top_k
    return QueryEngine(spark, store, cfg)


def _jobs(spark, fn, warm: bool = True) -> list[list[int | None]]:
    """Run ``fn`` once to warm the engine's per-instance caches (unless
    ``warm`` is False), then again under a fresh job group. Returns, per
    job in submission order, the task counts of its stages in stage-id
    order (the job's own final stage last). The status store is fed by
    Spark's asynchronous listener bus, so the bus is drained first; a
    stage the store still does not know is recorded as None rather than
    read through a None ``getStageInfo``."""
    if warm:
        fn()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    gid = f"plan-shape-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "plan shape")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    out = []
    for j in sorted(tracker.getJobIdsForGroup(gid)):
        stages = sorted(tracker.getJobInfo(j).stageIds)
        infos = [tracker.getStageInfo(s) for s in stages]
        out.append([None if i is None else i.numTasks for i in infos])
    return out


def _wand_tasks(jobs: list[list[int]]) -> int:
    """Task count of the WAND stage: the final stage of the first job
    that reads a shuffle (the postings exchange is the only one below
    WAND, so that job's earlier stage is the skipped shuffle-map)."""
    return next(j[-1] for j in jobs if len(j) > 1)


def test_top_k_one_job_no_python_task(spark, wand_engine):
    """A single unfiltered query runs exactly ONE job — the pruned
    postings collect, one stage, no shuffle — and ranks on the driver:
    the collected plan holds no Python node, so no Python worker task
    runs (each one costs worker set-up that a single query's kernel
    work does not repay)."""
    q = "wireless bluetooth headphones"
    jobs = _jobs(spark, lambda: wand_engine.top_k(q, k=10))
    assert len(jobs) == 1 and len(jobs[0]) == 1, jobs
    terms = sorted(set(q.split()))
    plan = _plan(wand_engine._driver_wand_scan(terms))
    assert "FileScan parquet" in plan, plan
    for node in ("Python", "Arrow", "Pandas", "Exchange"):
        assert node not in plan, (node, plan)


@pytest.mark.parametrize("queries", [
    ["wireless bluetooth headphones", "gaming laptop"],
    ["wireless bluetooth headphones", "gaming laptop", "smartphone",
     "4k monitor", "mechanical keyboard", "zipfhead0 zipfhead1"],
    # repeated term sets share one pass (2 distinct, not 3); the kernel
    # emits the shared rows under every query_id, so no fan-out job
    ["gaming laptop", "laptop gaming", "smartphone"],
], ids=["two", "six", "duplicate"])
def test_batch_top_k_four_jobs_wand_spread_over_cores(spark, wand_engine,
                                                       queries):
    """A batch whose terms this engine has seen runs 3 jobs — the
    postings shuffle-map, the ranking stage and the per-query window;
    the first sight of its terms adds the pruned term_stats collect
    (4 jobs). Its ranking stage runs min(defaultParallelism, distinct
    term sets) tasks: a fixed-count repartition, so AQE cannot coalesce
    the few-KB, CPU-heavy stage back onto one task."""
    distinct = len({tuple(sorted(set(q.split()))) for q in queries})
    n_tasks = min(spark.sparkContext.defaultParallelism, distinct)

    def cold():
        object.__setattr__(wand_engine, "_term_df_cache", None)
        return wand_engine.batch_top_k(queries, k=10)

    warm = _jobs(spark, lambda: wand_engine.batch_top_k(queries, k=10))
    assert len(warm) == 3, warm
    assert _wand_tasks(warm) == n_tasks, warm
    first = _jobs(spark, cold)
    assert len(first) == 4 and len(first[0]) == 1, first
    assert _wand_tasks(first) == n_tasks, first


Q = "wireless bluetooth headphones"


@pytest.fixture(scope="module")
def fed_engine(spark, wand_engine, tmp_path_factory):
    """``wand_engine`` federated with a second, differently laid out
    index over a few docs of its own (url-disjoint from the tiny
    corpus), half of them ``lang="en"``, all holding the terms of
    ``Q``."""
    from semantic_search_engine_spark.config import EngineConfig
    from semantic_search_engine_spark.plans.build_index import IndexBuilder
    from semantic_search_engine_spark.plans.query import QueryEngine
    from semantic_search_engine_spark.sources.store import HadoopTableStore

    cfg = EngineConfig(n_doc_buckets=2, n_term_buckets=2,
                       shuffle_partitions=4, block_size=8)
    store = HadoopTableStore(spark, str(tmp_path_factory.mktemp("fed_wh")))
    docs = spark.createDataFrame(
        [(f"https://fed-shape{i}.example/", None,
          f"{Q} review number {i} " + "wireless " * (i % 3),
          "en" if i % 2 else "de") for i in range(12)],
        "url string, warc_ts timestamp, text string, lang string"
    ).withColumn("html", F.lit(None).cast("binary"))
    IndexBuilder(spark, store, cfg).build(docs)
    return FederatedQueryEngine(
        spark, [wand_engine, QueryEngine(spark, store, cfg)])


@pytest.mark.parametrize("lang,n_jobs", [
    # one collect of the union of both indexes' pruned postings scans
    (None, 1),
    # ... then each index's filter survivors of its posting buckets
    ("en", 3),
], ids=["bare", "filtered"])
def test_federated_top_k_ranks_on_driver(spark, fed_engine, collected_plans,
                                         lang, n_jobs):
    """A federated query runs the single-query plan: JVM-only jobs and
    no Python, Arrow or Pandas node in any collected plan, whatever the
    number of indexes."""
    owners = {r["fed_idx"]
              for r in fed_engine.top_k_df(Q, k=100, lang=lang).collect()}
    assert owners == {0, 1}, owners  # both indexes hold hits
    jobs = _jobs(spark, lambda: fed_engine.top_k(Q, k=10, lang=lang))
    assert len(jobs) == n_jobs, jobs
    assert collected_plans
    for plan in collected_plans:
        for node in ("Python", "Arrow", "Pandas", "ExistingRDD"):
            assert node not in plan, (node, plan)


def test_filtered_batch_runs_the_arrow_runner(spark, wand_engine):
    """A filtered batch keeps the unfiltered batch's shape: the filter
    survivors ride the blocks' fixed-count exchange into the same
    one-call-per-task ranking stage (no cogroup), three jobs warm."""
    queries = [Q, "gaming laptop"]
    n_tasks = min(spark.sparkContext.defaultParallelism, len(queries))

    def call():
        return wand_engine.batch_wand_top_k_df(queries, k=10,
                                               lang="en").collect()

    jobs = _jobs(spark, call)
    assert len(jobs) == 3, jobs
    assert _wand_tasks(jobs) == n_tasks, jobs
    plan = _plan(wand_engine.batch_wand_top_k_df(queries, k=10, lang="en"))
    assert "FlatMapCoGroupsInPandas" not in plan, plan
    assert "MapInArrow" in plan, plan


def test_filtered_search_hydrates_driver_hits(spark, wand_engine,
                                              monkeypatch):
    """``search(lang=…, count_mode="none")`` runs 3 jobs, and its
    driver-ranked hits go straight to hydration: no DataFrame is built
    from them."""
    def call():
        return wand_engine.search(Q, k=10, lang="en", count_mode="none")

    assert call()["results"]
    built = []
    cls = type(spark)

    def counted(self, *a, _orig=cls.createDataFrame, **kw):
        built.append(a[:1])
        return _orig(self, *a, **kw)

    monkeypatch.setattr(cls, "createDataFrame", counted)
    assert len(_jobs(spark, call)) == 3
    assert built == []


@pytest.mark.parametrize("call,n_jobs", [
    # the pruned postings collect, then the filter survivors of the
    # query's posting buckets (literal partition_id IN)
    (lambda e: e.wand_top_k_df(Q, k=10, lang="en").collect(), 2),
    # the two above, then the hydration read of the hit buckets
    (lambda e: e.search(Q, k=10, lang="en", count_mode="none"), 3),
    # the postings collect, then the (doc_id, key) rows of its buckets
    (lambda e: e.collapse_top_k(Q, by="lang", k=5, mode="wand"), 2),
    # the postings collect, then the (doc_id, prior) rows of its buckets
    (lambda e: e.boosted_top_k(Q, w_static=0.5, k=10, mode="wand"), 2),
    # one collect of the union of both fields' pruned postings scans
    # (each field's corpus_stats is cached per snapshot)
    (lambda e: e.weighted_top_k(Q, field_weights={"text": 1.0,
                                                  "title": 2.5}, k=10), 1),
    (lambda e: e.maxscore_top_k_df(Q, k=10).collect(), 1),
], ids=["filtered", "search-filtered", "collapse", "boosted", "weighted",
        "maxscore"])
def test_single_query_wand_variants_job_counts(spark, wand_engine,
                                               collected_plans, call,
                                               n_jobs):
    """Every single-query form ranks on the driver: a fixed number of
    JVM-only jobs, pinned so a kernel change cannot add one, and no
    collected plan — the internal postings/doc_meta reads and the result
    frame alike — holds a Python, Arrow or Pandas node or a Python-RDD
    scan (``ExistingRDD``), so no Python worker task runs."""
    jobs = _jobs(spark, lambda: call(wand_engine))
    assert len(jobs) == n_jobs, jobs
    assert collected_plans
    for plan in collected_plans:
        for node in ("Python", "Arrow", "Pandas", "ExistingRDD"):
            assert node not in plan, (node, plan)


@pytest.mark.parametrize("call", [
    lambda e: e.search("", count_mode="none"),
    lambda e: e.search(Q, k=0, lang="en", count_mode="none"),
    lambda e: e.wand_top_k_df("", lang="en").collect(),
    lambda e: e.batch_wand_top_k_df(["", Q, "gaming"], k=0).collect(),
    lambda e: e.collapse_top_k("", by="lang", k=5),
    lambda e: e.boosted_top_k(Q, w_static=0.5, k=0),
    lambda e: e.weighted_top_k("", field_weights={"text": 1.0}, k=10),
    lambda e: e.maxscore_top_k_df(Q, k=0).collect(),
    lambda e: e.auto_top_k_df("").collect(),
    lambda e: e.phrase_top_k_df("").collect(),
    lambda e: e.boolean_top_k_df("").collect(),
    lambda e: e.boolean_top_k_df(Q, k=0).collect(),
    lambda e: e.synonym_top_k_df("", {}).collect(),
    lambda e: e.get_docs(urls=[]).collect(),
    lambda e: e.candidate_ids_df("").collect(),
    lambda e: FederatedQueryEngine(e.spark, [e]).top_k_df("").collect(),
], ids=["search", "search-k0", "filtered", "batch-k0", "collapse",
        "boosted-k0", "weighted", "maxscore-k0", "auto", "phrase",
        "boolean", "boolean-k0", "synonym", "get-docs",
        "candidates", "federated"])
def test_empty_result_runs_no_job(spark, wand_engine, collected_plans,
                                  call):
    """An empty query or k ≤ 0 comes back as an Arrow-built
    ``LocalTableScan``: collecting it runs no job (a list-built
    ``createDataFrame([], schema)`` plans a Python-RDD scan and runs
    one)."""
    assert _jobs(spark, lambda: call(wand_engine)) == []
    for plan in collected_plans:
        assert plan.startswith("LocalTableScan"), plan


def test_phrase_recheck_absent_term_runs_no_job(spark, wand_engine,
                                                collected_plans):
    """A recheck phrase with a term absent from the index: once the
    engine has cached that term's df of 0, the empty result is an
    Arrow-built ``LocalTableScan`` and no job runs."""
    def call():
        return wand_engine.phrase_top_k_df("gaming absentterm9z",
                                           mode="recheck").collect()

    call()  # the first sight of the terms reads their df
    collected_plans.clear()
    assert _jobs(spark, call, warm=False) == []
    assert collected_plans
    for plan in collected_plans:
        assert plan.startswith("LocalTableScan"), plan
