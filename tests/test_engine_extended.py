"""Extended engine behaviors: field-scoped (title) index, MERGE upsert with
downstream rebuild, mid-pipeline checkpoint resume, query-log emission.

Reference parity targets: per-field search paths
(``search-api/.../repository/ProductRepository.java:119-150``), the
ON CONFLICT upsert (``data-pipeline/data_ingestion.py:224-243``), and the
``search_logs`` analytics table (``data-pipeline/database.py:63-69``).
"""

import glob
import json
import math

import pytest
from pyspark.sql import functions as F

from semantic_search_engine_spark.config import EngineConfig
from semantic_search_engine_spark.oracle import OracleIndex
from semantic_search_engine_spark.plans.build_index import IndexBuilder
from semantic_search_engine_spark.plans.query import QueryEngine
from semantic_search_engine_spark.sources.store import HadoopTableStore
from semantic_search_engine_spark.textproc import (
    doc_id_for_url,
    extract_html,
    tokenize,
)

CFG = EngineConfig(n_doc_buckets=4, n_term_buckets=4, shuffle_partitions=4,
                   block_size=16)


def _mkdocs(spark, rows):
    """(url, warc_ts, html, text, lang) rows → input-schema DataFrame."""
    return spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])
         for r in rows],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")


# ---------------------------------------------------------------------------
# Field-scoped (title) index
# ---------------------------------------------------------------------------

def test_title_field_index_rank_identity(spark, tiny_corpus_dir, tiny_rows,
                                         tmp_path_factory):
    """The title index must rank by title tokens only — doc 9 plants the
    query terms in its <title> with a short body."""
    store = HadoopTableStore(spark, str(tmp_path_factory.mktemp("wh_title")))
    docs = spark.read.parquet(f"{tiny_corpus_dir}/documents.parquet")
    IndexBuilder(spark, store, CFG).build(docs, field="title")

    # single-node oracle over titles: reuse OracleIndex by feeding title text
    title_rows = []
    for r in tiny_rows:
        if r["url"] is None:
            continue
        title, _body = extract_html(r.get("html"))
        # engine indexes the extracted title for every valid doc (validity
        # still keyed on body text resolution)
        from semantic_search_engine_spark.textproc import resolve_text
        if resolve_text(r.get("text"), r.get("html"),
                        CFG.prefer_provided_text) is None:
            continue
        title_rows.append(dict(url=r["url"], warc_ts=r.get("warc_ts"),
                               html=None, text=title, lang=r.get("lang")))
    oracle = OracleIndex.build(title_rows, CFG)

    qe = QueryEngine(spark, store, CFG, field="title")
    for q in ["wireless bluetooth headphones", "entities", "page"]:
        got = qe.top_k(q, k=10, mode="exhaustive")
        expected = oracle.top_k(q, k=10)
        assert [d for d, _ in got] == [d for d, _ in expected], q
        for (gd, gs), (ed, es) in zip(got, expected):
            assert math.isclose(gs, es, abs_tol=1e-6), (q, gd)


def test_dual_field_build_single_extract_pass(spark, tiny_corpus_dir,
                                              tmp_path_factory, monkeypatch):
    """build(field='title') on a store that already holds the text index
    must DERIVE doc_features_title from the committed table — the
    corpus-wide extract UDF (the most expensive stage) runs once per
    corpus, not once per field (VERDICT r2 #5) — and the derived title
    index must be bit-identical to a from-scratch title-only build."""
    docs = spark.read.parquet(f"{tiny_corpus_dir}/documents.parquet")
    store_a = HadoopTableStore(spark, str(tmp_path_factory.mktemp("wh_du")))
    ba = IndexBuilder(spark, store_a, CFG)
    ba.build(docs)

    calls: list = []
    orig = IndexBuilder._doc_features_df
    monkeypatch.setattr(
        IndexBuilder, "_doc_features_df",
        lambda self, d, f, positions=False:
            calls.append(f) or orig(self, d, f, positions))
    ba.build(docs, field="title")
    assert calls == [], "title build re-ran the extract pipeline"

    store_b = HadoopTableStore(spark, str(tmp_path_factory.mktemp("wh_t2")))
    IndexBuilder(spark, store_b, CFG).build(docs, field="title")
    cols = ["term", "partition_id", "block_id", "n_postings",
            "first_doc_id", "last_doc_id", "doc_ids_vb", "tfs_vb",
            "dls_vb", "block_max_tf_norm", "cf_block"]

    def snap(store):
        rows = store.read("postings_title").select(cols).collect()
        return sorted((r["term"], r["partition_id"], r["block_id"],
                       r["n_postings"], r["first_doc_id"],
                       r["last_doc_id"], bytes(r["doc_ids_vb"]),
                       bytes(r["tfs_vb"]), bytes(r["dls_vb"]),
                       r["block_max_tf_norm"], r["cf_block"])
                      for r in rows)

    assert snap(store_a) == snap(store_b)
    # doc_meta_title identical too (derived rows == from-scratch rows)
    meta_cols = ["doc_id", "url", "doc_len", "partition_id"]
    ma = sorted(map(tuple,
                    store_a.read("doc_meta_title").select(meta_cols)
                    .collect()))
    mb = sorted(map(tuple,
                    store_b.read("doc_meta_title").select(meta_cols)
                    .collect()))
    assert ma == mb


# ---------------------------------------------------------------------------
# MERGE upsert + checkpoint fingerprints
# ---------------------------------------------------------------------------

@pytest.fixture()
def small_built(spark, tmp_path_factory):
    from semantic_search_engine_spark.corpus import generate_rows
    rows = list(generate_rows(60))
    store = HadoopTableStore(spark, str(tmp_path_factory.mktemp("wh_merge")))
    docs = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])
         for r in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    builder = IndexBuilder(spark, store, CFG)
    builder.build(docs)
    return store, builder, docs


def test_ingest_updates_merge_semantics(spark, small_built):
    store, builder, docs = small_built
    url = "https://site0011.example/page/00011"
    new_html = b"<html><body><p>merged replacement body qqxyz</p></body></html>"
    updates = spark.createDataFrame(
        [(url, None, new_html, None, "en"),
         ("https://newsite.example/fresh", None,
          b"<html><body><p>brand new document qqxyz</p></body></html>",
          None, "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    before = store.read("doc_features").count()
    builder.ingest_updates(updates)
    after = store.read("doc_features")
    assert after.count() == before + 1  # one update in place, one insert
    row = after.filter(F.col("url") == url).collect()[0]
    assert "qqxyz" in row["text"]
    assert row["doc_id"] == doc_id_for_url(url)  # key stability
    # downstream stages' fingerprints are now stale → a rebuild re-runs them
    runner = builder.build(docs.limit(0).unionByName(
        after.select("url", "warc_ts", F.lit(None).cast("binary")
                     .alias("html"), "text", "lang")))
    # (we rebuilt from the merged doc set; postings must contain the new term)
    terms = store.read("term_stats").filter(F.col("term") == "qqxyz").collect()
    assert terms and terms[0]["df"] == 2


def test_resume_after_partial_build(spark, tmp_path_factory):
    """Kill-between-stages: run a build that fails at the postings stage,
    rerun, and verify the completed stages are skipped (fingerprint match)
    while the missing ones execute."""
    from semantic_search_engine_spark.corpus import generate_rows
    rows = list(generate_rows(40))
    store = HadoopTableStore(spark, str(tmp_path_factory.mktemp("wh_resume")))
    docs = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])
         for r in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string")

    builder = IndexBuilder(spark, store, CFG)
    import semantic_search_engine_spark.plans.build_index as bi
    orig = bi.make_block_encoder

    def boom(*a, **k):
        raise RuntimeError("simulated crash between stages")

    bi.make_block_encoder = boom
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            builder.build(docs)
    finally:
        bi.make_block_encoder = orig

    # stages before the crash are committed; postings/term_stats are not
    assert store.exists("doc_features") and store.exists("corpus_stats")
    assert not store.exists("postings")

    runner = IndexBuilder(spark, store, CFG).build(docs)
    by_stage = {m["stage"]: m["skipped"] for m in runner.metrics}
    assert by_stage["doc_features"] is True      # resumed (skipped)
    assert by_stage["doc_meta"] is True
    assert by_stage["corpus_stats"] is True
    assert by_stage["postings"] is False         # executed on resume
    assert by_stage["term_stats"] is False
    assert store.exists("postings")
    # lineage carries one row per (stage, partition) incl. skip markers
    lin = store.read("lineage")
    assert lin.filter(F.col("stage") == "postings").count() >= 1


def test_config_change_invalidates_checkpoints(spark, tmp_path_factory):
    from semantic_search_engine_spark.corpus import generate_rows
    rows = list(generate_rows(30))
    store = HadoopTableStore(spark, str(tmp_path_factory.mktemp("wh_cfg")))
    docs = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])
         for r in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    IndexBuilder(spark, store, CFG).build(docs)
    cfg2 = EngineConfig(n_doc_buckets=4, n_term_buckets=4,
                        shuffle_partitions=4, block_size=16, k1=2.0)
    runner = IndexBuilder(spark, store, cfg2).build(docs)
    assert not any(m["skipped"] for m in runner.metrics)  # full re-run


# ---------------------------------------------------------------------------
# Query-log emission feeds the streaming module
# ---------------------------------------------------------------------------

def test_search_writes_query_log(spark, small_built, tmp_path_factory):
    store, _builder, _docs = small_built
    log_dir = str(tmp_path_factory.mktemp("qlog"))
    qe = QueryEngine(spark, store, CFG, query_log_dir=log_dir)
    qe.search("zipfhead0", k=5)
    qe.search("absentterm9z", k=5)
    files = glob.glob(f"{log_dir}/log-*.json")
    assert len(files) == 2
    recs = [json.loads(open(f).read()) for f in files]
    by_q = {r["query"]: r for r in recs}
    assert by_q["absentterm9z"]["results_count"] == 0
    assert by_q["zipfhead0"]["results_count"] > 0
    assert all(r["response_time_ms"] >= 0 for r in recs)
    # and the streaming schema reads it back
    from semantic_search_engine_spark.streaming.analytics import (
        QUERY_LOG_SCHEMA, zero_result_queries)
    logs = spark.read.schema(QUERY_LOG_SCHEMA).json(log_dir)
    assert logs.count() == 2
    assert zero_result_queries(logs).count() == 1


# ---------------------------------------------------------------------------
# min_token_len threads through build + query (ADVICE r1: dead knob)
# ---------------------------------------------------------------------------

def test_min_token_len_filters_short_tokens(spark, tmp_path_factory):
    """min_token_len=2 must drop 1-char tokens from the index AND from the
    query-side tokenizer (a 1-char query term scores nothing)."""
    store = HadoopTableStore(spark, str(tmp_path_factory.mktemp("wh_mintok")))
    rows = [(f"https://m.example/{i}", None, None,
             f"a x queryable body number{i} b c", "en") for i in range(12)]
    docs = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string")
    cfg = EngineConfig(n_doc_buckets=2, n_term_buckets=2,
                       shuffle_partitions=2, block_size=8, min_token_len=2)
    IndexBuilder(spark, store, cfg).build(docs)

    terms = [r["term"] for r in store.read("term_stats").collect()]
    assert terms and all(len(t) >= 2 for t in terms)
    assert "queryable" in terms

    qe = QueryEngine(spark, store, cfg=None)  # binds persisted config
    assert qe.cfg.min_token_len == 2
    assert qe.top_k("a b c", k=5) == []          # all query terms dropped
    assert len(qe.top_k("queryable", k=5)) == 5  # real term still works

    # the single-node oracle honors min_token_len too — rank identity must
    # hold at non-default values (code-review r2 finding)
    oracle = OracleIndex.build(
        [dict(url=u, warc_ts=w, html=h, text=t, lang=lg)
         for (u, w, h, t, lg) in rows], cfg)
    got = qe.top_k("queryable number3", k=12)
    want = oracle.top_k("queryable number3", k=12)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (_ed, es) in zip(got, want):
        assert math.isclose(gs, es, abs_tol=1e-9), gd


def test_lineage_observed_counts_match_committed(spark, small_built):
    """Lineage rows now come from df.observe on the write job (no
    post-commit re-scan); the recorded per-partition counts must equal a
    direct groupBy over the committed table."""
    store, builder, _docs = small_built
    lin = store.read("lineage")
    for table in ("doc_features", "postings"):
        got = {(r["partition_id"], r["rows"])
               for r in lin.filter((F.col("output_table") == table)
                                   & ~F.col("skipped"))
               .select("partition_id", "rows").collect()}
        want = {(r["partition_id"], r["n"])
                for r in store.read(table).groupBy("partition_id")
                .agg(F.count(F.lit(1)).alias("n")).collect()}
        assert got == want, table
        assert sum(n for _, n in got) == store.read(table).count()


# ---------------------------------------------------------------------------
# Incremental postings maintenance (round 2): changed buckets re-encode,
# untouched buckets carry over with refreshed block-max metadata
# ---------------------------------------------------------------------------

def test_incremental_ingest_bit_identical_to_full_rebuild(
        spark, tmp_path_factory):
    from semantic_search_engine_spark.corpus import generate_rows

    base = list(generate_rows(60))
    upd_rows = [dict(base[5], html=None,
                     text="recrawled body uniquetermzq alpha beta"),
                dict(url="https://new.example/fresh-1", warc_ts=None,
                     html=None, text="a brand new page about zq things",
                     lang="en")]
    cfg = EngineConfig(n_doc_buckets=8, n_term_buckets=4,
                       shuffle_partitions=4, block_size=16)

    stores = {}
    for mode, flag in (("inc", True), ("full", False)):
        st = HadoopTableStore(
            spark, str(tmp_path_factory.mktemp(f"wh_{mode}")))
        builder = IndexBuilder(spark, st, cfg)
        builder.build(_mkdocs(spark, base))
        runner = builder.ingest_updates(_mkdocs(spark, upd_rows), incremental=flag)
        assert not any(m["skipped"] for m in runner.metrics
                       if m["stage"] == "postings")
        stores[mode] = st

    # postings must match BIT-FOR-BIT: payload bytes, block layout, and
    # the refreshed block-max metadata under the post-merge avgdl
    def rows(st, table, cols=None):
        df = st.read(table)
        cols = cols or df.columns
        return sorted(map(tuple, df.select(cols).collect()))

    assert rows(stores["inc"], "postings") == rows(stores["full"],
                                                   "postings")
    assert rows(stores["inc"], "term_stats") == rows(stores["full"],
                                                     "term_stats")
    cs_cols = ["n_docs", "avg_doc_len", "total_tokens"]
    assert rows(stores["inc"], "corpus_stats", cs_cols) == \
        rows(stores["full"], "corpus_stats", cs_cols)

    qi = QueryEngine(spark, stores["inc"], cfg)
    qf = QueryEngine(spark, stores["full"], cfg)
    for q in ["uniquetermzq", "zq things", "wireless bluetooth headphones"]:
        assert qi.top_k(q, k=10) == qf.top_k(q, k=10), q


def test_blockmax_refresh_rewrites_stale_bounds(spark):
    """Refreshing under a new avgdl must equal encoding from scratch at
    that avgdl (bit-identical bounds), leaving payload bytes untouched."""
    import numpy as np
    import pandas as pd
    from semantic_search_engine_spark.functions.varbyte import encode_blocks
    from semantic_search_engine_spark.plans.build_index import (
        make_blockmax_refresh)

    rng = np.random.default_rng(3)
    ids = np.cumsum(rng.integers(1, 9, size=70)).astype(np.uint64)
    tfs = rng.integers(1, 12, size=70).astype(np.uint64)
    dls = rng.integers(30, 400, size=70).astype(np.uint64)
    k1, b = 1.2, 0.75
    old = encode_blocks(ids, tfs, dls, 100.0, k1, b, 16)
    want = encode_blocks(ids, tfs, dls, 137.5, k1, b, 16)
    pdf = pd.DataFrame([{
        "term": "t", "partition_id": 0, "block_id": blk["block_id"],
        "n_postings": blk["n_postings"],
        "first_doc_id": blk["first_doc_id"],
        "last_doc_id": blk["last_doc_id"],
        "doc_ids_vb": blk["doc_ids_vb"], "tfs_vb": blk["tfs_vb"],
        "dls_vb": blk["dls_vb"],
        "block_max_tf_norm": blk["block_max_tf_norm"],
        "cf_block": 0} for blk in old])
    out = pd.concat(list(make_blockmax_refresh(137.5, k1, b)(iter([pdf]))))
    assert list(out["block_max_tf_norm"]) == \
        [blk["block_max_tf_norm"] for blk in want]
    assert list(out["doc_ids_vb"]) == [blk["doc_ids_vb"] for blk in want]


def test_chained_incremental_merges_stay_identical(spark, tmp_path_factory):
    """Three successive incremental upserts (including a re-update of the
    same url) must leave the index bit-identical to one full build over
    the final composed document set."""
    from semantic_search_engine_spark.corpus import generate_rows

    base = list(generate_rows(50))
    batches = [
        [dict(url="https://inc.example/a", warc_ts=None, html=None,
              text="first new page zqa zqa tokens", lang="en")],
        [dict(base[7], html=None, text="recrawl of seven zqb"),
         dict(url="https://inc.example/b", warc_ts=None, html=None,
              text="second new page zqb zqc", lang="de")],
        [dict(url="https://inc.example/a", warc_ts=None, html=None,
              text="re-updated first page zqd only", lang="en")],
    ]
    cfg = EngineConfig(n_doc_buckets=8, n_term_buckets=4,
                       shuffle_partitions=4, block_size=16)

    inc = HadoopTableStore(spark, str(tmp_path_factory.mktemp("wh_chain")))
    bi = IndexBuilder(spark, inc, cfg)
    bi.build(_mkdocs(spark, base))
    for batch in batches:
        bi.ingest_updates(_mkdocs(spark, batch))  # incremental default

    # compose the final truth: last write per url wins
    final = {r["url"]: r for r in base}
    for batch in batches:
        for r in batch:
            final[r["url"]] = r
    full = HadoopTableStore(spark, str(tmp_path_factory.mktemp("wh_chainf")))
    IndexBuilder(spark, full, cfg).build(_mkdocs(spark, list(final.values())))

    for table in ("postings", "term_stats"):
        a = sorted(map(tuple, inc.read(table).collect()))
        b = sorted(map(tuple, full.read(table).collect()))
        assert a == b, table
    qi, qf = QueryEngine(spark, inc, cfg), QueryEngine(spark, full, cfg)
    for q in ["zqa", "zqb zqc", "zqd", "wireless bluetooth headphones"]:
        assert qi.top_k(q, k=10) == qf.top_k(q, k=10), q
    # the re-updated url's first text must be gone
    assert qi.top_k("zqa", k=10) == []


def test_delete_docs_bit_identical_to_rebuild(spark, tmp_path_factory):
    """delete_docs (X28): removing urls must leave the index bit-identical
    to a full build over the surviving documents — including corpus stats
    (avgdl shrinks, carried block-max bounds refresh) — via the
    incremental touched-buckets path; deleting a never-indexed url is a
    row-level no-op."""
    from semantic_search_engine_spark.corpus import generate_rows

    base = list(generate_rows(50))
    cfg = EngineConfig(n_doc_buckets=8, n_term_buckets=4,
                       shuffle_partitions=4, block_size=16)
    sa = HadoopTableStore(spark, str(tmp_path_factory.mktemp("wh_dela")))
    ba = IndexBuilder(spark, sa, cfg)
    ba.build(_mkdocs(spark, base))

    with_url = [r for r in base if r.get("url")]
    dels = [with_url[3]["url"], with_url[17]["url"],
            "https://absent.example/none"]
    runner = ba.delete_docs(dels)
    assert not any(m["skipped"] for m in runner.metrics
                   if m["stage"] == "postings")

    survivors = [r for r in base if r.get("url") not in dels]
    sb = HadoopTableStore(spark, str(tmp_path_factory.mktemp("wh_delb")))
    IndexBuilder(spark, sb, cfg).build(_mkdocs(spark, survivors))

    for table in ("postings", "term_stats"):
        a = sorted(map(tuple, sa.read(table).collect()))
        b = sorted(map(tuple, sb.read(table).collect()))
        assert a == b, table
    cs = ["n_docs", "avg_doc_len", "total_tokens"]
    assert sorted(map(tuple, sa.read("corpus_stats").select(cs).collect())) \
        == sorted(map(tuple, sb.read("corpus_stats").select(cs).collect()))
    qa, qb = QueryEngine(spark, sa, cfg), QueryEngine(spark, sb, cfg)
    for q in ["wireless bluetooth headphones", "zipfhead0 zipfhead1"]:
        assert qa.top_k(q, k=10) == qb.top_k(q, k=10), q
    # the deleted docs are gone from metadata
    gone = {r["url"] for r in sa.read("doc_meta").collect()}
    assert dels[0] not in gone and dels[1] not in gone


def test_term_df_is_sum_of_block_postings(spark, tmp_path_factory):
    """The single-query driver path derives each term's df as the sum of
    ``n_postings`` over the term's blocks instead of reading term_stats:
    the two agree for every dictionary term after a build, after an
    incremental ingest_updates and after delete_docs."""
    from semantic_search_engine_spark.corpus import generate_rows

    base = list(generate_rows(60))
    cfg = EngineConfig(n_doc_buckets=8, n_term_buckets=4,
                       shuffle_partitions=4, block_size=16)
    store = HadoopTableStore(spark, str(tmp_path_factory.mktemp("wh_df")))
    builder = IndexBuilder(spark, store, cfg)

    def check(step):
        sums = {r["term"]: int(r["s"]) for r in store.read("postings")
                .groupBy("term").agg(F.sum("n_postings").alias("s"))
                .collect()}
        dfs = {r["term"]: int(r["df"]) for r in
               store.read("term_stats").select("term", "df").collect()}
        assert sums and sums == dfs, step

    builder.build(_mkdocs(spark, base))
    check("build")
    builder.ingest_updates(_mkdocs(spark, [
        dict(base[5], html=None, text="recrawled body uniquetermzq alpha"),
        dict(url="https://new.example/df-1", warc_ts=None, html=None,
             text="a brand new page about zq things", lang="en")]))
    check("ingest_updates")
    builder.delete_docs([r["url"] for r in base if r.get("url")][:3])
    check("delete_docs")


def test_engine_serves_fresh_stats_after_ingest(spark, tmp_path_factory):
    """An engine that served queries before ingest_updates serves the
    merged index oracle-identically afterwards, without being rebuilt:
    its cached corpus_stats (n_docs, avgdl) is keyed on the table's
    data_uuid, which the merge's commit replaces."""
    from semantic_search_engine_spark.corpus import generate_rows

    base = list(generate_rows(60))
    upd = [dict(base[5], html=None,
                text="recrawled wireless bluetooth headphones review"),
           dict(url="https://new.example/fresh-1", warc_ts=None, html=None,
                text="wireless zipfhead0 page " + "filler " * 40,
                lang="en")]
    cfg = EngineConfig(n_doc_buckets=8, n_term_buckets=4,
                       shuffle_partitions=4, block_size=16)
    store = HadoopTableStore(spark,
                             str(tmp_path_factory.mktemp("wh_fresh")))
    builder = IndexBuilder(spark, store, cfg)
    builder.build(_mkdocs(spark, base))
    qe = QueryEngine(spark, store, cfg)
    queries = ["wireless bluetooth headphones", "zipfhead0 zipfhead1"]
    before = OracleIndex.build(base, cfg)
    for q in queries:
        assert qe.top_k(q, k=10) == before.top_k(q, k=10), q

    builder.ingest_updates(_mkdocs(spark, upd))
    final = {r["url"]: r for r in base}
    for r in upd:
        final[r["url"]] = r
    after = OracleIndex.build(list(final.values()), cfg)
    assert after.n_docs != before.n_docs
    for q in queries:
        assert qe.top_k(q, k=10) == after.top_k(q, k=10), q
    assert qe.corpus_stats()["n_docs"] == after.n_docs


def test_partitioned_merge_hardlinks_untouched_buckets(spark,
                                                       tmp_path_factory):
    """Partition-pruned copy-on-write (VERDICT r2 #7): with the
    partitioned doc_features layout, a merge must rewrite ONLY the
    touched doc-range buckets — every untouched partition directory in
    the new snapshot holds hard links (same inodes) to the previous
    snapshot's files, so sandbox incremental ingest is incremental
    end-to-end."""
    import json
    import os

    from semantic_search_engine_spark.corpus import generate_rows
    from semantic_search_engine_spark.textproc import (
        doc_bucket,
        doc_id_for_url,
    )

    base = list(generate_rows(60))
    cfg = EngineConfig(n_doc_buckets=8, n_term_buckets=4,
                       shuffle_partitions=4, block_size=16,
                       partition_doc_features=True)
    store = HadoopTableStore(spark, str(tmp_path_factory.mktemp("wh_cow")))
    builder = IndexBuilder(spark, store, cfg)
    builder.build(_mkdocs(spark, base))
    n_before = store.read("doc_meta").count()

    def snap_inodes(path):
        return {d: {f: os.stat(os.path.join(path, d, f)).st_ino
                    for f in os.listdir(os.path.join(path, d))}
                for d in os.listdir(path) if d.startswith("partition_id=")}

    man0 = json.load(open(os.path.join(store.root, "doc_features",
                                       "manifest.json")))
    inodes0 = snap_inodes(man0["path"])
    assert len(inodes0) > 1  # layout actually partitioned

    url = "https://cow.example/x"
    touched = {doc_bucket(doc_id_for_url(url), cfg.n_doc_buckets)}
    builder.ingest_updates(_mkdocs(spark, [
        dict(url=url, warc_ts=None, html=None,
             text="cow merge token zzcow", lang="en")]))

    man1 = json.load(open(os.path.join(store.root, "doc_features",
                                       "manifest.json")))
    assert man1["path"] != man0["path"]
    inodes1 = snap_inodes(man1["path"])
    linked = rewritten = 0
    for d, files in inodes1.items():
        bucket = int(d.split("=", 1)[1])
        if bucket in touched:
            rewritten += 1
            continue
        assert files == inodes0[d], f"untouched {d} was rewritten"
        linked += 1
    assert rewritten >= 1 and linked >= 1
    assert linked == len(inodes0) - len(touched & {int(d.split('=')[1])
                                                   for d in inodes0})
    # semantics unchanged: one new doc, searchable, old docs intact
    assert store.read("doc_meta").count() == n_before + 1
    qe = QueryEngine(spark, store, cfg)
    assert len(qe.top_k("zzcow", k=5)) == 1
    assert qe.top_k("wireless bluetooth headphones", k=5)


def test_lineage_commit_appends_without_rewriting_history(
        spark, tmp_path_factory):
    """commit_lineage must be O(this run): a later run's commit may not
    rewrite the earlier runs' lineage files (VERDICT r2 #6), and reads
    must see all runs' rows."""
    import json
    import os

    from semantic_search_engine_spark.corpus import generate_rows

    base = list(generate_rows(30))
    cfg = EngineConfig(n_doc_buckets=4, n_term_buckets=4,
                       shuffle_partitions=4, block_size=16)
    store = HadoopTableStore(spark, str(tmp_path_factory.mktemp("wh_lin")))
    builder = IndexBuilder(spark, store, cfg)
    builder.build(_mkdocs(spark, base))

    mpath = os.path.join(store.root, "lineage", "manifest.json")
    man0 = json.load(open(mpath))
    paths0 = man0.get("paths", [man0["path"]])
    assert len(paths0) == 1
    files0 = {os.path.join(p, f): os.stat(os.path.join(p, f)).st_ino
              for p in paths0 for f in os.listdir(p)}

    builder.ingest_updates(_mkdocs(spark, [
        dict(url="https://lin.example/y", warc_ts=None, html=None,
             text="lineage append token", lang="en")]))

    man1 = json.load(open(mpath))
    paths1 = man1.get("paths", [man1["path"]])
    assert len(paths1) == 2 and paths1[0] == paths0[0]
    for p, ino in files0.items():  # first run's files untouched
        assert os.stat(p).st_ino == ino
    lin = store.read("lineage")
    assert lin.select("run_id").distinct().count() >= 2
    assert lin.filter(F.col("stage") == "doc_features").count() >= 1


def test_incremental_falls_back_after_partial_upsert(spark,
                                                     tmp_path_factory):
    """Crash window (code-review r2): an upsert whose doc_features merge
    committed but whose downstream stages never ran leaves a postings
    snapshot chained on stale uuids. The next incremental upsert must
    detect that and fall back to a full rebuild — otherwise the earlier
    batch's docs would be permanently missing from the index."""
    from semantic_search_engine_spark.corpus import generate_rows

    base = list(generate_rows(40))
    cfg = EngineConfig(n_doc_buckets=8, n_term_buckets=4,
                       shuffle_partitions=4, block_size=16)
    store = HadoopTableStore(spark, str(tmp_path_factory.mktemp("wh_crash")))
    builder = IndexBuilder(spark, store, cfg)
    builder.build(_mkdocs(spark, base))

    # simulated crash: batch1's merge commits, downstream never runs
    b1 = _mkdocs(spark, [dict(url="https://crash.example/1", warc_ts=None,
                      html=None, text="orphaned batch token zzcrash",
                      lang="en")])
    store.merge_by_key("doc_features", builder._doc_features_df(b1, "text"),
                       key="url")
    assert not builder._postings_current("", "text")  # guard fires

    # next upsert (different bucket/url) runs incrementally by request…
    b2 = _mkdocs(spark, [dict(url="https://crash.example/2", warc_ts=None,
                      html=None, text="later batch token zzlater",
                      lang="en")])
    builder.ingest_updates(b2, incremental=True)
    # …but must have fallen back to a full rebuild: BOTH batches indexed
    ts = {r["term"] for r in store.read("term_stats")
          .filter(F.col("term").isin(["zzcrash", "zzlater"])).collect()}
    assert ts == {"zzcrash", "zzlater"}
    qe = QueryEngine(spark, store, cfg)
    assert len(qe.top_k("zzcrash", k=5)) == 1
    assert len(qe.top_k("zzlater", k=5)) == 1
    # and with a clean chain the guard passes again
    assert builder._postings_current("", "text")


def test_partitioned_doc_features_layout_incremental_identical(
        spark, tmp_path_factory):
    """partition_doc_features=True: the layout survives merges (pruned
    incremental scans) and the index stays identical to the default
    layout's."""
    import glob
    from semantic_search_engine_spark.corpus import generate_rows

    base = list(generate_rows(40))
    upd = [dict(url="https://part.example/x", warc_ts=None, html=None,
                text="partitioned layout token zzpart", lang="en")]
    results = {}
    for mode, flag in (("part", True), ("flat", False)):
        cfg = EngineConfig(n_doc_buckets=8, n_term_buckets=4,
                           shuffle_partitions=4, block_size=16,
                           partition_doc_features=flag)
        st = HadoopTableStore(spark,
                              str(tmp_path_factory.mktemp(f"wh_{mode}")))
        b = IndexBuilder(spark, st, cfg)
        b.build(_mkdocs(spark, base))
        b.ingest_updates(_mkdocs(spark, upd))
        results[mode] = sorted(map(tuple, st.read("postings").collect()))
        if flag:
            # physical layout present on the CURRENTLY COMMITTED snapshot
            # (i.e. the post-merge one — read the manifest pointer, not a
            # lexicographic sort of random snapshot names)
            committed = st._read_manifest("doc_features")["path"]
            assert glob.glob(f"{committed}/partition_id=*")
    assert results["part"] == results["flat"]
