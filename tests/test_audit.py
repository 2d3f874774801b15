"""Index audit (X59): every check green on a healthy index; each seeded
corruption class is caught by exactly the check that owns it."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from semantic_search_engine_spark.config import EngineConfig
from semantic_search_engine_spark.plans.audit import (
    audit_index,
    audit_report,
)
from semantic_search_engine_spark.plans.build_index import IndexBuilder
from semantic_search_engine_spark.sources.store import HadoopTableStore

CFG = EngineConfig(n_doc_buckets=4, n_term_buckets=4,
                   shuffle_partitions=4, block_size=16)


def _build(spark, tiny_corpus_dir, tmp_path_factory, name):
    store = HadoopTableStore(spark, str(tmp_path_factory.mktemp(name)))
    docs = spark.read.parquet(f"{tiny_corpus_dir}/documents.parquet")
    IndexBuilder(spark, store, CFG).build(docs)
    return store


@pytest.fixture(scope="module")
def healthy(spark, tiny_corpus_dir, tmp_path_factory):
    return _build(spark, tiny_corpus_dir, tmp_path_factory, "audit_ok")


def _failed(report: dict) -> set[str]:
    return {c["check"] for c in report["checks"] if not c["ok"]}


def test_healthy_index_audits_green(spark, healthy):
    report = audit_report(spark, healthy, cfg=CFG)
    assert report["ok"], report
    names = {c["check"] for c in report["checks"]}
    assert {"config", "counts.n_docs", "counts.doc_id_distinct",
            "counts.total_tokens", "meta_sync", "block_chain",
            "term_stats", "blocks", "tf_conserve"} <= names


def test_sampled_audit_green_and_scoped(spark, healthy):
    report = audit_report(spark, healthy, sample_buckets=[0, 2])
    assert report["ok"], report
    blocks = next(c for c in report["checks"] if c["check"] == "blocks")
    assert "buckets [0, 2]" in blocks["detail"]


def test_config_mismatch_flagged(spark, healthy):
    import dataclasses
    other = dataclasses.replace(CFG, k1=9.9)
    report = audit_report(spark, healthy, cfg=other)
    assert _failed(report) == {"config"}or _failed(report) >= {"config"}


def test_term_stats_corruption_caught(spark, tiny_corpus_dir,
                                      tmp_path_factory):
    store = _build(spark, tiny_corpus_dir, tmp_path_factory, "audit_ts")
    ts = store.read("term_stats")
    store.write("term_stats",
                ts.withColumn("df", F.col("df") + F.lit(1)),
                meta=store.table_meta("term_stats"))
    report = audit_report(spark, store)
    assert "term_stats" in _failed(report)
    assert "blocks" not in _failed(report)


def test_posting_payload_corruption_caught(spark, tiny_corpus_dir,
                                           tmp_path_factory):
    store = _build(spark, tiny_corpus_dir, tmp_path_factory, "audit_pb")
    po = store.read("postings")
    # overstate one block's n_postings — decoded lengths no longer match
    doctored = po.withColumn(
        "n_postings",
        F.when((F.col("term") == "zipfhead0") & (F.col("block_id") == 0),
               F.col("n_postings") + 1).otherwise(F.col("n_postings")))
    store.write("postings", doctored, partition_by=["term_bucket"],
                meta=store.table_meta("postings"))
    failed = _failed(audit_report(spark, store))
    assert "blocks" in failed
    # df is summed from the doctored n_postings, so term_stats disagrees
    assert "term_stats" in failed


def test_block_max_understated_caught(spark, tiny_corpus_dir,
                                      tmp_path_factory):
    """An understated block max would let WAND prune true hits —
    the soundness check must catch it."""
    store = _build(spark, tiny_corpus_dir, tmp_path_factory, "audit_bm")
    po = store.read("postings")
    doctored = po.withColumn(
        "block_max_tf_norm",
        F.when((F.col("term") == "zipfhead0") & (F.col("block_id") == 0)
               & (F.col("partition_id") == 0),
               F.col("block_max_tf_norm") / 2).otherwise(
                   F.col("block_max_tf_norm")))
    store.write("postings", doctored, partition_by=["term_bucket"],
                meta=store.table_meta("postings"))
    report = audit_report(spark, store)
    blocks = next(c for c in report["checks"] if c["check"] == "blocks")
    assert not blocks["ok"]
    assert "bad_blockmax=1" in blocks["detail"]


def test_meta_drift_caught(spark, tiny_corpus_dir, tmp_path_factory):
    store = _build(spark, tiny_corpus_dir, tmp_path_factory, "audit_dm")
    meta = store.read("doc_meta")
    victim = meta.select("doc_id").orderBy("doc_id").first()["doc_id"]
    store.write("doc_meta",
                meta.filter(F.col("doc_id") != victim),
                partition_by=["partition_id"],
                meta=store.table_meta("doc_meta"))
    failed = _failed(audit_report(spark, store))
    assert {"counts.n_docs", "meta_sync"} <= failed


def test_audit_cli(spark, tiny_corpus_dir, tmp_path_factory, capsys):
    import json
    store = _build(spark, tiny_corpus_dir, tmp_path_factory, "audit_cli")
    from scripts.audit_index import main as audit_main
    rc = audit_main(["--warehouse", store.root])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["ok"]
    rc = audit_main(["--warehouse", store.root, "--sample-buckets", "1,3"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["ok"]


def test_audit_cli_compact_logs(spark, tiny_corpus_dir,
                                tmp_path_factory, capsys, monkeypatch):
    import json
    store = _build(spark, tiny_corpus_dir, tmp_path_factory,
                   "audit_cli_compact")
    # accumulate a multi-snapshot append log next to the index tables
    log = spark.createDataFrame([(1, "a")], "k long, v string")
    store.append("custom_log", log)
    store.append("custom_log", spark.createDataFrame([(2, "b")],
                                                     "k long, v string"))
    assert len(store._read_manifest("custom_log")["paths"]) == 2

    from scripts.audit_index import main as audit_main
    rc = audit_main(["--warehouse", store.root, "--compact-logs"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["ok"]
    assert "custom_log" in out["compacted_logs"]
    m = store._read_manifest("custom_log")
    assert len(m.get("paths", [m["path"]])) == 1
    assert sorted((r["k"], r["v"]) for r in
                  store.read("custom_log").collect()) == [(1, "a"),
                                                          (2, "b")]

    # a compaction that raises fails the run: ok is False, exit code 1
    store.append("custom_log", spark.createDataFrame([(3, "c")],
                                                     "k long, v string"))

    def _boom(self, table):
        raise RuntimeError("forced compaction failure")

    monkeypatch.setattr(HadoopTableStore, "compact", _boom)
    rc = audit_main(["--warehouse", store.root, "--compact-logs"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 1 and not out["ok"]
    assert "custom_log" in out["compact_errors"]
    assert "custom_log" not in out["compacted_logs"]
    assert all(c["ok"] for c in out["checks"])  # the audit itself passed
