"""Snapshot/restore (X72): repository pool with incremental dir reuse,
bit-identical restored retrieval, carried fingerprint chain, torn-copy
refusal."""
from __future__ import annotations

import os

import pytest

from semantic_search_engine_spark.config import EngineConfig
from semantic_search_engine_spark.plans.build_index import IndexBuilder
from semantic_search_engine_spark.plans.query import QueryEngine
from semantic_search_engine_spark.sources.snapshot import (
    create_snapshot,
    list_snapshots,
    restore_snapshot,
)
from semantic_search_engine_spark.sources.store import HadoopTableStore

CFG = EngineConfig(n_doc_buckets=4, n_term_buckets=4,
                   shuffle_partitions=4, block_size=16)
Q = "zipfhead0 zipfhead1"


@pytest.fixture(scope="module")
def built(spark, tiny_corpus_dir, tmp_path_factory):
    store = HadoopTableStore(spark, str(tmp_path_factory.mktemp("wh_snap")))
    docs = spark.read.parquet(f"{tiny_corpus_dir}/documents.parquet")
    b = IndexBuilder(spark, store, CFG)
    b.build(docs)
    b.build_suffix()  # fingerprint-gated side table rides along
    return store, docs


def test_snapshot_restore_bit_identical(spark, built, tmp_path_factory):
    store, _ = built
    repo = str(tmp_path_factory.mktemp("repo"))
    info = create_snapshot(store, repo, "s1")
    assert info["dirs_copied"] > 0 and info["dirs_reused"] == 0
    assert list_snapshots(repo) == ["s1"]

    new_root = str(tmp_path_factory.mktemp("wh_restored"))
    restored = restore_snapshot(spark, repo, "s1", new_root)
    src = QueryEngine(spark, store, CFG)
    dst = QueryEngine(spark, restored, CFG)
    a = [(r["doc_id"], r["score"]) for r in src.wand_top_k_df(Q, k=10)
         .collect()]
    b = [(r["doc_id"], r["score"]) for r in dst.wand_top_k_df(Q, k=10)
         .collect()]
    assert a == b and len(a) == 10
    # fingerprint chain carried -> the suffix dictionary still trusted
    assert dst._side_current("term_rev")
    got = dst._expand_wildcards([("suffix", "head0")])
    assert got == src._expand_wildcards([("suffix", "head0")])


def test_second_snapshot_reuses_pool(spark, built, tmp_path_factory):
    store, _ = built
    repo = str(tmp_path_factory.mktemp("repo_inc"))
    first = create_snapshot(store, repo, "day1")
    second = create_snapshot(store, repo, "day2")
    assert second["dirs_copied"] == 0
    assert second["dirs_reused"] == first["dirs_copied"]
    assert list_snapshots(repo) == ["day1", "day2"]


def test_duplicate_name_refused(spark, built, tmp_path_factory):
    store, _ = built
    repo = str(tmp_path_factory.mktemp("repo_dup"))
    create_snapshot(store, repo, "x")
    with pytest.raises(ValueError, match="already exists"):
        create_snapshot(store, repo, "x")


def test_missing_snapshot_refused(spark, tmp_path_factory):
    repo = str(tmp_path_factory.mktemp("repo_empty"))
    with pytest.raises(FileNotFoundError, match="not in"):
        restore_snapshot(spark, repo, "nope",
                         str(tmp_path_factory.mktemp("wh_x")))


def test_torn_pool_refused_before_restore(spark, built, tmp_path_factory):
    store, _ = built
    repo = str(tmp_path_factory.mktemp("repo_torn"))
    create_snapshot(store, repo, "s")
    # truncate one pooled parquet file
    data = os.path.join(repo, "data")
    victim = None
    for dirpath, _d, files in os.walk(data):
        for fn in files:
            if fn.endswith(".parquet"):
                victim = os.path.join(dirpath, fn)
                break
        if victim:
            break
    assert victim
    with open(victim, "r+b") as f:
        f.truncate(max(0, os.path.getsize(victim) - 7))
    new_root = str(tmp_path_factory.mktemp("wh_torn"))
    with pytest.raises(ValueError, match="corrupt"):
        restore_snapshot(spark, repo, "s", new_root)
    # verification runs BEFORE materialization: nothing half-restored
    assert not any(os.path.exists(os.path.join(new_root, t,
                                               "manifest.json"))
                   for t in os.listdir(new_root)) \
        if os.path.isdir(new_root) else True
