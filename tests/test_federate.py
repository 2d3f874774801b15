"""Federated multi-index retrieval (SURVEY.md §2.3 X61): querying N
disjoint indexes with global BM25 statistics must be BIT-IDENTICAL to
querying one index built over the union of their corpora — the
time-partitioned-crawl serving shape (Elasticsearch alias +
dfs_query_then_fetch), which the combined-index equivalence pins exactly."""
from __future__ import annotations

import zlib

import pytest
from pyspark.sql import functions as F

from semantic_search_engine_spark.config import EngineConfig
from semantic_search_engine_spark.oracle import OracleIndex
from semantic_search_engine_spark.plans.build_index import IndexBuilder
from semantic_search_engine_spark.plans.federate import FederatedQueryEngine
from semantic_search_engine_spark.plans.query import QueryEngine
from semantic_search_engine_spark.sources.store import HadoopTableStore

# deliberately DIFFERENT physical layouts per slice: federation requires
# identical scoring configs, not identical layouts
CFG_COMBINED = EngineConfig(n_doc_buckets=4, n_term_buckets=4,
                            shuffle_partitions=4, block_size=16)
CFG_A = EngineConfig(n_doc_buckets=2, n_term_buckets=2,
                     shuffle_partitions=4, block_size=8)
CFG_B = EngineConfig(n_doc_buckets=8, n_term_buckets=4,
                     shuffle_partitions=4, block_size=32)


def _halves(docs):
    """Deterministic 2-way split of the corpus rows (null urls → slice 0;
    they fail the validity filter in any slice)."""
    key = F.coalesce(F.pmod(F.xxhash64("url"), F.lit(2)), F.lit(0))
    return docs.filter(key == 0), docs.filter(key == 1)


@pytest.fixture(scope="module")
def fed_setup(spark, tiny_corpus_dir, tmp_path_factory):
    docs = spark.read.parquet(f"{tiny_corpus_dir}/documents.parquet")
    half_a, half_b = _halves(docs)

    st_all = HadoopTableStore(spark, str(tmp_path_factory.mktemp("wh_all")))
    IndexBuilder(spark, st_all, CFG_COMBINED).build(docs)
    st_a = HadoopTableStore(spark, str(tmp_path_factory.mktemp("wh_a")))
    IndexBuilder(spark, st_a, CFG_A).build(half_a)
    st_b = HadoopTableStore(spark, str(tmp_path_factory.mktemp("wh_b")))
    IndexBuilder(spark, st_b, CFG_B).build(half_b)

    combined = QueryEngine(spark, st_all, CFG_COMBINED)
    eng_a = QueryEngine(spark, st_a, CFG_A)
    eng_b = QueryEngine(spark, st_b, CFG_B)
    fed = FederatedQueryEngine(spark, [eng_a, eng_b])
    return combined, eng_a, eng_b, fed


FED_QUERIES = ["wireless bluetooth headphones", "zipfhead0 zipfhead1",
               "entities", "smartphone camera", "raretermxq",
               "absentterm9z"]


def test_global_stats_match_combined(fed_setup):
    combined, _a, _b, fed = fed_setup
    gs = fed.global_stats()
    cs = combined.corpus_stats()
    assert gs["n_docs"] == cs["n_docs"]
    # exact: integer total_tokens summed, one float division — the same
    # value the combined build's avg(long) computes
    assert gs["avg_doc_len"] == cs["avg_doc_len"]


@pytest.mark.parametrize("q", FED_QUERIES)
def test_federated_bit_identical_to_combined(fed_setup, q):
    combined, _a, _b, fed = fed_setup
    got = fed.top_k(q, k=10)
    want = combined.top_k(q, k=10)
    assert got == want, q  # doc ids AND float scores, exact


def test_federated_filtered_identical(fed_setup):
    combined, _a, _b, fed = fed_setup
    q = "wireless bluetooth headphones"
    got = fed.top_k(q, k=10, lang="en")
    want = [(int(r["doc_id"]), float(r["score"]))
            for r in combined.wand_top_k_df(q, k=10, lang="en").collect()]
    assert got == want
    # the de-language'd doc 8 must be present unfiltered, absent filtered
    unfiltered = dict(fed.top_k(q, k=100))
    assert set(dict(got)) < set(unfiltered)


def test_federated_min_score_seeded(fed_setup):
    combined, _a, _b, fed = fed_setup
    q = "zipfhead0 zipfhead1"
    base = fed.top_k(q, k=10)
    cutoff = base[2][1]  # 3rd score as inclusive threshold
    got = fed.top_k(q, k=10, min_score=cutoff)
    want = [(d, s) for d, s in base if s >= cutoff]
    assert got == want
    assert len(got) == 3 or all(s >= cutoff for _, s in got)


def test_federated_search_envelope_hydrates_from_owning_index(fed_setup):
    combined, _a, _b, fed = fed_setup
    q = "zipfhead0 zipfhead1"  # matches far more than k docs
    env = fed.search(q, k=5)
    assert len(env["results"]) == 5
    comb = combined.search(q, k=5)
    assert ([h["url"] for h in env["results"]]
            == [h["url"] for h in comb["results"]])
    assert all(h["index"] in (0, 1) for h in env["results"])
    assert all(h["url"] for h in env["results"])


def test_single_member_federation_degenerates(fed_setup):
    _c, eng_a, _b, fed = fed_setup
    solo = FederatedQueryEngine(fed.spark, [eng_a])
    q = "zipfhead0"
    assert solo.top_k(q, k=10) == eng_a.top_k(q, k=10)


def test_scoring_config_mismatch_refused(fed_setup):
    _c, eng_a, eng_b, _fed = fed_setup
    bad_cfg = EngineConfig(n_doc_buckets=8, n_term_buckets=4,
                           shuffle_partitions=4, block_size=32, k1=0.9)
    bad = QueryEngine(eng_b.spark, eng_b.store, None)
    object.__setattr__(bad, "cfg", bad_cfg)
    with pytest.raises(ValueError, match="scoring config"):
        FederatedQueryEngine(eng_a.spark, [eng_a, bad])


def test_disjointness_audit(fed_setup):
    _c, eng_a, eng_b, fed = fed_setup
    fed.assert_disjoint()  # halves are disjoint by construction
    with pytest.raises(ValueError, match="overlap"):
        FederatedQueryEngine(fed.spark, [eng_a, eng_a]).assert_disjoint()


def _rows_df(spark, rows):
    """(url, warc_ts, html, text, lang) dict rows → input DataFrame."""
    return spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])
         for r in rows],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")


def test_global_stats_follow_member_ingest(spark, tiny_rows, tiny_oracle,
                                           tmp_path_factory):
    """An ingest into one member moves the federation's N/avgdl with its
    df: the SAME federation, queried before and after, then scores
    exactly like a fresh federation and like the oracle over every
    slice. Three url-disjoint slices of the tiny corpus: A and B are
    built, then C is ingested into A."""
    slices: list[list[dict]] = [[], [], []]
    for r in tiny_rows:
        slices[zlib.crc32((r["url"] or "").encode()) % 3].append(r)
    st_a = HadoopTableStore(spark, str(tmp_path_factory.mktemp("wh_ia")))
    builder_a = IndexBuilder(spark, st_a, CFG_A)
    builder_a.build(_rows_df(spark, slices[0]))
    st_b = HadoopTableStore(spark, str(tmp_path_factory.mktemp("wh_ib")))
    IndexBuilder(spark, st_b, CFG_B).build(_rows_df(spark, slices[1]))
    eng_a = QueryEngine(spark, st_a, CFG_A)
    eng_b = QueryEngine(spark, st_b, CFG_B)
    fed = FederatedQueryEngine(spark, [eng_a, eng_b])

    q = "zipfhead0 zipfhead1"
    before = fed.top_k(q, k=10)
    assert before == OracleIndex.build(slices[0] + slices[1],
                                       EngineConfig()).top_k(q, k=10)
    builder_a.ingest_updates(_rows_df(spark, slices[2]))
    after = fed.top_k(q, k=10)
    assert after == FederatedQueryEngine(spark, [eng_a, eng_b]).top_k(
        q, k=10)
    assert after == tiny_oracle.top_k(q, k=10)  # doc ids AND scores
    assert after != before


def test_absent_terms_empty(fed_setup):
    _c, _a, _b, fed = fed_setup
    assert fed.top_k("absentterm9z qqqq", k=10) == []
