"""Infix/contains wildcard (``*word*``) via the trigram term
dictionary — X65.

Build, planner-known partition pruning, intersection+verify expansion,
the full-dictionary fallback, staleness fallback, cap refusals, and
end-to-end boolean retrieval vs the naive oracle.
"""
from __future__ import annotations

import re

import pytest
from conftest import TINY_CFG as CFG

from semantic_search_engine_spark.oracle import OracleIndex
from semantic_search_engine_spark.plans.build_index import IndexBuilder
from semantic_search_engine_spark.plans.query import QueryEngine
from semantic_search_engine_spark.sources.store import HadoopTableStore


@pytest.fixture(scope="module")
def built_tri(tiny_engine):
    return tiny_engine


@pytest.fixture(scope="module")
def tri_oracle(tiny_rows):
    return OracleIndex.build(tiny_rows, CFG)


def _good_stem(oracle, lo=2, hi=60):
    """An interior 3-char stem matching a handful of vocabulary terms,
    where at least one match is a PROPER infix (not prefix/suffix) so
    the test can't pass via the other dictionaries."""
    from collections import Counter

    mids = Counter(t[i:i + 3] for t in oracle.postings
                   for i in range(1, len(t) - 3))
    for s, _n in mids.most_common():
        matches = [t for t in oracle.postings if s in t]
        if lo <= len(matches) <= hi and any(
                not t.startswith(s) and not t.endswith(s) for t in matches):
            return s
    raise AssertionError("no suitable infix stem in tiny vocabulary")


# --------------------------------------------------------------- building

def test_trigram_table_shape(built_tri):
    rows = built_tri.store.read("term_trigram").collect()
    assert rows, "empty trigram dictionary"
    seen = set()
    for r in rows:
        assert len(r["trigram"]) == 3
        assert r["trigram"] in r["term"]
        assert r["tri_bucket"] == ord(r["trigram"][0]) % CFG.n_term_buckets
        key = (r["trigram"], r["term"])
        assert key not in seen, f"duplicate {key}"
        seen.add(key)


def test_trigram_table_complete(built_tri, tri_oracle):
    """Every (trigram, term) of the dictionary is present."""
    want = {(t[i:i + 3], t) for t in tri_oracle.postings if len(t) >= 3
            for i in range(len(t) - 2)}
    got = {(r["trigram"], r["term"])
           for r in built_tri.store.read("term_trigram").collect()}
    assert got == want


def test_trigram_requires_base_index(spark, tmp_path_factory):
    store = HadoopTableStore(spark, str(tmp_path_factory.mktemp("wh_tri_e")))
    with pytest.raises(ValueError, match="term_stats"):
        IndexBuilder(spark, store, CFG).build_trigram()


# -------------------------------------------------------------- expansion

def test_contains_expansion_matches_oracle(built_tri, tri_oracle):
    s = _good_stem(tri_oracle)
    got = built_tri._expand_wildcards([("contains", s)])
    want = sorted(t for t in tri_oracle.postings if s in t)
    assert got == {("contains", s): want} and len(want) >= 2


def test_contains_expansion_prunes_partitions(built_tri, tri_oracle):
    """The trigram scan filters tri_bucket with values computed by the
    PLANNER (first byte mod n) — directory-level pruning, asserted on
    the physical plan."""
    assert built_tri._side_current("term_trigram")
    from pyspark.sql import functions as F

    s = _good_stem(tri_oracle)
    tris = built_tri._trigrams(s)
    buckets = sorted({ord(t[0]) % CFG.n_term_buckets for t in tris})
    scan = (built_tri.store.read("term_trigram")
            .filter(F.col("tri_bucket").isin(buckets))
            .filter(F.col("trigram").isin(tris)))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan[plan.index("PartitionFilters"):]
    assert "tri_bucket" in pf[:200], pf[:200]


def test_contains_multi_stem_expansion(built_tri, tri_oracle):
    """Two stems expand independently from one combined scan."""
    s = _good_stem(tri_oracle)
    vocab = sorted(tri_oracle.postings)
    other = next(t for t in vocab if len(t) >= 4 and s not in t)
    got = built_tri._expand_wildcards([("contains", s), ("contains", other)])
    assert got[("contains", s)] == sorted(t for t in vocab if s in t)
    assert got[("contains", other)] == sorted(t for t in vocab if other in t)
    assert other in got[("contains", other)]


def test_contains_expansion_cap_refusal(built_tri, tri_oracle):
    s = _good_stem(tri_oracle)  # matches >= 2 dictionary terms
    with pytest.raises(ValueError, match="max_expansions"):
        built_tri._expand_wildcards([("contains", s)], max_expansions=1)


def test_contains_refusal_names_the_wildcard(built_tri, tri_oracle):
    s = _good_stem(tri_oracle)
    n = sum(s in t for t in tri_oracle.postings)
    with pytest.raises(ValueError,
                       match=re.escape(f"*{s}* matches {n} dictionary")):
        built_tri._expand_wildcards([("contains", s)], max_expansions=1)


def test_contains_cap_counts_matches_not_candidates(spark,
                                                    tmp_path_factory):
    """Trigram candidates are a superset of the matches (containment
    ignores order): ``abcxbcd`` carries every trigram of ``abcd``
    without containing it. The cap counts verified matches only, so
    the stem's one match expands under ``max_expansions=1``."""
    from pyspark.sql import functions as F

    store = HadoopTableStore(spark,
                             str(tmp_path_factory.mktemp("wh_tri_cand")))
    docs = spark.createDataFrame(
        [("https://a.example/", None, "zabcdz alpha", "en"),
         ("https://b.example/", None, "abcxbcd beta", "en")],
        "url string, warc_ts timestamp, text string, lang string"
    ).withColumn("html", F.lit(None).cast("binary"))
    b = IndexBuilder(spark, store, CFG)
    b.build(docs)
    b.build_trigram()
    qe = QueryEngine(spark, store, CFG)
    assert qe._side_current("term_trigram")
    assert qe._expand_wildcards([("contains", "abcd")], max_expansions=1) \
        == {("contains", "abcd"): ["zabcdz"]}


def test_contains_fallback_without_table(spark, tiny_corpus_dir,
                                         tri_oracle, tmp_path_factory):
    """No term_trigram table -> full-dictionary contains scan,
    identical expansion (the missing-pg_trgm-index seq-scan price)."""
    store = HadoopTableStore(spark,
                             str(tmp_path_factory.mktemp("wh_tri_nb")))
    docs = spark.read.parquet(f"{tiny_corpus_dir}/documents.parquet")
    IndexBuilder(spark, store, CFG).build(docs)
    qe = QueryEngine(spark, store, CFG)
    assert not qe._side_current("term_trigram")
    s = _good_stem(tri_oracle)
    want = sorted(t for t in tri_oracle.postings if s in t)
    assert qe._expand_wildcards([("contains", s)]) == {("contains", s): want}


def test_contains_stale_dictionary_falls_back(spark, tiny_corpus_dir,
                                              tri_oracle, tmp_path_factory):
    """Rewriting term_stats (fresh data_uuid) must mark term_trigram
    stale; expansion falls back to the full scan and stays correct."""
    store = HadoopTableStore(spark,
                             str(tmp_path_factory.mktemp("wh_tri_st")))
    docs = spark.read.parquet(f"{tiny_corpus_dir}/documents.parquet")
    b = IndexBuilder(spark, store, CFG)
    b.build(docs)
    b.build_trigram()
    qe = QueryEngine(spark, store, CFG)
    assert qe._side_current("term_trigram")
    ts = store.read("term_stats").collect()
    store.write("term_stats",
                spark.createDataFrame(ts, store.read("term_stats").schema))
    qe = QueryEngine(spark, store, CFG)
    assert not qe._side_current("term_trigram")
    s = _good_stem(tri_oracle)
    want = sorted(t for t in tri_oracle.postings if s in t)
    assert qe._expand_wildcards([("contains", s)]) == {("contains", s): want}


# ------------------------------------------------------------- end-to-end

def test_boolean_contains_matches_oracle(built_tri, tri_oracle):
    s = _good_stem(tri_oracle)
    q = f"*{s}*"
    got = {int(r["doc_id"]): float(r["score"])
           for r in built_tri.boolean_matches_df(q).collect()}
    want = tri_oracle.boolean_matches(q)
    assert got.keys() == want.keys() and len(want) > 0
    for d, sc in want.items():
        assert got[d] == pytest.approx(sc, rel=1e-12)


def test_boolean_contains_negation_matches_oracle(built_tri, tri_oracle):
    s = _good_stem(tri_oracle)
    anchor = sorted(t for t, pl in tri_oracle.postings.items()
                    if 20 <= len(pl) <= 120 and s not in t)[0]
    q = f"{anchor} -*{s}*"
    got = {int(r["doc_id"]) for r in
           built_tri.boolean_matches_df(q).collect()}
    want = set(tri_oracle.boolean_matches(q))
    assert got == want
    assert want < set(tri_oracle.boolean_matches(anchor))


def test_boolean_contains_mixed_wildcards(built_tri, tri_oracle):
    """Prefix, suffix, and infix stems of the SAME string expand from
    separate maps and compose in one query."""
    s = _good_stem(tri_oracle)
    q = f"*{s}* OR {s}* OR *{s}"
    got = {int(r["doc_id"]): float(r["score"])
           for r in built_tri.boolean_matches_df(q).collect()}
    want = tri_oracle.boolean_matches(q)
    assert got.keys() == want.keys()
    for d, sc in want.items():
        assert got[d] == pytest.approx(sc, rel=1e-12)


def test_boolean_contains_rank_identical(built_tri, tri_oracle):
    s = _good_stem(tri_oracle)
    got = built_tri.boolean_top_k(f"*{s}*", k=10)
    want = tri_oracle.boolean_top_k(f"*{s}*", k=10)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-12)


def test_boolean_dead_stem_empty(built_tri):
    assert built_tri.boolean_top_k("*zzqx9*", k=5) == []
