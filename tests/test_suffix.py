"""Suffix (leading-wildcard ``*word``) term matching — X64.

Parser, reversed-term dictionary (``build_suffix``) expansion with
parquet pushdown, the full-dictionary fallback, staleness fallback,
pigeonhole refusals, and end-to-end boolean retrieval vs the naive
oracle.
"""
from __future__ import annotations

import pytest
from conftest import TINY_CFG as CFG

from semantic_search_engine_spark.oracle import OracleIndex
from semantic_search_engine_spark.plans.boolean import parse_websearch
from semantic_search_engine_spark.plans.build_index import IndexBuilder
from semantic_search_engine_spark.plans.query import QueryEngine
from semantic_search_engine_spark.sources.store import HadoopTableStore


# ---------------------------------------------------------------- parser

def test_parse_suffix_item():
    (c,) = parse_websearch("*ing other")
    assert c.req_wild == (("suffix", "ing"),)
    assert c.req_terms == ("other",)


def test_parse_suffix_negation():
    (c,) = parse_websearch("word -*ing")
    assert c.neg_wild == (("suffix", "ing"),)
    assert c.req_terms == ("word",)


def test_parse_infix_short_stem_refused():
    # infix parses into a ("contains", stem) wildcard (X65) — but stems
    # shorter than a trigram are refused, and multi-token cores too
    with pytest.raises(ValueError, match="trigram"):
        parse_websearch("*ab*")
    with pytest.raises(ValueError, match="several terms"):
        parse_websearch("*data-pipeline*")
    (c,) = parse_websearch("*foo* ok")
    assert c.req_wild == (("contains", "foo"),) and c.req_terms == ("ok",)
    (c,) = parse_websearch("ok -*bar*")
    assert c.neg_wild == (("contains", "bar"),) and c.req_terms == ("ok",)


def test_parse_bare_star_skipped():
    assert parse_websearch("*") == []
    assert parse_websearch("**") == []
    (c,) = parse_websearch("* word")
    assert c.req_terms == ("word",) and not c.req_wild


def test_parse_multi_token_suffix_word():
    # the FIRST token carries the leading wildcard; the rest are plain
    # required terms (mirror of the prefix rule, which marks the LAST)
    (c,) = parse_websearch("*data-pipeline")
    assert c.req_wild == (("suffix", "data"),)
    assert c.req_terms == ("pipeline",)


def test_parse_suffix_only_negative_clause_rejected():
    with pytest.raises(ValueError, match="positive"):
        parse_websearch("-*ing")


# ------------------------------------------------------- engine fixtures

@pytest.fixture(scope="module")
def built_sfx(tiny_engine):
    return tiny_engine


@pytest.fixture(scope="module")
def sfx_oracle(tiny_rows):
    return OracleIndex.build(tiny_rows, CFG)


def _good_suffix(oracle, lo=2, hi=60):
    """A 3-char suffix matching a handful of vocabulary terms."""
    from collections import Counter

    ends = Counter(t[-3:] for t in oracle.postings if len(t) >= 3)
    for s, n in ends.most_common():
        if lo <= n <= hi:
            docs = {d for t in oracle.postings if t.endswith(s)
                    for d in oracle.postings[t]}
            if docs:
                return s
    raise AssertionError("no suitable suffix in tiny vocabulary")


# ------------------------------------------------------------- expansion

def test_suffix_expansion_matches_endswith(built_sfx, sfx_oracle):
    s = _good_suffix(sfx_oracle)
    got = built_sfx._expand_wildcards([("suffix", s)])
    want = sorted(t for t in sfx_oracle.postings if t.endswith(s))
    assert got == {("suffix", s): want} and len(want) >= 2


def test_suffix_expansion_uses_reverse_dictionary(built_sfx, sfx_oracle):
    """With build_suffix committed, expansion must take the term_rev
    path and the scan must push StartsWith(term_rev) to parquet."""
    assert built_sfx._side_current("term_rev")
    from pyspark.sql import functions as F

    s = _good_suffix(sfx_oracle)
    scan = built_sfx.store.read("term_rev").select("term", "term_rev")
    plan = (scan.filter(F.col("term_rev").startswith(s[::-1]))
            ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters" in plan
    pushed = plan[plan.index("PushedFilters"):]
    assert "term_rev" in pushed[:300], pushed[:300]


def test_suffix_expansion_cap_refusal(built_sfx, sfx_oracle):
    s = _good_suffix(sfx_oracle)  # matches >= 2 dictionary terms
    with pytest.raises(ValueError, match="max_expansions"):
        built_sfx._expand_wildcards([("suffix", s)], max_expansions=1)


def test_suffix_fallback_without_table(spark, tiny_corpus_dir,
                                       sfx_oracle, tmp_path_factory):
    """No term_rev table -> full-dictionary endswith scan, identical
    expansion (the Lucene-without-reverse-filter price)."""
    store = HadoopTableStore(spark,
                             str(tmp_path_factory.mktemp("wh_sfx_nb")))
    docs = spark.read.parquet(f"{tiny_corpus_dir}/documents.parquet")
    IndexBuilder(spark, store, CFG).build(docs)
    qe = QueryEngine(spark, store, CFG)
    assert not qe._side_current("term_rev")
    s = _good_suffix(sfx_oracle)
    want = sorted(t for t in sfx_oracle.postings if t.endswith(s))
    assert qe._expand_wildcards([("suffix", s)]) == {("suffix", s): want}


def test_suffix_stale_dictionary_falls_back(spark, tiny_corpus_dir,
                                            sfx_oracle, tmp_path_factory):
    """Rewriting term_stats (fresh data_uuid) must mark term_rev stale;
    expansion falls back to the full scan and stays correct."""
    store = HadoopTableStore(spark,
                             str(tmp_path_factory.mktemp("wh_sfx_st")))
    docs = spark.read.parquet(f"{tiny_corpus_dir}/documents.parquet")
    b = IndexBuilder(spark, store, CFG)
    b.build(docs)
    b.build_suffix()
    qe = QueryEngine(spark, store, CFG)
    assert qe._side_current("term_rev")
    ts = store.read("term_stats").collect()
    store.write("term_stats",
                spark.createDataFrame(ts, store.read("term_stats").schema))
    qe = QueryEngine(spark, store, CFG)
    assert not qe._side_current("term_rev")
    s = _good_suffix(sfx_oracle)
    want = sorted(t for t in sfx_oracle.postings if t.endswith(s))
    assert qe._expand_wildcards([("suffix", s)]) == {("suffix", s): want}


# ------------------------------------------------------------ end-to-end

def test_boolean_suffix_matches_oracle(built_sfx, sfx_oracle):
    s = _good_suffix(sfx_oracle)
    q = f"*{s}"
    got = {int(r["doc_id"]): float(r["score"])
           for r in built_sfx.boolean_matches_df(q).collect()}
    want = sfx_oracle.boolean_matches(q)
    assert got.keys() == want.keys() and len(want) > 0
    for d, sc in want.items():
        assert got[d] == pytest.approx(sc, rel=1e-12)


def test_boolean_suffix_negation_matches_oracle(built_sfx, sfx_oracle):
    s = _good_suffix(sfx_oracle)
    # a mid-frequency plain term to anchor the positive side
    anchor = sorted(t for t, pl in sfx_oracle.postings.items()
                    if 20 <= len(pl) <= 120 and not t.endswith(s))[0]
    q = f"{anchor} -*{s}"
    got = {int(r["doc_id"]) for r in
           built_sfx.boolean_matches_df(q).collect()}
    want = set(sfx_oracle.boolean_matches(q))
    assert got == want
    # the negation actually excluded something
    assert want < set(sfx_oracle.boolean_matches(anchor))


def test_boolean_suffix_or_prefix_mix(built_sfx, sfx_oracle):
    """Prefix and suffix stems expand from separate maps even when the
    stem STRING collides (p* vs *p)."""
    s = _good_suffix(sfx_oracle)
    q = f"*{s} OR {s}*"
    got = {int(r["doc_id"]): float(r["score"])
           for r in built_sfx.boolean_matches_df(q).collect()}
    want = sfx_oracle.boolean_matches(q)
    assert got.keys() == want.keys()
    for d, sc in want.items():
        assert got[d] == pytest.approx(sc, rel=1e-12)


def test_boolean_suffix_rank_identical(built_sfx, sfx_oracle):
    s = _good_suffix(sfx_oracle)
    got = built_sfx.boolean_top_k(f"*{s}", k=10)
    want = sfx_oracle.boolean_top_k(f"*{s}", k=10)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-12)


def test_boolean_dead_suffix_empty(built_sfx):
    assert built_sfx.boolean_top_k("*zzznope", k=5) == []
