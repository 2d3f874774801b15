"""Regex term queries (``/pattern/``, X69): parser, literal-prefix
extraction, dictionary expansion with JVM rlike + StartsWith pushdown,
cap refusals, and end-to-end boolean retrieval vs the naive oracle.
Patterns stay inside the java.util.regex / Python-re portable subset —
the engine's documented dialect is the JVM's."""
from __future__ import annotations

import pytest
from conftest import TINY_CFG as CFG

from semantic_search_engine_spark.oracle import OracleIndex
from semantic_search_engine_spark.plans.boolean import parse_websearch
from semantic_search_engine_spark.plans.query import QueryEngine


# ---------------------------------------------------------------- parser

def test_parse_regex_terms():
    (c,) = parse_websearch("/zipf.*/ ok")
    assert c.req_wild == (("regex", "zipf.*"),) and c.req_terms == ("ok",)
    (c,) = parse_websearch("ok -/foo[0-9]+/")
    assert c.neg_wild == (("regex", "foo[0-9]+"),) and c.req_terms == ("ok",)


def test_parse_regex_invalid_refused():
    with pytest.raises(ValueError, match="invalid regex"):
        parse_websearch("/foo[/")


def test_parse_regex_or_clauses():
    cs = parse_websearch("/a+/ OR /b+/")
    assert [c.req_wild for c in cs] == [(("regex", "a+"),), (("regex", "b+"),)]


def test_literal_prefix_extraction():
    f = QueryEngine._regex_literal_prefix
    assert f("zipf.*") == "zipf"
    assert f("ab*") == "a"        # quantified char excluded
    assert f("a+b") == ""
    assert f(".*x") == ""
    assert f("foo") == "foo"
    assert f(r"a\d+") == "a"
    assert f("qu(x|y)") == "qu"


# ---------------------------------------------------------- expansion

@pytest.fixture(scope="module")
def built(tiny_engine):
    return tiny_engine


@pytest.fixture(scope="module")
def rex_oracle(tiny_rows):
    return OracleIndex.build(tiny_rows, CFG)


def test_expansion_matches_python_re(built, rex_oracle):
    import re
    pat = "zipfhead[0-9]"
    want = sorted(t for t in rex_oracle.postings if re.fullmatch(pat, t))
    assert len(want) >= 2
    assert built._expand_wildcards([("regex", pat)]) == {("regex", pat): want}


def test_expansion_multiple_patterns_assigned_independently(built,
                                                            rex_oracle):
    import re
    pats = ["zipfhead[0-9]", "zipf.*[02468]"]
    got = built._expand_wildcards([("regex", p) for p in pats])
    for p in pats:
        want = sorted(t for t in rex_oracle.postings if re.fullmatch(p, t))
        assert got[("regex", p)] == want, p


def test_expansion_cap_refusal(built):
    with pytest.raises(ValueError, match="max_expansions"):
        built._expand_wildcards([("regex", ".*")], max_expansions=5)


def test_expansion_refusal_names_the_wildcard(built, rex_oracle):
    import re
    pat = "zipfhead[0-9]"
    n = sum(re.fullmatch(pat, t) is not None for t in rex_oracle.postings)
    with pytest.raises(ValueError,
                       match=re.escape(f"/{pat}/ matches {n} dictionary")):
        built._expand_wildcards([("regex", pat)], max_expansions=1)


def test_mixed_kinds_share_one_collect(built, rex_oracle, collected_plans):
    """A regex and a prefix both read term_stats: ONE capped driver
    collect serves both (one per kind before), and each wildcard's
    membership comes from that same JVM evaluation."""
    import re
    got = built._expand_wildcards([("regex", "zipfhead[02]"),
                                   ("prefix", "zipfhead1")])
    assert len(collected_plans) == 1, collected_plans
    assert "term_stats" in collected_plans[0], collected_plans[0]
    vocab = sorted(rex_oracle.postings)
    assert got == {
        ("regex", "zipfhead[02]"):
            [t for t in vocab if re.fullmatch("zipfhead[02]", t)],
        ("prefix", "zipfhead1"): [t for t in vocab
                                  if t.startswith("zipfhead1")]}
    assert all(got.values())


def test_expansion_no_match_empty(built):
    assert built._expand_wildcards([("regex", "qqqzzz[0-9]{4}")]) == \
        {("regex", "qqqzzz[0-9]{4}"): []}


# ------------------------------------------------------------- end-to-end

def test_boolean_regex_matches_oracle(built, rex_oracle):
    q = "/zipfhead[0-9]/"
    got = {int(r["doc_id"]): float(r["score"])
           for r in built.boolean_matches_df(q).collect()}
    want = rex_oracle.boolean_matches(q)
    assert got.keys() == want.keys() and len(want) > 0
    for d, sc in want.items():
        assert got[d] == pytest.approx(sc, rel=1e-12)


def test_boolean_regex_negation_matches_oracle(built, rex_oracle):
    q = "zipfhead0 -/zipfhead[1-9]/"
    got = {int(r["doc_id"]) for r in built.boolean_matches_df(q).collect()}
    want = set(rex_oracle.boolean_matches(q))
    assert got == want
    assert want < set(rex_oracle.boolean_matches("zipfhead0"))


def test_boolean_regex_composes_with_wildcards(built, rex_oracle):
    q = "/zipfhead[02]/ OR zipfhead1* OR *head3"
    got = {int(r["doc_id"]): float(r["score"])
           for r in built.boolean_matches_df(q).collect()}
    want = rex_oracle.boolean_matches(q)
    assert got.keys() == want.keys()
    for d, sc in want.items():
        assert got[d] == pytest.approx(sc, rel=1e-12)


def test_boolean_regex_rank_identical(built, rex_oracle):
    q = "/zipfhead[0-9]/"
    got = built.boolean_top_k(q, k=10)
    want = rex_oracle.boolean_top_k(q, k=10)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-12)
