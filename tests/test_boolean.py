"""Websearch-style boolean retrieval: parser, kernel vs naive oracle,
phrase/prefix/negation paths, facet counts."""
from __future__ import annotations

import pytest
from conftest import TINY_CFG as CFG

from semantic_search_engine_spark.oracle import OracleIndex
from semantic_search_engine_spark.plans.boolean import parse_websearch


# ---------------------------------------------------------------- parser

def test_parse_bare_words_are_anded():
    (c,) = parse_websearch("jaguar speed")
    assert c.req_terms == ("jaguar", "speed")
    assert not c.req_phrases and not c.neg_terms


def test_parse_or_splits_clauses_case_insensitive():
    cs = parse_websearch("cat or dog OR bird")
    assert [c.req_terms for c in cs] == [("cat",), ("dog",), ("bird",)]


def test_parse_negation_phrase_prefix():
    (c,) = parse_websearch('-zoo "big cat" speed* -"night shift"')
    assert c.neg_terms == ("zoo",)
    assert c.req_phrases == (("big", "cat"),)
    assert c.req_wild == (("prefix", "speed"),)
    assert c.neg_phrases == (("night", "shift"),)
    # phrase terms double as required terms
    assert set(c.req_terms) >= {"big", "cat"}


def test_parse_single_token_quote_collapses_to_term():
    (c,) = parse_websearch('"solo" -"alone"')
    assert "solo" in c.req_terms and "alone" in c.neg_terms
    assert not c.req_phrases and not c.neg_phrases


def test_parse_multi_token_word_splits():
    (c,) = parse_websearch("data-pipeline")
    assert c.req_terms == ("data", "pipeline")


def test_parse_pure_negative_clause_rejected():
    with pytest.raises(ValueError, match="positive"):
        parse_websearch("-foo")
    with pytest.raises(ValueError, match="positive"):
        parse_websearch("good OR -bad")


def test_parse_empty_and_or_only():
    assert parse_websearch("") == []
    assert parse_websearch("OR or OR") == []
    assert parse_websearch("!!! ...") == []


# ------------------------------------------------------------ kernel vs oracle

@pytest.fixture(scope="module")
def built_bool(tiny_engine):
    return tiny_engine


@pytest.fixture(scope="module")
def bool_oracle(tiny_rows):
    return OracleIndex.build(tiny_rows, CFG)


def _common_terms(oracle, lo=20, hi=120):
    """Mid-frequency corpus terms — selective but non-empty conjunctions."""
    mids = sorted(t for t, pl in oracle.postings.items()
                  if lo <= len(pl) <= hi)
    assert len(mids) >= 6, "corpus vocabulary too small for boolean tests"
    return mids


BOOL_QUERIES = [
    "{0} {1}",              # AND
    "{0} OR {1}",           # OR
    "{0} -{1}",             # AND NOT
    "{0} {1} OR {2} -{3}",  # mixed DNF
    "{0} OR {0}",           # duplicate clause
    "{0} nosuchterm77",     # dead conjunction
    "{0} OR nosuchterm77",  # dead clause in an OR
]


@pytest.mark.parametrize("tmpl", BOOL_QUERIES)
def test_boolean_matches_oracle(built_bool, bool_oracle, tmpl):
    terms = _common_terms(bool_oracle)
    q = tmpl.format(terms[0], terms[1], terms[2], terms[3])
    got = {int(r["doc_id"]): float(r["score"])
           for r in built_bool.boolean_matches_df(q).collect()}
    want = bool_oracle.boolean_matches(q)
    assert set(got) == set(want)
    for d, s in want.items():
        assert got[d] == pytest.approx(s, rel=1e-12)


def test_boolean_top_k_rank_identical(built_bool, bool_oracle):
    terms = _common_terms(bool_oracle)
    q = f"{terms[0]} OR {terms[1]} -{terms[2]}"
    got = built_bool.boolean_top_k(q, k=10)
    want = bool_oracle.boolean_top_k(q, k=10)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-12)


def test_boolean_prefix_expansion(built_bool, bool_oracle):
    terms = _common_terms(bool_oracle)
    stem = terms[0][:4]
    q = f"{stem}*"
    got = {int(r["doc_id"]): float(r["score"])
           for r in built_bool.boolean_matches_df(q).collect()}
    want = bool_oracle.boolean_matches(q)
    assert got.keys() == want.keys() and len(want) > 0
    for d, s in want.items():
        assert got[d] == pytest.approx(s, rel=1e-12)


def test_boolean_prefix_expansion_cap(built_bool):
    # the synthetic vocabulary has thousands of w-prefixed tail terms
    with pytest.raises(ValueError, match="max_expansions"):
        built_bool._expand_wildcards([("prefix", "w")], max_expansions=1)


def _doc_with_phrase(oracle):
    """(doc_id, first_token, second_token) of a doc with >= 5 tokens and
    distinct leading tokens — a phrase guaranteed to occur there."""
    for did, tpos in oracle.doc_positions.items():
        inv = sorted((p, t) for t, ps in tpos.items() for p in ps)
        if len(inv) >= 5 and inv[0][1] != inv[1][1]:
            return did, inv[0][1], inv[1][1]
    raise AssertionError("no suitable phrase doc in tiny corpus")


def test_boolean_phrase_clause(built_bool, bool_oracle):
    # a phrase that actually occurs: first two tokens of some doc
    did, w0, w1 = _doc_with_phrase(bool_oracle)
    q = f'"{w0} {w1}"'
    got = {int(r["doc_id"]) for r in
           built_bool.boolean_matches_df(q).collect()}
    want = set(bool_oracle.boolean_matches(q))
    assert got == want and did in got


def test_boolean_neg_phrase(built_bool, bool_oracle):
    did, w0, w1 = _doc_with_phrase(bool_oracle)
    # docs containing w0 but NOT the phrase "w0 w1"
    q = f'{w0} -"{w0} {w1}"'
    got = {int(r["doc_id"]) for r in
           built_bool.boolean_matches_df(q).collect()}
    want = set(bool_oracle.boolean_matches(q))
    assert got == want and did not in got
    # sanity: the excluded doc WOULD match without the negation
    assert did in set(bool_oracle.boolean_matches(w0))


def test_boolean_phrase_or_plain_union(built_bool, bool_oracle):
    """A doc matching only the phrase-free clause must not be lost while
    phrase obligations resolve (pending/unconditional split)."""
    did, w0, w1 = _doc_with_phrase(bool_oracle)
    other = next(t for t in _common_terms(bool_oracle)
                 if t not in (w0, w1))
    q = f'"{w0} {w1}" OR {other}'
    got = {int(r["doc_id"]): float(r["score"])
           for r in built_bool.boolean_matches_df(q).collect()}
    want = bool_oracle.boolean_matches(q)
    assert got.keys() == want.keys()
    for d, s in want.items():
        assert got[d] == pytest.approx(s, rel=1e-12)


def test_boolean_empty_query(built_bool):
    assert built_bool.boolean_top_k("", k=5) == []
    assert built_bool.boolean_top_k("zzznope*", k=5) == []


# ---------------------------------------------------------------- facets

def test_facet_counts_any_matches_oracle(built_bool, bool_oracle):
    terms = _common_terms(bool_oracle)
    q = f"{terms[0]} {terms[1]}"
    got = {r["lang"]: int(r["n_docs"])
           for r in built_bool.facet_counts(q, by="lang").collect()}
    want: dict[str, int] = {}
    qset = {terms[0], terms[1]}
    for did, tpos in bool_oracle.doc_positions.items():
        if qset & set(tpos):
            lang = bool_oracle.doc_meta[did]["lang"]
            want[lang] = want.get(lang, 0) + 1
    assert got == want


def test_facet_counts_boolean_mode(built_bool, bool_oracle):
    terms = _common_terms(bool_oracle)
    q = f"{terms[0]} -{terms[1]}"
    got = {r["lang"]: int(r["n_docs"])
           for r in built_bool.facet_counts(q, by="lang",
                                            mode="boolean").collect()}
    want: dict[str, int] = {}
    for did in bool_oracle.boolean_matches(q):
        lang = bool_oracle.doc_meta[did]["lang"]
        want[lang] = want.get(lang, 0) + 1
    assert got == want


def test_facet_counts_bad_mode(built_bool):
    with pytest.raises(ValueError, match="facet mode"):
        built_bool.facet_counts("x", mode="nope")
