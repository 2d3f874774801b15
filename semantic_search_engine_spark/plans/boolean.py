"""Websearch-style boolean retrieval over the inverted index.

The reference's search box feeds Postgres full-text machinery
(``data-pipeline/database.py:60`` creates the GIN index;
``ProductRepository.java:70-82`` runs the match); the query language
users actually type against such an index is Postgres's
``websearch_to_tsquery``. This module reproduces that surface on the
engine's own postings:

  - bare words            -> AND-required terms
  - ``"quoted phrase"``   -> consecutive-position requirement
  - ``-item``             -> NOT (word, phrase, or wildcard)
  - ``OR``                -> alternation (lowest precedence, case-insensitive)
  - ``word*``             -> prefix match (tsquery's ``word:*``, spelled
                             with a trailing ``*`` like the web syntax)
  - ``*word``             -> suffix match (Lucene/Elasticsearch leading
                             wildcard; Postgres tsquery has no analogue)
  - ``*word*``            -> infix/contains match for stems of >= 3
                             chars, answered through the trigram term
                             dictionary (pg_trgm's plan for
                             ``LIKE '%word%'``; ``build_trigram``) with
                             a full-dictionary ``contains`` fallback —
                             shorter stems are REFUSED (``ValueError``):
                             they can't use trigrams and match an
                             unselective slice of the dictionary
  - ``/pattern/``         -> regex term (Lucene query_string syntax;
                             RegexpQuery semantics — the pattern must
                             match the ENTIRE dictionary term). The
                             literal prefix, if any, pushes to parquet
                             as a term range; dialect is java.util.regex
                             (engines pick one: Postgres ``~`` is POSIX)

Parsing yields disjunctive normal form: a list of conjunctive clauses.
A document matches iff it satisfies at least one clause; its score is
BM25 over the DISTINCT positive terms of the whole query that appear in
the document (ts_rank-style: every matched lexeme contributes once),
so the score is independent of WHICH clause matched.

Execution is one ``applyInPandas`` pass over the term-pruned postings
scan — same plan shape as the WAND fast path (``plans/query.py``):
constant-folded ``term_bucket`` pruning + ``term IN`` pushdown, global
``df`` riding each block row via a broadcast join, per-bucket kernel,
<= P*k merge. Inside a bucket, conjunctions run as sorted-array
intersections over the decoded postings (numpy C loops): the scan is
already pruned to the query's terms, so the work is
O(|query-term postings in bucket|) — embarrassingly parallel across doc
buckets, and vectorized intersection beats a Python-loop cursor walk on
in-memory arrays. Phrase requirements are resolved in a second,
bounded recheck stage (GIN bitmap-then-heap-recheck shape, see
``_phrase_recheck_df``): the kernel emits only docs that already
contain every phrase term, so the re-tokenization join touches a
conjunction-selective candidate set, never the corpus.

Divergence from Postgres, by design: a clause with no positive item
(``-foo`` alone) is rejected with ``ValueError`` — Postgres answers it
with a full-index scan, which is exactly the plan a 10^12-doc engine
must refuse.
"""
from __future__ import annotations

import re
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from ..textproc import tokenize
from .wand import bm25_idf

__all__ = [
    "BooleanClause",
    "wild_label",
    "parse_websearch",
    "extract_site_filters",
    "make_boolean_bucket_fn",
    "BOOLEAN_OUT_SCHEMA",
]

_SITE_RE = re.compile(r'(?:(?<=\s)|^)(-?)site:(\S*)', re.IGNORECASE)


def extract_site_filters(query: str
                         ) -> tuple[str, str | None, str | None]:
    """Pull web-search ``site:host`` / ``-site:host`` operators out of a
    raw query string (the preprocessing every web search box does before
    ranking): returns ``(query_without_site_tokens, site, neg_site)``.
    The host match itself is structured metadata filtering
    (``QueryEngine._host_pred`` — subdomain-inclusive), NOT a ranking
    term, which is why it is extracted rather than parsed into the DNF.
    Repeated operators of the same polarity: the LAST one wins (matching
    how a user edits a query by appending)."""
    site = neg_site = None

    def _take(m: re.Match) -> str:
        nonlocal site, neg_site
        host = m.group(2).strip().strip(".").lower()
        if host:
            if m.group(1):
                neg_site = host
            else:
                site = host
        return ""

    clean = _SITE_RE.sub(_take, query)
    return " ".join(clean.split()), site, neg_site


# ---------------------------------------------------------------------------
# Parser
# ---------------------------------------------------------------------------

#: wildcard kind -> its query syntax; a clause holds each wildcard as
#: one ``(kind, pattern)`` item
WILD_SYNTAX = {"prefix": "{}*", "suffix": "*{}", "contains": "*{}*",
               "regex": "/{}/"}


def wild_label(wild: tuple[str, str]) -> str:
    """A ``(kind, pattern)`` item as the user typed it (``head*``)."""
    kind, pattern = wild
    return WILD_SYNTAX[kind].format(pattern)


@dataclass(frozen=True)
class BooleanClause:
    """One conjunctive clause of the DNF.

    ``req_terms``/``neg_terms`` hold concrete tokens;
    ``req_wild``/``neg_wild`` hold sorted ``(kind, pattern)`` wildcard
    items (kind in :data:`WILD_SYNTAX`), each matched against the term
    dictionary at plan time (``QueryEngine._expand_wildcards``);
    ``req_phrases``/``neg_phrases`` hold token sequences (length >= 2 —
    shorter ones collapse to terms).
    """

    req_terms: tuple[str, ...] = ()
    req_wild: tuple[tuple[str, str], ...] = ()
    req_phrases: tuple[tuple[str, ...], ...] = ()
    neg_terms: tuple[str, ...] = ()
    neg_wild: tuple[tuple[str, str], ...] = ()
    neg_phrases: tuple[tuple[str, ...], ...] = ()

    def has_positive(self) -> bool:
        return bool(self.req_terms or self.req_wild or self.req_phrases)


_LEX_RE = re.compile(r'(-?)"([^"]*)"|(-?)(\S+)')


@dataclass
class _ClauseDraft:
    req_terms: set = field(default_factory=set)
    req_wild: set = field(default_factory=set)
    req_phrases: list = field(default_factory=list)
    neg_terms: set = field(default_factory=set)
    neg_wild: set = field(default_factory=set)
    neg_phrases: list = field(default_factory=list)

    def freeze(self) -> BooleanClause | None:
        # phrase terms double as required terms: a doc lacking any of
        # them cannot contain the phrase, so the conjunction pre-filter
        # is sound — and it is what bounds the recheck candidate set
        req = set(self.req_terms)
        for p in self.req_phrases:
            req.update(p)
        c = BooleanClause(
            req_terms=tuple(sorted(req)),
            req_wild=tuple(sorted(self.req_wild)),
            req_phrases=tuple(dict.fromkeys(map(tuple, self.req_phrases))),
            neg_terms=tuple(sorted(self.neg_terms)),
            neg_wild=tuple(sorted(self.neg_wild)),
            neg_phrases=tuple(dict.fromkeys(map(tuple, self.neg_phrases))),
        )
        if not (c.has_positive() or c.neg_terms or c.neg_wild
                or c.neg_phrases):
            return None  # nothing survived tokenization
        if not c.has_positive():
            raise ValueError(
                "boolean clause with only negations matches 'almost every "
                "document' and would require a full-index scan; add at "
                "least one positive term per OR-clause")
        return c


def parse_websearch(query: str, max_token_len: int = 64,
                    min_token_len: int = 1,
                    analyzer: str = "simple") -> list[BooleanClause]:
    """Parse websearch syntax into DNF clauses (may be empty).

    Tokenization of words and phrases uses the engine tokenizer, so the
    parsed terms are exactly the indexed terms. A word that tokenizes
    to several tokens (``data-pipeline``) contributes each token as a
    required term; inside quotes the tokens stay consecutive (the
    phrase). A trailing ``*`` marks the word's LAST token as a prefix.
    """
    clauses: list[BooleanClause] = []
    cur = _ClauseDraft()

    def flush():
        nonlocal cur
        c = cur.freeze()
        if c is not None:
            clauses.append(c)
        cur = _ClauseDraft()

    for m in _LEX_RE.finditer(query):
        if m.group(2) is not None:  # quoted
            neg = m.group(1) == "-"
            toks = tokenize(m.group(2), max_token_len, min_token_len,
                            analyzer)
            if not toks:
                continue
            if len(toks) == 1:
                (cur.neg_terms if neg else cur.req_terms).add(toks[0])
            else:
                (cur.neg_phrases if neg else cur.req_phrases).append(toks)
            continue
        neg, word = m.group(3) == "-", m.group(4)
        wild = cur.neg_wild if neg else cur.req_wild
        if not neg and word.upper() == "OR":
            flush()
            continue
        if len(word) > 2 and word.startswith("/") and word.endswith("/"):
            # /pattern/ — Lucene query_string regex term (RegexpQuery
            # semantics: the pattern must match the ENTIRE dictionary
            # term). The pattern is NOT analyzed/tokenized — indexed
            # terms are lowercase, so patterns should be too. Dialect is
            # the JVM's java.util.regex on the fast path (each engine
            # picks one: Postgres ~ is POSIX, Lucene has its own);
            # Python re validates syntax up front so a typo fails the
            # parse, not a Spark job.
            pat = word[1:-1]
            try:
                re.compile(pat)
            except re.error as exc:
                raise ValueError(
                    f"invalid regex term {word!r}: {exc}") from exc
            wild.add(("regex", pat))
            continue
        prefix = word.endswith("*")
        suffix = word.startswith("*")
        core = word.strip("*")
        toks = tokenize(core, max_token_len, min_token_len, analyzer)
        if not toks:
            continue
        if prefix and suffix:
            # infix/contains: a single stem routed through the trigram
            # dictionary. Multi-token cores are ambiguous (which token
            # carries the wildcard?) and short stems have no trigram and
            # match an unselective slice of the dictionary — pg_trgm has
            # the same floor (a LIKE '%ab%' never uses its index).
            if len(toks) != 1:
                raise ValueError(
                    f"infix wildcard '{word}' tokenizes to several terms "
                    f"({toks}); wrap a single term, e.g. '*{toks[0]}*'")
            stem = toks[0]
            if len(stem) < 3:
                raise ValueError(
                    f"infix wildcard '*{stem}*' is shorter than a trigram "
                    "(3 chars) and cannot use the trigram dictionary; "
                    "lengthen the stem")
            wild.add(("contains", stem))
            continue
        if prefix:
            wild.add(("prefix", toks[-1]))
            toks = toks[:-1]
        elif suffix:
            wild.add(("suffix", toks[0]))
            toks = toks[1:]
        for t in toks:
            (cur.neg_terms if neg else cur.req_terms).add(t)
    flush()
    return clauses


def positive_terms(clauses: list[BooleanClause],
                   expansions: dict[tuple[str, str], list[str]]
                   ) -> list[str]:
    """Distinct scoring terms: every clause's required terms plus the
    expansions of its required wildcards (phrase terms are already
    folded into req_terms). ``expansions`` maps each ``(kind,
    pattern)`` item to its dictionary terms — the same pattern string
    can appear under several kinds."""
    out: set[str] = set()
    for c in clauses:
        out.update(c.req_terms)
        for w in c.req_wild:
            out.update(expansions.get(w, ()))
    return sorted(out)


def scan_terms(clauses: list[BooleanClause],
               expansions: dict[tuple[str, str], list[str]]
               ) -> list[str]:
    """Every term whose postings the kernel needs: positives, negatives,
    and neg-phrase terms (the latter only to prove phrase ABSENCE cheap:
    a doc missing any term of a negated phrase cannot contain it and
    skips the recheck)."""
    out = set(positive_terms(clauses, expansions))
    for c in clauses:
        out.update(c.neg_terms)
        for w in c.neg_wild:
            out.update(expansions.get(w, ()))
        for ph in c.neg_phrases:
            out.update(ph)
    return sorted(out)


# ---------------------------------------------------------------------------
# Per-bucket kernel
# ---------------------------------------------------------------------------

BOOLEAN_OUT_SCHEMA = ("partition_id int, doc_id long, score double, "
                      "pending_mask long")


def _decode_terms(pdf) -> dict[str, tuple]:
    """Bucket block rows -> term -> (doc_ids, tfs, dls) int64 arrays,
    doc-id-sorted (block rows come doc-range-ordered per term)."""
    from ..functions.varbyte import decode_block

    acc: dict[str, list] = {}
    pdf = pdf.sort_values(["term", "partition_id", "block_id"],
                          kind="mergesort")
    for term, dvb, tvb, lvb in zip(pdf["term"], pdf["doc_ids_vb"],
                                   pdf["tfs_vb"], pdf["dls_vb"]):
        ids, tfs, dls = decode_block(bytes(dvb), bytes(tvb), bytes(lvb))
        acc.setdefault(term, []).append((ids, tfs, dls))
    # int64 throughout: decode_block yields uint64, and a mixed
    # int64/uint64 searchsorted upcasts to float64 — fatal for 60-bit
    # url-hash doc ids (float64 carries 53 mantissa bits)
    return {
        t: (np.concatenate([a[0] for a in parts]).astype(np.int64),
            np.concatenate([a[1] for a in parts]).astype(np.int64),
            np.concatenate([a[2] for a in parts]).astype(np.int64))
        for t, parts in acc.items()
    }


def _sorted_member(haystack: np.ndarray, needles: np.ndarray) -> np.ndarray:
    """Boolean mask: which ``needles`` appear in sorted ``haystack``."""
    if len(haystack) == 0 or len(needles) == 0:
        return np.zeros(len(needles), dtype=bool)
    idx = np.searchsorted(haystack, needles)
    idx[idx == len(haystack)] = len(haystack) - 1
    return haystack[idx] == needles


def _item_docs(item_terms: tuple[str, ...],
               decoded: dict[str, tuple]) -> np.ndarray:
    """Union of the member terms' doc arrays (sorted unique)."""
    arrs = [decoded[t][0] for t in item_terms if t in decoded]
    if not arrs:
        return np.empty(0, dtype=np.int64)
    if len(arrs) == 1:
        return arrs[0]
    out = arrs[0]
    for a in arrs[1:]:
        out = np.union1d(out, a)
    return out


def make_boolean_bucket_fn(clauses_c: list[dict], pos_terms: list[str],
                           k: int | None, k1: float, b: float,
                           avgdl: float, n_docs: int):
    """``applyInPandas`` body: one doc bucket's pruned block rows ->
    boolean survivors with BM25 scores.

    ``clauses_c`` is the driver-compiled DNF: each clause a dict with
    ``req`` / ``neg`` (lists of term-tuples — a tuple is ONE conjunct
    whose members are alternatives, i.e. a prefix expansion),
    ``req_phrases`` / ``neg_phrases`` (term sequences). ``pos_terms``
    is the sorted distinct scoring-term list; the per-doc score folds
    contributions in this exact order (the oracle's float order).

    ``k``: per-bucket cap for UNCONDITIONAL survivors (None = emit all,
    the match-set/facet mode). Docs whose every matching clause still
    has a phrase obligation are emitted with ``pending_mask`` = the
    bitmask of those clauses and are never truncated — the recheck
    stage must rank them after verification.
    """
    if len(clauses_c) > 63:
        raise ValueError("at most 63 OR-clauses supported")

    def run_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({
            "partition_id": pd.Series([], dtype="int32"),
            "doc_id": pd.Series([], dtype="int64"),
            "score": pd.Series([], dtype="float64"),
            "pending_mask": pd.Series([], dtype="int64"),
        })
        if not len(pdf):
            return empty
        pid = int(pdf["partition_id"].iloc[0])
        decoded = _decode_terms(pdf)
        uniq = pdf[["term", "df"]].drop_duplicates("term")
        idf = {t: bm25_idf(n_docs, int(d))
               for t, d in zip(uniq["term"], uniq["df"])}

        # doc -> pending bitmask; presence with mask 0 = unconditional
        state: dict[int, int] = {}
        for ci, cl in enumerate(clauses_c):
            items = [_item_docs(it, decoded) for it in cl["req"]]
            if not items or any(len(a) == 0 for a in items):
                continue
            items.sort(key=len)
            cand = items[0]
            for a in items[1:]:
                cand = cand[_sorted_member(a, cand)]
                if len(cand) == 0:
                    break
            if len(cand) == 0:
                continue
            for it in cl["neg"]:
                ex = _item_docs(it, decoded)
                if len(ex):
                    cand = cand[~_sorted_member(ex, cand)]
                if len(cand) == 0:
                    break
            if len(cand) == 0:
                continue
            # phrase obligations: req phrases always pend; a neg phrase
            # pends only for docs that contain ALL its terms (others
            # provably cannot contain it)
            pending = np.zeros(len(cand), dtype=bool)
            if cl["req_phrases"]:
                pending[:] = True
            for ph in cl["neg_phrases"]:
                ph_docs = None
                dead = False
                for t in ph:
                    if t not in decoded:
                        dead = True
                        break
                    td = decoded[t][0]
                    ph_docs = td if ph_docs is None else \
                        ph_docs[_sorted_member(td, ph_docs)]
                    if len(ph_docs) == 0:
                        dead = True
                        break
                if not dead and len(ph_docs):
                    pending |= _sorted_member(ph_docs, cand)
            bit = 1 << ci
            for d, p in zip(cand.tolist(), pending.tolist()):
                prev = state.get(d)
                if p:
                    if prev is None:
                        state[d] = bit
                    elif prev != 0:
                        state[d] = prev | bit
                    # prev == 0: already unconditional, stays 0
                else:
                    state[d] = 0

        if not state:
            return empty
        docs = np.fromiter(state.keys(), dtype=np.int64, count=len(state))
        order = np.argsort(docs, kind="mergesort")
        docs = docs[order]
        masks = np.fromiter(state.values(), dtype=np.int64,
                            count=len(state))[order]

        # BM25 over the distinct positive terms present, folded in
        # sorted-term order (bit-compatible with the oracle's sum fold)
        scores = np.zeros(len(docs), dtype=np.float64)
        for t in pos_terms:
            if t not in decoded:
                continue
            td, ttf, tdl = decoded[t]
            m = _sorted_member(td, docs)
            if not m.any():
                continue
            at = np.searchsorted(td, docs[m])
            tf = ttf[at].astype(np.float64)
            dl = tdl[at].astype(np.float64)
            scores[m] += idf[t] * (tf / (tf + k1 * (1.0 - b
                                                    + b * dl / avgdl)))

        uncond = masks == 0
        if k is not None and uncond.sum() > k:
            # keep the bucket-local top-k of the unconditional docs
            # (score DESC, doc_id ASC); pending docs are never cut here
            ui = np.flatnonzero(uncond)
            top = np.lexsort((docs[ui], -scores[ui]))[:k]
            keep = np.zeros(len(docs), dtype=bool)
            keep[ui[top]] = True
            keep |= ~uncond
        else:
            keep = np.ones(len(docs), dtype=bool)
        return pd.DataFrame({
            "partition_id": pd.Series(np.full(int(keep.sum()), pid,
                                              dtype=np.int32)),
            "doc_id": pd.Series(docs[keep]),
            "score": pd.Series(scores[keep]),
            "pending_mask": pd.Series(masks[keep]),
        })

    return run_bucket
