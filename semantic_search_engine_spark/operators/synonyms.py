"""Query-time synonym rewrite — the engine's ``ts_rewrite``.

Postgres ships query rewriting for its full-text stack (``ts_rewrite``:
a rule table rewrites the tsquery before it hits the GIN index the
reference builds, ``data-pipeline/database.py:60``). This module is that
capability for this engine, as a pure *query-plan* transformation — no
index change, no extra storage:

* ranked path: the query's term set is EXPANDED with each term's
  synonyms and handed to the standard block-max WAND pipeline — classic
  query expansion (a synonym is one more scored cursor; BM25's idf
  naturally down-weights common synonyms).
* boolean path: each DNF clause is rewritten by cross-producting every
  required term with its synonym group — exactly ts_rewrite's
  ``'a' -> 'a | a2'`` distribution over the flat OR-of-ANDs grammar
  (``plans/boolean.py``). ``(cat food) OR (dog)`` with cat→feline
  becomes ``(cat food) OR (feline food) OR (dog)``.

The rewrite happens driver-side on a handful of clause tuples; the data
plan that runs afterwards is unchanged machinery. A deliberately refused
edge mirrors the prefix-expansion cap (SURVEY X34): clause cross-products
are bounded by ``max_clauses`` and raise instead of silently exploding.

Scale note: the synonym map is query-state (tens of entries), never
shipped to executors as data — only the expanded term literals enter the
plan, so pruning (term_bucket constant folding + ``term IN``) works
unchanged on the expanded set.
"""

from __future__ import annotations

from dataclasses import replace
from itertools import product

from ..textproc import tokenize
from ..plans.boolean import BooleanClause


def normalize_synonyms(synonyms: dict[str, list[str] | tuple[str, ...]],
                       max_token_len: int = 64,
                       min_token_len: int = 1,
                       analyzer: str = "simple"
                       ) -> dict[str, tuple[str, ...]]:
    """Canonicalize a user synonym map through the ENGINE tokenizer so
    every key and value is an indexed-term form. Multi-token entries
    ("hot dog") are rejected — the flat grammar has no phrase-synonym
    slot; a one-token key whose synonym tokenizes to nothing is dropped.
    Identity entries are removed; values are deduped and sorted."""
    out: dict[str, tuple[str, ...]] = {}
    for key, vals in synonyms.items():
        kt = tokenize(key, max_token_len, min_token_len, analyzer)
        if len(kt) != 1:
            raise ValueError(
                f"synonym key {key!r} is not a single indexed term "
                f"(tokenizes to {kt}); phrase synonyms are unsupported")
        k = kt[0]
        group: set[str] = set()
        for v in vals:
            vt = tokenize(v, max_token_len, min_token_len, analyzer)
            if len(vt) > 1:
                raise ValueError(
                    f"synonym value {v!r} for {key!r} is not a single "
                    f"indexed term (tokenizes to {vt})")
            if vt and vt[0] != k:
                group.add(vt[0])
        if group:
            out[k] = tuple(sorted(group))
    return out


def expand_terms(qterms: list[str],
                 synonyms: dict[str, tuple[str, ...]]) -> list[str]:
    """Ranked-path expansion: the union of the query terms and every
    synonym of a query term, sorted and deduped — the term set the WAND
    pipeline scores."""
    out = set(qterms)
    for t in qterms:
        out.update(synonyms.get(t, ()))
    return sorted(out)


def rewrite_clauses(clauses: list[BooleanClause],
                    synonyms: dict[str, tuple[str, ...]],
                    max_clauses: int = 63) -> list[BooleanClause]:
    """Boolean-path rewrite: distribute each clause's required terms over
    their synonym groups (cross product), preserving wildcards/phrases/
    negations untouched per alternative. Negated terms are NOT expanded:
    ``-spam`` keeps excluding exactly ``spam`` (ts_rewrite likewise only
    rewrites what the rule's left side names). Result clauses are deduped
    while preserving first-appearance order. ``max_clauses`` defaults to
    the boolean kernel's own 63-clause ceiling (plans/boolean.py) so the
    refusal fires here, with the actionable message, never downstream."""
    rewritten: list[BooleanClause] = []
    seen: set[BooleanClause] = set()
    for c in clauses:
        groups = [(t,) + synonyms.get(t, ()) for t in c.req_terms]
        n_alts = 1
        for g in groups:
            n_alts *= len(g)
        if len(rewritten) + n_alts > max_clauses:
            raise ValueError(
                f"synonym rewrite would expand to more than "
                f"{max_clauses} OR-clauses; tighten the synonym map or "
                f"raise max_clauses")
        for combo in product(*groups) if groups else [()]:
            alt = replace(c, req_terms=tuple(sorted(set(combo))))
            if alt not in seen:
                seen.add(alt)
                rewritten.append(alt)
    return rewritten
