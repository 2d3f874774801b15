"""Full-query "did you mean" — Elasticsearch's PHRASE suggester shape
(its docs describe exactly this decomposition: per-term candidate
GENERATORS + an n-gram LANGUAGE MODEL re-ranker + a confidence cutoff),
composed from two operators this engine already has:

- candidate generation: the SymSpell deletion index (operators/fuzzy.py,
  X39) — each query token proposes dictionary terms within
  ``max_edit``, including itself at distance 0 when it IS a dictionary
  term (real-word errors stay correctable: "form" vs "from");
- re-ranking: the Stupid-Backoff bigram LM (operators/lm.py, X63)
  trained on the corpus itself — the noisy-channel decomposition
  P(intended) x P(typed | intended), with the channel model a
  per-edit log-penalty (``error_logp`` per Damerau-Levenshtein edit)
  and the source model the LM's sequence score.

Decoding is an exact left-to-right Viterbi over the per-position
candidate lattice (state = previous token): with per-position candidate
lists capped at ``per_term`` the lattice is tiny, so no beam
approximation is needed — the argmax is exact (pinned against
brute-force enumeration in tests).

Distribution: Spark does what scales — the deletion-index probe
(``variant IN`` pushdown, X39's plan) and TWO pruned count lookups
(unigram rows for all candidates, bigram rows for adjacent candidate
pairs; both ``IN``-list scans over count tables, ≤ per_term²·L rows to
the driver). The Viterbi itself is O(L · per_term²) Python over those
scalars — driver-side by design, exactly like the single-query WAND
theta bootstrap. At 10^6 queries/batch, wrap this per-query logic in
``mapInPandas`` over a broadcast count snapshot (the X13 pattern);
the per-query math is unchanged.
"""
from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..textproc import tokenize
from .fuzzy import damerau_levenshtein, delete_variants
from .lm import StupidBackoffLM

__all__ = ["suggest_phrase"]


def _candidates(deletes: DataFrame, tokens: list[str], max_edit: int,
                per_term: int) -> dict[str, list[tuple[str, int, int]]]:
    """token -> [(candidate, distance, df)] for every distinct query
    token, via ONE deletion-index probe for the whole query (the
    per-token form in fuzzy.py would be L jobs)."""
    qvars = sorted({v for t in tokens
                    for v in delete_variants(t, max_edit)})
    rows = (deletes.filter(F.col("variant").isin(qvars))
            .select("term", "df").distinct().collect())
    pool = [(r["term"], int(r["df"])) for r in rows]
    out: dict[str, list[tuple[str, int, int]]] = {}
    for t in set(tokens):
        cands = []
        for term, df in pool:
            d = damerau_levenshtein(t, term, cap=max_edit)
            if d <= max_edit:
                cands.append((term, d, df))
        cands.sort(key=lambda x: (x[1], -x[2], x[0]))
        out[t] = cands[:per_term] or [(t, 0, 0)]  # OOV: keep verbatim
    return out


def suggest_phrase(query: str, deletes: DataFrame, lm: StupidBackoffLM,
                   max_edit: int = 1, per_term: int = 6,
                   error_logp: float = -4.0, n_best: int = 3,
                   max_token_len: int = 64, min_token_len: int = 1,
                   analyzer: str = "simple",
                   n_term_buckets: int | None = None) -> list[dict]:
    """Top ``n_best`` corrections of ``query``; see module docstring.

    Returns [{"suggestion", "logscore", "changed"}] ordered best-first.
    ``error_logp`` is the channel model: log-penalty PER EDIT (more
    negative = trust the typed query more; ES's ``confidence`` knob
    plays the same role)."""
    if not (max_edit >= 1 and per_term >= 1 and n_best >= 1):
        raise ValueError("max_edit, per_term and n_best must be >= 1")
    if error_logp >= 0:
        raise ValueError("error_logp must be < 0 (a per-edit penalty)")
    toks = tokenize(query, max_token_len, min_token_len, analyzer)
    if not toks:
        return []
    cands = _candidates(deletes, toks, max_edit, per_term)
    lattice = [cands[t] for t in toks]

    # pruned count lookups: unigrams for every candidate, bigrams for
    # every adjacent candidate pair (superset IN-scan, tiny). When the
    # tables come from IndexBuilder.build_lm they carry term-hash
    # partition columns — with ``n_term_buckets`` given, bucket equality
    # filters on int literals computed in Python (the X34 pattern)
    # prune whole directories before the IN pushdown.
    def _bucket_pred(df: DataFrame, bcol: str, values: list[str]):
        if n_term_buckets is None or bcol not in df.columns or not values:
            return None
        from functools import reduce
        from operator import or_

        from ..functions.udfs import term_bucket_lit
        return reduce(or_, [
            F.col(bcol) == term_bucket_lit(v, n_term_buckets)
            for v in values])

    vocab = sorted({c for pos in lattice for c, _d, _df in pos})
    uscan = lm.unigrams
    up = _bucket_pred(uscan, "w_bucket", vocab)
    if up is not None:
        uscan = uscan.filter(up)
    uni = {r["w"]: int(r["c"]) for r in
           uscan.filter(F.col("w").isin(vocab)).collect()}
    prevs = sorted({c for pos in lattice[:-1] for c, _d, _df in pos})
    nexts = sorted({c for pos in lattice[1:] for c, _d, _df in pos})
    big: dict[tuple[str, str], tuple[int, int]] = {}
    if prevs and nexts:
        bscan = lm.bigrams
        bp = _bucket_pred(bscan, "prev_bucket", prevs)
        if bp is not None:
            bscan = bscan.filter(bp)
        for r in (bscan.filter(F.col("prev").isin(prevs)
                               & F.col("w").isin(nexts))
                  .collect()):
            big[(r["prev"], r["w"])] = (int(r["c"]), int(r["c_prev"]))
    n_total = float(max(lm.total_tokens, 1))
    ln_alpha = math.log(lm.alpha)

    def s1(w: str) -> float:  # unigram with the OOV floor, lm.py's S1
        return math.log(uni.get(w, 1) / n_total)

    def trans(prev: str, w: str) -> float:
        hit = big.get((prev, w))
        if hit is not None:
            return math.log(hit[0] / hit[1])
        return ln_alpha + s1(w)

    # exact Viterbi, n-best via per-state back-lists
    # state: candidate at position i -> list of (score, path) kept to
    # n_best (enough: the final n-best paths' prefixes are in per-state
    # n-best lists)
    states: dict[str, list[tuple[float, tuple[str, ...]]]] = {}
    for c, d, _df in lattice[0]:
        sc = s1(c) + d * error_logp
        states.setdefault(c, []).append((sc, (c,)))
    for pos in lattice[1:]:
        nxt: dict[str, list[tuple[float, tuple[str, ...]]]] = {}
        for c, d, _df in pos:
            pen = d * error_logp
            merged = []
            for prev_c, paths in states.items():
                t = trans(prev_c, c) + pen
                merged.extend((sc + t, path + (c,)) for sc, path in paths)
            merged.sort(key=lambda x: (-x[0], x[1]))
            nxt[c] = merged[:n_best]
        states = nxt
    final = sorted((p for paths in states.values() for p in paths),
                   key=lambda x: (-x[0], x[1]))[:n_best]
    return [{"suggestion": " ".join(path), "logscore": sc,
             "changed": list(path) != toks}
            for sc, path in final]
