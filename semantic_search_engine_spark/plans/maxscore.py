"""MaxScore top-k — the other classic DAAT pruning strategy (X108).

Turtle & Flood, "Query evaluation: strategies and optimizations" (IP&M
1995), in the document-at-a-time form Lucene ships as its default
disjunctive scorer (`MaxScoreBulkScorer`) — a public algorithm. Where WAND
re-sorts cursors every step and pivots on summed bounds, MaxScore keeps a
FIXED cursor order (ascending list upper bound) and splits the lists into
a *non-essential* prefix (summed bounds cannot beat the current k-th
score) and an *essential* tail: candidates are driven only by the
essential lists, and non-essential lists are probed by `seek` — with an
early exit as soon as the running score plus the remaining non-essential
bound prefix cannot win. The two strategies return identical results with
different pruning profiles: MaxScore does no per-step sorting and touches
long low-idf lists only through random access, which favors queries with
many terms / stopword-heavy tails; WAND's pivot skips are finer-grained
on short queries. This engine serves both from the same compressed
posting blocks (`BlockCursor` fence-hops undecoded blocks during seeks,
so MaxScore keeps the block-max benefit on its random-access path).

Distribution model: identical to WAND (wand.py module docstring) — the
kernel runs independently per doc-range bucket (on the driver, over the
query's collected blocks: `QueryEngine.maxscore_top_k_df`), and the
union of per-bucket top-k sets contains the global top-k.

Reference parity: reproduces the same scored-top-k semantics as the
reference's ORDER BY similarity DESC LIMIT k
(`search-api/.../repository/ProductRepository.java:70-82`).

Exactness: candidates are visited in increasing doc_id order (the minimum
over essential-cursor heads), so the WAND tie-break argument (wand.py)
carries over: a future doc that can at best *tie* the k-th score loses
the (score DESC, doc_id ASC) tie-break and is prunable. Float safety: the
final score of an evaluated doc is summed in sorted-term order — the
oracle's exact float order — while prune tests use a running sum in probe
order plus a 1e-9 slack, so summation-order ulps can only make pruning
*weaker* (more docs evaluated), never change a result.
"""

from __future__ import annotations

import heapq
import math

import numpy as np

from .wand import EXHAUSTED, BlockCursor, find_doc, open_cursors

#: absolute slack on prune comparisons — absorbs the ulp-level difference
#: between the probe-order running sum and the oracle-order final sum, so
#: reordering error can only cause an extra evaluation, never a lost hit
_PRUNE_SLACK = 1e-9


def maxscore_top_k(
    term_blocks: dict[str, list[dict]],
    weights: dict[str, float],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    allowed: "np.ndarray | None" = None,
    min_score: float = 0.0,
) -> tuple[list[tuple[int, float]], dict]:
    """Exact MaxScore top-k over one doc-id-sorted posting slice.

    Same contract as :func:`..wand.wand_top_k` (same inputs, same
    ``(hits, stats)`` output, same deterministic ordering); only the
    pruning strategy differs. ``allowed`` and ``min_score`` compose the
    same way they do in WAND: both only shrink the candidate set, and
    ``min_score`` seeds theta so the non-essential prefix starts wide
    before the heap fills.
    """
    seed_theta = (math.nextafter(min_score, float("-inf"))
                  if min_score > 0.0 else float("-inf"))
    cursors = (open_cursors(term_blocks, weights, k1, b, avgdl)
               if k > 0 else [])
    all_cursors = list(cursors)
    # FIXED order: ascending list upper bound (ties broken by term_rank so
    # the split is deterministic); prefix[i] = sum of bounds 0..i inclusive
    cursors.sort(key=lambda c: (c.max_block_ub, c.term_rank))
    n = len(cursors)
    prefix = [0.0] * n
    acc = 0.0
    for i, c in enumerate(cursors):
        acc += c.max_block_ub
        prefix[i] = acc

    heap: list[tuple[float, int]] = []  # min-heap of (score, -doc_id)
    evaluated = 0
    skipped_evals = 0
    filtered_out = 0
    ess = 0  # first essential index; only grows as theta rises
    # live view of the essential tail minus exhausted cursors — the
    # candidate-min / gather / advance loops run every step, and a short
    # rare-term list that exhausts early must not be re-scanned for the
    # whole remainder of a long list (WAND drops dead cursors the same
    # way). Rebuilt only when ess grows or a cursor exhausts; prefix[]
    # keeps indexing the FIXED sorted list, so prune bounds are unchanged
    # (an exhausted non-essential list only over-estimates the remaining
    # bound, which is conservative).
    live = [c for c in cursors if c.cur_doc != EXHAUSTED]

    while ess < n:
        theta = heap[0][0] if len(heap) >= k else seed_theta
        # lists 0..j with prefix[j] <= theta are non-essential: a doc seen
        # ONLY there can at best tie theta and loses the doc_id tie-break
        ess_moved = False
        while ess < n and prefix[ess] <= theta:
            ess += 1
            ess_moved = True
        if ess >= n:
            break  # even all lists together cannot beat theta
        if ess_moved:
            live = [c for c in cursors[ess:] if c.cur_doc != EXHAUSTED]
        # next candidate: the minimum head among essential cursors
        candidate = EXHAUSTED
        for c in live:
            if c.cur_doc < candidate:
                candidate = c.cur_doc
        if candidate == EXHAUSTED:
            break
        if allowed is not None and find_doc(allowed, candidate) < 0:
            filtered_out += 1
            hit_end = False
            for c in live:
                if c.cur_doc == candidate:
                    c.next_doc()
                    hit_end |= c.cur_doc == EXHAUSTED
            if hit_end:
                live = [c for c in live if c.cur_doc != EXHAUSTED]
            continue
        # gather essential contributions (probe-order running sum for the
        # prune tests; exact oracle-order summation happens at the end)
        contribs: list[tuple[int, float]] = []
        running = 0.0
        for c in live:
            if c.cur_doc == candidate:
                contrib = c.contrib()
                contribs.append((c.term_rank, contrib))
                running += contrib
        # probe non-essential lists from the largest bound downward,
        # bailing as soon as the remaining prefix cannot reach theta
        pruned = False
        landed: list[BlockCursor] = []  # probed cursors on the candidate
        for j in range(ess - 1, -1, -1):
            if running + prefix[j] + _PRUNE_SLACK <= theta:
                pruned = True
                break
            c = cursors[j]
            c.seek(candidate)
            if c.cur_doc == candidate:
                landed.append(c)
                contrib = c.contrib()
                contribs.append((c.term_rank, contrib))
                running += contrib
        if pruned:
            skipped_evals += 1
        else:
            # oracle float order: sorted-term (= term_rank) accumulation
            contribs.sort()
            score = 0.0
            for _, contrib in contribs:
                score += contrib
            evaluated += 1
            entry = (score, -candidate)
            if score < min_score:
                pass  # below the inclusive threshold: never a result
            elif len(heap) < k:
                heapq.heappush(heap, entry)
            elif entry > heap[0]:
                heapq.heapreplace(heap, entry)
        # advance every cursor standing on the candidate (essential ones
        # always; non-essential ones only if a probe landed them here —
        # un-probed ones were left untouched and stay lazy)
        hit_end = False
        for c in live:
            if c.cur_doc == candidate:
                c.next_doc()
                hit_end |= c.cur_doc == EXHAUSTED
        if hit_end:
            live = [c for c in live if c.cur_doc != EXHAUSTED]
        for c in landed:
            if c.cur_doc == candidate:
                c.next_doc()

    hits = sorted(((-d, s) for s, d in heap), key=lambda x: (-x[1], x[0]))
    stats = {
        "evaluated_docs": evaluated,
        "skipped_evals": skipped_evals,   # non-essential-prefix prunes
        "filtered_out": filtered_out,
        "essential_start": ess,           # final split point (0 = none cut)
        "decoded_blocks": sum(c.decoded_blocks for c in all_cursors),
        "total_blocks": sum(len(v) for v in term_blocks.values()),
    }
    return hits, stats

