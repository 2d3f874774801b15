"""Block-Max WAND top-k over compressed posting blocks (SURVEY.md §2.2 E10).

The fast query path: posting-list intersection with block-max pruning and a
bounded min-heap (Broder et al., CIKM 2003; Ding & Suel, SIGIR 2011 — public
algorithms). Reproduces the reference's scored top-k semantics
(``search-api/.../repository/ProductRepository.java:70-82``: ORDER BY
similarity DESC LIMIT k) without scoring every candidate: lagging cursors
hop over whole compressed blocks via their ``last_doc_id`` fences without
decoding them, and candidates whose block-max score upper bound cannot beat
the current k-th score are skipped without computing BM25.

Distribution model (Spark-first): the postings table is range-bucketed by
doc id (``partition_id``), so every bucket holds a doc-id-sorted slice of
each term's posting list. Two plans serve every BM25 top-k:

* one term set — a single query, filtered or not, or one federated
  query over several indexes — is collected to the driver, split into
  buckets there (:func:`bucket_blocks`), and WAND runs *independently
  per bucket* (:func:`_wand_bucket_kernel`), with no Python task;
* a batch of ≥ 2 term sets ranks every query over all of a Python
  task's buckets in one vectorized pass (:func:`make_dense_ranker`:
  decode each block once, score each posting once, no block skipping),
  one ``mapInArrow`` call per task (:func:`make_batch_arrow_fn`); a
  structured filter's survivors ride into the same tasks.

Either way the union of the local top-K sets
is a superset of the global top-K (each global winner lives in exactly
one bucket, hence one task, and must be in that local top-K), so a final
(score DESC, doc_id ASC) top-K merge over ≤ P·K candidate rows is exact.
At web scale each bucket holds only ~|term postings|/P compressed bytes
and the merge moves P·K ≈ thousands of rows — no full-corpus shuffle.

Determinism (rank-identity with the single-node oracle): a document's score
is accumulated over query terms in sorted-term order — the identical float
summation order used by ``oracle.OracleIndex.search`` — and ordering is
``(score DESC, doc_id ASC)`` throughout. Pruning is exact including
tie-breaks: WAND visits candidates in increasing doc_id order, so every
heap member has a smaller doc_id than any future candidate — a future doc
that can at best *tie* the k-th score would lose the doc_id tie-break
anyway, which makes the classic strict-``>`` pivot test and ``<=``
block-skip lossless under our deterministic ordering.
"""

from __future__ import annotations

import heapq
import math

import numpy as np

from ..functions.varbyte import decode_varbyte, delta_decode

EXHAUSTED = 1 << 62


def bm25_idf(n_docs: int, df: int) -> float:
    """Robertson idf — the exact float expression the oracle uses."""
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


class BlockCursor:
    """Doc-at-a-time cursor over one term's compressed block sequence.

    Blocks arrive sorted by doc id (build order: ``partition_id, block_id``).
    ``seek`` first hops over blocks whose ``last_doc_id`` fence is below the
    target — those are never decoded — then binary-searches inside the one
    decoded block. ``decoded_blocks`` counts decodes (pruning evidence).
    """

    __slots__ = ("weight", "blocks", "lasts", "k1", "b", "avgdl", "bi",
                 "pos", "ids", "tfs", "dls", "cur_doc", "decoded_blocks",
                 "max_block_ub", "term_rank", "ub_scale")

    def __init__(self, blocks: list[dict], weight: float,
                 k1: float, b: float, avgdl: float, term_rank: int = 0,
                 ub_scale: float = 1.0):
        #: position of this cursor's term in sorted(query terms) — the
        #: score-summation tie-break that keeps float accumulation in the
        #: oracle's exact order
        self.term_rank = term_rank
        self.weight = weight
        self.blocks = blocks
        self.lasts = np.array([blk["last_doc_id"] for blk in blocks],
                              dtype=np.int64)
        self.k1, self.b, self.avgdl = k1, b, avgdl
        #: multiplier on the stored block-max bounds (NOT on contrib): the
        #: federated path scores a sub-index's postings under the GLOBAL
        #: avgdl while its ``block_max_tf_norm`` was computed under the
        #: sub-index's own avgdl — ``max(1, avgdl_global/avgdl_local)``
        #: re-sounds the bound (tf/(tf+K(dl)) grows by at most that ratio
        #: when K shrinks with a larger avgdl); see federate.py for the
        #: derivation and the float-safety margin baked into the caller.
        self.ub_scale = ub_scale
        self.bi = -1
        self.pos = 0
        self.ids = self.tfs = self.dls = None
        self.cur_doc = EXHAUSTED
        self.decoded_blocks = 0
        self.max_block_ub = weight * max(
            (blk["block_max_tf_norm"] for blk in blocks), default=0.0
        ) * ub_scale
        self._enter_block(0)

    # ------------------------------------------------------------------
    def _enter_block(self, bi: int) -> None:
        """Decode block ``bi`` and stand on its first entry."""
        if bi >= len(self.blocks):
            self.bi = len(self.blocks)
            self.cur_doc = EXHAUSTED
            return
        blk = self.blocks[bi]
        self.bi = bi
        self.ids = delta_decode(
            decode_varbyte(blk["doc_ids_vb"])).astype(np.int64)
        self.tfs = decode_varbyte(blk["tfs_vb"]).astype(np.int64)
        self.dls = decode_varbyte(blk["dls_vb"]).astype(np.int64)
        self.decoded_blocks += 1
        self.pos = 0
        self.cur_doc = int(self.ids[0])

    # ------------------------------------------------------------------
    def block_ub(self) -> float:
        """Score upper bound of the *current* block (block-max metadata)."""
        if self.bi >= len(self.blocks):
            return 0.0
        return (self.weight * self.blocks[self.bi]["block_max_tf_norm"]
                * self.ub_scale)

    def seek(self, target: int) -> None:
        """Advance to the first posting with doc id >= target."""
        if self.cur_doc >= target:
            return
        # fence-hop: binary search the block whose last_doc_id >= target
        if self.bi < len(self.blocks) and target > self.lasts[self.bi]:
            bi = int(np.searchsorted(self.lasts, target, side="left"))
            self._enter_block(bi)
            if self.cur_doc >= target:
                return
        if self.bi >= len(self.blocks):
            return
        # in-block binary search (block's last_doc_id >= target here)
        pos = int(np.searchsorted(self.ids, target, side="left"))
        self.pos = pos
        self.cur_doc = int(self.ids[pos])

    def next_doc(self) -> None:
        self.pos += 1
        if self.pos < len(self.ids):
            self.cur_doc = int(self.ids[self.pos])
        else:
            self._enter_block(self.bi + 1)

    def contrib(self) -> float:
        """BM25 contribution of the current posting: w·(tf/(tf + K(dl))).

        Parenthesization matters: the oracle computes ``w * tf_norm`` —
        evaluating ``(w*tf)/(...)`` instead can differ by 1 ulp and flip a
        near-tie rank.
        """
        tf = float(self.tfs[self.pos])
        k_dl = self.k1 * (1.0 - self.b
                          + self.b * float(self.dls[self.pos]) / self.avgdl)
        return self.weight * (tf / (tf + k_dl))


def open_cursors(term_blocks: dict[str, list[dict]],
                 weights: dict[str, float], k1: float, b: float,
                 avgdl: float,
                 avgdl_by_term: "dict[str, float] | None" = None,
                 ub_scale: float = 1.0) -> list[BlockCursor]:
    """One :class:`BlockCursor` per weighted term with postings, ranked
    in sorted-term order (the oracle's float summation order); terms
    whose slice is empty or whose avgdl is not positive get none."""
    cursors = []
    for rank, term in enumerate(sorted(term_blocks)):
        blocks = term_blocks[term]
        t_avgdl = (avgdl_by_term.get(term, avgdl)
                   if avgdl_by_term else avgdl)
        if blocks and term in weights and t_avgdl > 0:
            c = BlockCursor(blocks, weights[term], k1, b, t_avgdl,
                            term_rank=rank, ub_scale=ub_scale)
            if c.cur_doc != EXHAUSTED:
                cursors.append(c)
    return cursors


def find_doc(doc_ids: "np.ndarray", doc: int) -> int:
    """Position of ``doc`` in the sorted ``doc_ids`` array, or -1."""
    i = int(np.searchsorted(doc_ids, doc))
    return i if i < len(doc_ids) and int(doc_ids[i]) == doc else -1


class _CollapsedTopK:
    """Top-k collapse keys, each ranked by its best ``(score, -doc_id)``.

    A key's best only ever improves (monotone), so the heap uses lazy
    invalidation: an entry is live iff it equals its key's latest pushed
    best. A key outside the top-k needs no remembered best: theta only
    rises, so a doc that loses to its key's earlier best loses to theta.
    """

    __slots__ = ("k", "latest", "heap")

    def __init__(self, k: int):
        self.k = k
        self.latest: dict = {}  # key in the top-k -> entry last pushed
        self.heap: list = []    # (score, -doc, key); stale entries allowed

    def _clean(self) -> None:
        heap, latest = self.heap, self.latest
        while heap and latest.get(heap[0][2]) != heap[0][:2]:
            heapq.heappop(heap)

    def theta(self, floor: float) -> float:
        """The k-th best key's score, or ``floor`` until k keys exist."""
        if len(self.latest) < self.k:
            return floor
        self._clean()
        return self.heap[0][0]

    def offer(self, key, entry: tuple[float, int]) -> None:
        if key in self.latest:            # in the top-k: keep the better
            if entry <= self.latest[key]:
                return
        elif len(self.latest) >= self.k:  # full: evict the k-th key?
            self._clean()
            if entry <= self.heap[0][:2]:
                return
            del self.latest[heapq.heappop(self.heap)[2]]
        self.latest[key] = entry          # stale heap entries stay behind
        heapq.heappush(self.heap, (*entry, key))


def wand_top_k(
    term_blocks: dict[str, list[dict]],
    weights: dict[str, float],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    allowed: "np.ndarray | None" = None,
    min_score: float = 0.0,
    avgdl_by_term: "dict[str, float] | None" = None,
    after: "tuple[float, int] | None" = None,
    min_match: int = 1,
    ub_scale: float = 1.0,
    *,
    prior: "tuple[np.ndarray, np.ndarray, float] | None" = None,
    collapse: "tuple[np.ndarray, list] | None" = None,
) -> tuple[list[tuple], dict]:
    """Exact block-max WAND top-k over one doc-id-sorted posting slice.

    ``term_blocks``: term → blocks sorted by doc id. ``weights``: term → idf.
    ``allowed``: optional sorted int64 doc-id array — the structured-filter
    survivor set for this doc bucket (Q3–Q6 pushed into the fast path);
    docs outside it are skipped before scoring, which only shrinks the
    candidate set and therefore preserves pruning exactness.

    ``min_score``: score threshold (the reference's Q2 similarity cutoff,
    ``ProductRepository.java:74``: ``similarity >= ?`` with inclusive
    semantics). It SEEDS theta instead of post-filtering: before the heap
    fills, theta is ``nextafter(min_score, -inf)`` rather than −inf, so
    pruning starts strong from the first candidate — a threshold makes
    WAND *faster*, not exhaustive. Exactness: the pivot test is strict
    ``acc > theta``, so a candidate whose bound equals min_score exactly
    still gets evaluated (inclusive ``>=`` preserved), and evaluated docs
    scoring below min_score never enter the heap (they can't be results,
    and keeping them out keeps the heap's k-th score an honest theta).
    ``after``: keyset-pagination cursor ``(score, doc_id)`` — the last hit
    of the previous page. Only docs strictly AFTER it in the result order
    qualify: ``score < after[0]`` or (``score == after[0]`` and
    ``doc_id > after[1]``). Like ``allowed``, this only shrinks the
    candidate set, so the pivot/block-skip argument is unchanged; unlike
    OFFSET pagination (which must materialize and discard k+offset rows —
    O(page_depth) per page), the heap holds exactly k qualifying docs at
    any depth. Exact-equality on the score is sound because scores are
    bit-reproducible (the cursor comes from this engine's own previous
    page). Disqualified docs never enter the heap, so theta stays an
    honest lower bound for *qualifying* docs.

    ``avgdl_by_term``: per-term average-doc-length override (the
    multi-field path qualifies terms as ``field\\x00term`` and each
    field's cursors normalize against THAT field's avgdl — the dls baked
    into a field's blocks are that field's doc lengths, and its
    block_max_tf_norm bounds were computed under its own avgdl, so
    block-skip exactness is preserved per cursor). Terms absent from the
    dict use the global ``avgdl``.

    ``min_match``: minimum-should-match over the query's terms
    (Elasticsearch ``minimum_should_match`` / Lucene ``MinShouldMatchSumScorer``
    semantics): a doc qualifies only if at least ``min_match`` DISTINCT
    query terms occur in it; its score is still the BM25 sum over the
    terms it matches. Exactness: the constraint only DISQUALIFIES
    candidates (like ``allowed``/``after``), so theta remains a lower
    bound over qualifying docs and pivot/block-skip stay lossless; docs
    are disqualified by the cursor count standing on the pivot — exactly
    the distinct matching terms — before any scoring. Once fewer than
    ``min_match`` cursors remain un-exhausted no future doc can qualify
    and the scan stops early (a pruning rule plain WAND doesn't have).

    ``ub_scale``: multiplier applied to every cursor's block-max bounds
    (never to evaluated scores). The federated path (federate.py) scores
    a sub-index's postings under GLOBAL corpus stats while the stored
    ``block_max_tf_norm`` was computed under the sub-index's own avgdl;
    ``max(1, avgdl_global/avgdl_local)`` (plus a 1e-9 float margin)
    re-sounds the bound, so pruning stays lossless — merely ≤1e-9 looser.

    ``prior=(doc_ids, static, w_static)``: rank by the blended score
    ``bm25(d, q) + w_static · static(d)`` — the web-search serve shape
    (query relevance + a query-independent document prior: URL/link
    authority, freshness, spam score). ``doc_ids``/``static`` are the
    bucket's doc_id-sorted priors; docs missing from them take prior 0.
    ``w_static`` and every prior must be ≥ 0 (checked by the caller) so
    the bounds below stay upper bounds. Exactness: the pivot sum starts
    at ``w_static · max(static)`` (the bucket maximum) — an upper bound
    on any remaining candidate's blend, so the strict ``>`` test prunes
    losslessly with the usual tie-break argument. At the pivot the bound
    tightens to the CANDIDATE's own prior (one searchsorted lookup, done
    before any contrib decode): ``block_ub + w_static · static(d) <=
    theta`` skips the evaluation, and the prior starts the score, before
    the contributions in sorted-term order. Only docs matching ≥ 1 query
    term are candidates — the prior reorders matches, it does not
    surface no-match docs.

    ``collapse=(doc_ids, keys)``: field collapsing (Elasticsearch
    ``collapse`` — one result per host/site/author): the best-scoring
    doc per key, top ``k`` KEYS; hits become ``(key, doc_id, score)``.
    ``doc_ids``/``keys`` are the bucket's doc_id-sorted metadata slice
    (a key may be None — NULL keys form one group, SQL window
    semantics); docs missing from it fall into the None group.
    Exactness: theta is the k-th best KEY score. Candidates arrive in
    increasing doc_id order, so every current per-key best has a smaller
    doc_id than any future candidate; a future doc bounded at or below
    theta either loses outright or ties and loses the
    (score DESC, doc_id ASC) tie-break — the strict ``>`` pivot test and
    ``<=`` block-skip stay lossless, exactly the single-doc argument.
    Cross-bucket merge exactness (the superset lemma): if a key's global
    winner ranks outside its bucket's collapsed top-k, the k keys above
    it in that bucket each have a global best at least their bucket
    score, so all k outrank it globally — it wasn't a global winner.
    Hence the union of per-bucket collapsed top-k contains the global
    collapsed top-k, and a per-key window + global top-k merge is exact.

    Returns ``(hits, stats)``: hits as ``(doc_id, score)`` (with
    ``collapse``: ``(key, doc_id, score)``) in ``(score DESC, doc_id
    ASC)`` order; stats reports pruning counters.
    """
    # strictly below min_score, so `acc > seed_theta` ⟺ `acc >= min_score`
    seed_theta = (math.nextafter(min_score, float("-inf"))
                  if min_score > 0.0 else float("-inf"))
    # k<=0: empty result, not an empty-heap indexing error
    cursors = (open_cursors(term_blocks, weights, k1, b, avgdl,
                            avgdl_by_term, ub_scale) if k > 0 else [])
    all_cursors = list(cursors)
    prior_cap = 0.0  # bucket-max prior: seeds every pivot sum
    if prior is not None:
        prior_ids, prior_static, w_static = prior
        prior_cap = w_static * float(prior_static.max(initial=0.0))
    keys = _CollapsedTopK(k) if collapse is not None else None

    heap: list[tuple[float, int]] = []  # min-heap of (score, -doc_id)
    evaluated = 0
    skipped_evals = 0
    filtered_out = 0
    before_cursor = 0
    under_min_match = 0

    while cursors:
        if min_match > 1 and len(cursors) < min_match:
            break  # no future doc can match enough distinct terms
        # secondary key term_rank: docs tie across cursors, and at_pivot
        # must enumerate them in sorted-term order (oracle float order) —
        # stability alone would carry over an arbitrary earlier order
        cursors.sort(key=lambda c: (c.cur_doc, c.term_rank))
        if keys is not None:
            theta = keys.theta(seed_theta)
        else:
            theta = heap[0][0] if len(heap) >= k else seed_theta
        # pivot: smallest prefix whose summed term UBs can *beat* theta.
        # Strict `>` is exact including tie-breaks: candidates arrive in
        # increasing doc_id order, so every heap member has a smaller doc_id
        # than any future candidate — a future doc scoring exactly theta
        # loses the (score DESC, doc_id ASC) tie-break and is prunable.
        acc = prior_cap
        pivot_idx = -1
        for i, c in enumerate(cursors):
            acc += c.max_block_ub
            if acc > theta:
                pivot_idx = i
                break
        if pivot_idx < 0:
            break  # no remaining doc can reach the k-th score
        pivot_doc = cursors[pivot_idx].cur_doc

        if cursors[0].cur_doc == pivot_doc:
            # all cursors at the pivot doc (sorted ⇒ prefix is exactly here;
            # later cursors may tie). Bound the doc with current-block maxima
            # over *every* cursor standing on pivot_doc.
            at_pivot = [c for c in cursors if c.cur_doc == pivot_doc]
            base = 0.0  # the candidate's own weighted prior
            if prior is not None:
                i = find_doc(prior_ids, pivot_doc)
                base = w_static * (float(prior_static[i]) if i >= 0
                                   else 0.0)
            block_ub = sum(c.block_ub() for c in at_pivot) + base
            if allowed is not None and find_doc(allowed, pivot_doc) < 0:
                filtered_out += 1
            elif min_match > 1 and len(at_pivot) < min_match:
                under_min_match += 1  # too few distinct terms: disqualified
            elif block_ub <= theta:
                # theta is -inf until the heap fills (so this branch is
                # unreachable then) UNLESS min_score seeded it — a doc
                # bounded at or below the seed can't reach the inclusive
                # threshold and is skippable with any heap fill
                skipped_evals += 1
            else:
                # at_pivot is (cur_doc, term_rank)-sorted ⇒ oracle order
                score = base
                for c in at_pivot:
                    score += c.contrib()
                evaluated += 1
                entry = (score, -pivot_doc)
                if score < min_score:
                    pass  # below the threshold: never a result
                elif after is not None and not (
                        score < after[0]
                        or (score == after[0] and pivot_doc > after[1])):
                    before_cursor += 1  # at or before the page cursor
                elif keys is not None:
                    i = find_doc(collapse[0], pivot_doc)
                    keys.offer(collapse[1][i] if i >= 0 else None, entry)
                elif len(heap) < k:
                    heapq.heappush(heap, entry)
                elif entry > heap[0]:
                    heapq.heapreplace(heap, entry)
            for c in at_pivot:
                c.next_doc()
        else:
            # lagging cursors jump to the pivot, hopping fences undecoded
            for c in cursors:
                if c.cur_doc >= pivot_doc:
                    break
                c.seek(pivot_doc)
        cursors = [c for c in cursors if c.cur_doc != EXHAUSTED]

    if keys is not None:
        hits = sorted(((key, -d, s) for key, (s, d) in keys.latest.items()),
                      key=lambda x: (-x[2], x[1]))
    else:
        hits = sorted(((-d, s) for s, d in heap), key=lambda x: (-x[1], x[0]))
    stats = {
        "evaluated_docs": evaluated,
        "skipped_evals": skipped_evals,      # block-max UB prunes only
        "filtered_out": filtered_out,        # structured-filter exclusions
        "before_cursor": before_cursor,      # keyset-pagination exclusions
        "under_min_match": under_min_match,  # min-should-match exclusions
        "decoded_blocks": sum(c.decoded_blocks for c in all_cursors),
        "total_blocks": sum(len(v) for v in term_blocks.values()),
    }
    return hits, stats


def _blocks_by_term(terms, lasts, bmaxes, dvbs, tvbs, lvbs
                    ) -> dict[str, list[dict]]:
    """Block columns (sorted by term, then doc order) → term → block
    dicts for :class:`BlockCursor`."""
    out: dict[str, list[dict]] = {}
    for term, last, bmax, dvb, tvb, lvb in zip(terms, lasts, bmaxes, dvbs,
                                               tvbs, lvbs):
        out.setdefault(term, []).append({
            "last_doc_id": int(last),
            "block_max_tf_norm": float(bmax),
            "doc_ids_vb": bytes(dvb),
            "tfs_vb": bytes(tvb),
            "dls_vb": bytes(lvb),
        })
    return out


_BLOCK_COLS = ("term", "last_doc_id", "block_max_tf_norm", "doc_ids_vb",
               "tfs_vb", "dls_vb")


def group_blocks_by_term(pdf) -> dict[str, list[dict]]:
    """pandas block rows (sorted by (term, partition_id, block_id)) →
    term → block dicts for :class:`BlockCursor` (the serve paths split
    Arrow tables with :func:`bucket_blocks`; this pandas form serves
    per-bucket kernel replays)."""
    return _blocks_by_term(*(pdf[c] for c in _BLOCK_COLS))


def _idf_by_term(terms, dfs, n_docs: "int | dict[str, int]"
                 ) -> dict[str, float]:
    """Global ``df`` rides every block row; idf is computed here in Python
    for bit-identity with the single-node oracle (a JVM log can differ by
    1 ulp) — one log per UNIQUE term, not per block row. ``n_docs`` maps
    term → corpus size when the terms come from several indexes."""
    idf: dict[str, float] = {}
    for t, d in zip(terms, dfs):
        if t not in idf:
            n = n_docs[t] if isinstance(n_docs, dict) else n_docs
            idf[t] = bm25_idf(n, int(d))
    return idf


def bucket_blocks(table, n_docs: "int | dict[str, int]"):
    """Block rows → ``(partition_id, term → blocks, term → idf)`` per doc
    bucket, in ascending bucket order — the loop of the driver-side
    single-query paths (WAND, MaxScore, weighted, federated).

    ``table``: a ``pyarrow.Table`` of the block columns plus
    ``partition_id``, ``block_id`` and each term's global ``df``. It is
    sorted once by ``(partition_id, term, block_id)`` and split into
    buckets in-process; idf is computed once per unique term over the
    whole table (:func:`_idf_by_term`).
    """
    t = table.sort_by([("partition_id", "ascending"), ("term", "ascending"),
                       ("block_id", "ascending")])
    bucket = t.column("partition_id").to_pylist()
    cols = [t.column(c).to_pylist() for c in _BLOCK_COLS]
    idf = _idf_by_term(cols[0], t.column("df").to_pylist(), n_docs)
    for lo, hi in key_runs(bucket):
        yield bucket[lo], _blocks_by_term(*(c[lo:hi] for c in cols)), idf


def key_runs(keys: list) -> list[tuple[int, int]]:
    """``(lo, hi)`` bounds of each run of equal values in ``keys``."""
    cuts = [i for i in range(1, len(keys)) if keys[i] != keys[i - 1]]
    return list(zip([0] + cuts, cuts + [len(keys)])) if keys else []


BATCH_WAND_OUT_SCHEMA = ("query_id int, partition_id int, doc_id long, "
                         "score double")


def hits_batch(rows, with_key: bool = False):
    """``(query_id, partition_id, doc_id, score, key)`` rows → one Arrow
    record batch of :data:`BATCH_WAND_OUT_SCHEMA` (plus a string ``ckey``
    column when ``with_key``); typed, so no rows is an empty batch."""
    import pyarrow as pa

    qids, pids, docs, scores, keys = zip(*rows) if rows else ((),) * 5
    arrays = [pa.array(qids, pa.int32()), pa.array(pids, pa.int32()),
              pa.array(docs, pa.int64()), pa.array(scores, pa.float64())]
    names = ["query_id", "partition_id", "doc_id", "score"]
    if with_key:
        arrays.append(pa.array(keys, pa.string()))
        names.append("ckey")
    return pa.RecordBatch.from_arrays(arrays, names=names)


def _wand_bucket_kernel(terms: list[str], k: int, k1: float, b: float,
                        avgdl: float, min_score: float = 0.0,
                        after: "tuple[float, int] | None" = None,
                        term_boosts: "dict[str, float] | None" = None,
                        min_match: int = 1, ub_scale: float = 1.0):
    """The per-bucket body of the driver-side single-query paths: one
    doc bucket's blocks grouped by term (+ at most one doc_meta hook of
    :func:`wand_top_k`) → ``(0, partition_id, doc_id, score, key)``
    rows of the query's local top-k (``key``: the collapse key, None
    without ``collapse``).

    The query runs the standard exact block-max WAND over its terms.
    Per-term boost multipliers (PRF expansion down-weighting, user
    ``term^boost`` weighting) give weight = boost * idf, the float-op
    order the oracle replays; boosts only scale each cursor's upper
    bounds, so pruning stays exact. ``ub_scale`` re-sounds the stored
    block-max bounds when ``avgdl`` is not the index's own (a federation
    member scored under global stats, :func:`wand_top_k`).
    """

    def bucket_hits(pid, by_term, idf, **hook):
        weights = {t: (term_boosts.get(t, 1.0) * idf[t] if term_boosts
                       else idf[t]) for t in terms if t in by_term}
        if not weights:
            return
        hits, _ = wand_top_k({t: by_term[t] for t in weights}, weights,
                             k, k1, b, avgdl, min_score=min_score,
                             after=after, min_match=min_match,
                             ub_scale=ub_scale, **hook)
        for *key, d, s in hits:  # a collapse hit leads with its key
            yield 0, pid, d, s, key[0] if key else None

    return bucket_hits


def make_dense_ranker(query_terms: "dict[tuple[int, ...], list[str]]",
                      k: int, k1: float, b: float, avgdl: float,
                      idf: dict[str, float], min_score: float = 0.0,
                      after: "tuple[float, int] | None" = None,
                      term_boosts: "dict[str, float] | None" = None,
                      min_match: int = 1):
    """The batch kernel: ``rank(table, allowed=None)`` scores EVERY query
    of a batch over one Arrow table of posting blocks (any set of doc
    buckets) in one vectorized BM25 pass and returns ``(query_id,
    partition_id, doc_id, score, None)`` rows, each query's top-k over
    the whole table by (score DESC, doc_id ASC).

    ``query_terms``: the query ids sharing a term set → its sorted terms
    (duplicate term sets are scored once and emitted under every id).
    ``idf``: term → idf, computed on the driver from term_stats' global
    ``df``; a block of a term without one is ignored (a term missing
    from term_stats has no idf). ``allowed``: the filter survivors'
    doc ids, or None.

    The pass: (1) decode every block once
    (:func:`..functions.varbyte.decode_block_table`); (2) each posting's
    contribution ``w * (tf / (tf + k1 * (1.0 - b + b * dl / avgdl)))``
    with ``w = boost * idf``, :meth:`BlockCursor.contrib`'s op order
    elementwise; (3) per query, add its terms' contributions into a
    zeroed per-doc array in sorted-term order — ``0.0 + c`` is exact, so
    each doc's sum is the oracle's float sum — and count its matching
    terms; (4) mask ``min_match`` (≥ 1: a candidate matches a term),
    ``min_score`` (inclusive), ``after`` and ``allowed`` exactly as
    :func:`wand_top_k` disqualifies candidates, then take the top-k
    (``np.partition`` to the k-th score, ties kept, then ``lexsort``).

    The result equals the per-bucket :func:`wand_top_k` calls plus a
    (score DESC, doc_id ASC) merge bit for bit: WAND prunes only docs
    that cannot enter a top-k, and each doc lives in one bucket, so the
    table's top-k is the merge of its buckets' top-k. The pass scores
    every shipped posting (no block skipping): at head terms WAND
    evaluates nearly all of them anyway, and the numpy pass costs a few
    ms where the per-posting Python loop costs hundreds.
    """
    from ..functions.varbyte import decode_block_table

    def rank(table, allowed: "np.ndarray | None" = None) -> list[tuple]:
        if k <= 0 or avgdl <= 0 or not table.num_rows:
            return []
        t = table.sort_by([("term", "ascending")])
        terms = t.column("term").to_pylist()
        ids, tfs, dls, starts = decode_block_table(
            t.column("doc_ids_vb"), t.column("tfs_vb"), t.column("dls_vb"))
        counts = np.diff(starts)
        # weight and posting range per term, weight per posting
        span: dict[str, slice] = {}
        w_block = np.zeros(len(terms))
        for lo, hi in key_runs(terms):
            term = terms[lo]
            if term in idf:
                span[term] = slice(int(starts[lo]), int(starts[hi]))
                w_block[lo:hi] = ((term_boosts.get(term, 1.0) * idf[term])
                                  if term_boosts else idf[term])
        tf = tfs.astype(np.float64)
        dl = dls.astype(np.float64)
        contrib = np.repeat(w_block, counts) * (
            tf / (tf + k1 * (1.0 - b + b * dl / avgdl)))
        docs, slot = np.unique(ids.astype(np.int64), return_inverse=True)
        pid = np.empty(len(docs), dtype=np.int64)
        pid[slot] = np.repeat(t.column("partition_id").to_numpy(), counts)
        ok = None if allowed is None else np.isin(docs, allowed)

        rows: list[tuple] = []
        for qids, qterms in query_terms.items():
            score = np.zeros(len(docs))
            n_match = np.zeros(len(docs), dtype=np.int32)
            for term in qterms:  # sorted: the oracle's summation order
                if term in span:
                    at = slot[span[term]]
                    score[at] += contrib[span[term]]
                    n_match[at] += 1
            keep = (n_match >= max(min_match, 1)) & (score >= min_score)
            if after is not None:
                keep &= (score < after[0]) | ((score == after[0])
                                              & (docs > after[1]))
            if ok is not None:
                keep &= ok
            cand = np.flatnonzero(keep)
            if len(cand) > k:  # every doc tied with the k-th score stays
                kth = np.partition(score[cand], len(cand) - k)[len(cand) - k]
                cand = cand[score[cand] >= kth]
            top = cand[np.lexsort((docs[cand], -score[cand]))[:k]]
            hits = list(zip(pid[top].tolist(), docs[top].tolist(),
                            score[top].tolist()))
            rows.extend((q, p, d, s, None) for q in qids for p, d, s in hits)
        return rows

    return rank


def make_batch_arrow_fn(rank):
    """``mapInArrow`` body of a batch (≥ 2 distinct term sets): ONE
    Python call per task over every row routed to it — the blocks of
    the task's buckets, the union of every query's term postings —
    ranked by ``rank`` (:func:`make_dense_ranker`) in one pass. The
    Arrow round trip and the output construction are paid once per
    task; the caller sizes the task count so a batch spreads over the
    cores. Yields one record batch (empty when the task got no rows).

    Filtered, the input also holds the filter survivors of the same
    buckets — rows with a ``doc_id`` and no block columns, routed by
    the same ``partition_id`` — which are split off and passed to
    ``rank`` as ``allowed``; a task without survivors ranks nothing."""

    def run_task(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        batches = [rb for rb in batches if rb.num_rows]
        rows: list[tuple] = []
        if batches:
            t = pa.Table.from_batches(batches)
            allowed = None
            if "doc_id" in t.column_names:  # filtered: split survivors
                survivor = pc.is_valid(t.column("doc_id"))
                allowed = t.filter(survivor).column("doc_id").to_numpy()
                t = t.filter(pc.invert(survivor))
            if allowed is None or len(allowed):
                rows = rank(t, allowed)
        yield hits_batch(rows)

    return run_task
