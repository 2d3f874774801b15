"""Single-node oracle: the correctness anchor for the Spark engine.

A pure-Python, exhaustive implementation of the full pipeline — extraction,
tokenization, inverted index, BM25 scoring, filters, pagination, counts —
sharing the *identical* ``textproc`` functions with the Spark UDFs. Every
Spark result must be rank-identical to this (ties broken
``(score DESC, doc_id ASC)``), mirroring the reference's exact-value
assertions in ``search-api/.../integration/PureJdbcSearchTest.java:48-118``.

BM25 (SURVEY.md §2.2 E14, Robertson/Lucene form):
    idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(d) = Σ_t idf(t) · tf / (tf + k1·(1 − b + b·dl/avgdl))
"""

from __future__ import annotations

import datetime as _dt
import math
import re
from collections import Counter, defaultdict
from dataclasses import dataclass, field

from .config import DEFAULT_CONFIG, EngineConfig
from .textproc import (  # noqa: F401  (xxhash64: re-exported)
    doc_id_for_url,
    min_window_span,
    phrase_match_count,
    resolve_text,
    tokenize,
    xxhash64,
)


# ------------------------------------------------------- dedup decisions
def dedup_decisions(docs: list[tuple[int, str]],
                    cfg: EngineConfig) -> dict[int, tuple[int, str]]:
    """Oracle mirror of ``operators.dedup.build_drop_ledger``: which docs
    a dedup-enabled build drops, and who keeps them.

    ``docs``: (doc_id, extracted_text) per unique-url document. Returns
    ``{dropped_doc_id: (final_keep_doc_id, reason)}`` with reason ∈
    {'exact', 'near'}. Exact = identical extracted text (sha equality);
    near = the full MinHash→LSH→Jaccard→connected-components pipeline
    recomputed independently (own shingling, own XXH64, own union-find) —
    only the hash FUNCTION is shared knowledge with the engine, none of
    the Spark code paths.
    """
    import hashlib as _hl
    import re as _re

    by_sha: dict[str, list[int]] = defaultdict(list)
    text_of = dict(docs)
    for did, text in docs:
        by_sha[_hl.sha256(text.encode("utf-8")).hexdigest()].append(did)
    drops: dict[int, tuple[int, str]] = {}
    for group in by_sha.values():
        group = sorted(group)
        for d in group[1:]:
            drops[d] = (group[0], "exact")
    if cfg.dedup == "exact":
        return drops

    w = cfg.dedup_shingle_size
    n_hashes, bands = cfg.dedup_n_hashes, cfg.dedup_bands
    rows_per_band = n_hashes // bands
    sh_sets: dict[int, set] = {}
    sig: dict[int, list[int]] = {}
    for did in sorted(text_of):
        if did in drops:
            continue
        toks = _re.findall("[a-z0-9]+", text_of[did].lower())
        if len(toks) < w:
            continue
        shs = [" ".join(toks[i:i + w]) for i in range(len(toks) - w + 1)]
        sh_sets[did] = set(shs)
        sig[did] = [min(xxhash64((s + f":{i}").encode("utf-8"))
                        for s in shs)
                    for i in range(n_hashes)]
    buckets: dict[tuple, list[int]] = defaultdict(list)
    for did, mh in sig.items():
        for bi in range(bands):
            key = (bi, tuple(mh[bi * rows_per_band:(bi + 1)
                                * rows_per_band]))
            buckets[key].append(did)
    cand: set[tuple[int, int]] = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cand.add((ids[i], ids[j]))
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in sorted(cand):
        inter = len(sh_sets[a] & sh_sets[b])
        union = len(sh_sets[a] | sh_sets[b])
        if union and inter / union >= cfg.dedup_threshold:
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = min(ra, rb), max(ra, rb)
                parent[hi] = lo
    clusters: dict[int, list[int]] = defaultdict(list)
    for d in list(parent) + [d for d in sig if d not in parent]:
        clusters[find(d)].append(d)
    near: dict[int, tuple[int, str]] = {}
    for root, members in clusters.items():
        for d in sorted(members)[1:]:
            near[d] = (min(members), "near")
    out = {}
    for d, (k, r) in drops.items():
        out[d] = (near.get(k, (k,))[0], r)
    out.update(near)
    return out


@dataclass
class OracleIndex:
    cfg: EngineConfig
    n_docs: int = 0
    total_tokens: int = 0
    avg_doc_len: float = 0.0
    doc_len: dict[int, int] = field(default_factory=dict)
    doc_meta: dict[int, dict] = field(default_factory=dict)  # doc_id -> row meta
    postings: dict[str, list[tuple[int, int]]] = field(
        default_factory=dict)  # term -> [(doc_id, tf)] sorted by doc_id
    doc_positions: dict[int, dict[str, list[int]]] = field(
        default_factory=dict)  # doc_id -> term -> kept-stream positions

    # ------------------------------------------------------------------ build
    @classmethod
    def build(cls, rows, cfg: EngineConfig = DEFAULT_CONFIG) -> "OracleIndex":
        """rows: iterable of dicts with url/warc_ts/html/text/lang."""
        import hashlib as _hl

        idx = cls(cfg=cfg)
        acc: dict[str, list[tuple[int, int]]] = defaultdict(list)
        # deterministic duplicate-url winner — SAME rule as the Spark build
        # (build_index._doc_features_df): latest warc_ts (None sorts last),
        # then greatest extracted-text sha256
        best: dict[str, tuple] = {}
        for r in rows:
            text = resolve_text(r.get("text"), r.get("html"),
                                cfg.prefer_provided_text)
            if r.get("url") is None or text is None:
                continue  # validity filter (data_ingestion.py:100-103 analogue)
            ts = r.get("warc_ts")
            sha = _hl.sha256(text.encode("utf-8")).hexdigest()
            rank = (ts is not None, ts or _dt.datetime.min, sha)
            if r["url"] not in best or rank > best[r["url"]][0]:
                best[r["url"]] = (rank, r, text)
        resolved = [(doc_id_for_url(r["url"]), r, text)
                    for _rank, r, text in best.values()]
        if cfg.dedup != "none":
            dropped = dedup_decisions(
                [(did, text) for did, _r, text in resolved], cfg)
            resolved = [(did, r, text) for did, r, text in resolved
                        if did not in dropped]
        for did, r, text in resolved:
            toks = tokenize(text, cfg.max_token_len, cfg.min_token_len,
                            cfg.analyzer)
            idx.doc_len[did] = len(toks)
            idx.doc_meta[did] = {
                "url": r["url"], "warc_ts": r.get("warc_ts"),
                "lang": r.get("lang"), "doc_len": len(toks),
            }
            idx.n_docs += 1
            idx.total_tokens += len(toks)
            pos: dict[str, list[int]] = defaultdict(list)
            for i, t in enumerate(toks):
                pos[t].append(i)
            idx.doc_positions[did] = dict(pos)
            for term, tf in Counter(toks).items():
                acc[term].append((did, tf))
        idx.postings = {t: sorted(pl) for t, pl in acc.items()}
        idx.avg_doc_len = (idx.total_tokens / idx.n_docs) if idx.n_docs else 0.0
        return idx

    # ------------------------------------------------------------------ stats
    def df(self, term: str) -> int:
        return len(self.postings.get(term, ()))

    def idf(self, term: str) -> float:
        n, df = self.n_docs, self.df(term)
        return math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    def tf_norm(self, tf: int, dl: int) -> float:
        k1, b = self.cfg.k1, self.cfg.b
        denom = tf + k1 * (1.0 - b + b * dl / self.avg_doc_len)
        return tf / denom

    # ------------------------------------------------------------------ query
    def search(
        self,
        query: str,
        k: int | None = None,
        offset: int = 0,
        min_score: float = 0.0,
        lang: str | None = None,
        warc_ts_min: _dt.datetime | None = None,
        warc_ts_max: _dt.datetime | None = None,
        min_match: int = 1,
    ) -> dict:
        """Filtered BM25 top-k with pagination + totalCount.

        Semantics mirror the reference's single search statement
        (``ProductRepository.java:70-82``: score, threshold, NULL-disabled
        filters, ORDER BY score DESC, LIMIT/OFFSET) plus its second COUNT
        statement (``ProductRepository.java:95-117``).
        """
        cfg = self.cfg
        k = cfg.default_k if k is None else min(k, cfg.max_k)
        offset = min(max(offset, 0), cfg.max_offset)

        qterms = sorted(set(tokenize(query, cfg.max_token_len,
                                     cfg.min_token_len, cfg.analyzer)))
        scores: dict[int, float] = defaultdict(float)
        nmatch: dict[int, int] = defaultdict(int)
        for t in qterms:  # fixed term order → deterministic float summation
            pl = self.postings.get(t)
            if not pl:
                continue
            w = self.idf(t)
            for did, tf in pl:
                scores[did] += w * self.tf_norm(tf, self.doc_len[did])
                nmatch[did] += 1

        hits = []
        for did, s in scores.items():
            if s < min_score:
                continue
            if nmatch[did] < min_match:  # minimum-should-match (X49)
                continue
            m = self.doc_meta[did]
            if lang is not None and m["lang"] != lang:
                continue
            if warc_ts_min is not None and m["warc_ts"] < warc_ts_min:
                continue
            if warc_ts_max is not None and m["warc_ts"] > warc_ts_max:
                continue
            hits.append((did, s))

        hits.sort(key=lambda x: (-x[1], x[0]))  # (score DESC, doc_id ASC)
        page = hits[offset:offset + k]
        return {
            "results": [
                {"doc_id": did, "score": s, **self.doc_meta[did]}
                for did, s in page
            ],
            "total_count": len(hits),  # Q10: pre-limit threshold survivors
            "limit": k,
            "offset": offset,
            "query": query,
        }

    def top_k(self, query: str, k: int = 10, min_match: int = 1
              ) -> list[tuple[int, float]]:
        r = self.search(query, k=k, min_match=min_match)
        return [(h["doc_id"], h["score"]) for h in r["results"]]

    # ------------------------------------------------------- phrase/proximity
    def _bm25_for_docs(self, qterms_sorted: list[str],
                       docs: set[int]) -> dict[int, float]:
        """BM25 over the given term set restricted to ``docs`` — identical
        float order (sorted terms, postings order) to :meth:`search`."""
        scores: dict[int, float] = defaultdict(float)
        for t in qterms_sorted:
            pl = self.postings.get(t)
            if not pl:
                continue
            w = self.idf(t)
            for did, tf in pl:
                if did in docs:
                    scores[did] += w * self.tf_norm(tf, self.doc_len[did])
        return scores

    def phrase_top_k(self, phrase: str,
                     k: int = 10) -> list[tuple[int, float, int]]:
        """Exact phrase match (Postgres ``phraseto_tsquery`` / ``<->``
        semantics over kept-token positions) ranked by BM25 of the
        phrase's terms. Returns [(doc_id, score, n_matches)] in
        (score DESC, doc_id ASC) order."""
        cfg = self.cfg
        pterms = tokenize(phrase, cfg.max_token_len, cfg.min_token_len,
                          cfg.analyzer)
        if not pterms:
            return []
        matched: dict[int, int] = {}
        for did, pos in self.doc_positions.items():
            n = phrase_match_count(pos, pterms)
            if n > 0:
                matched[did] = n
        scores = self._bm25_for_docs(sorted(set(pterms)), set(matched))
        hits = sorted(((did, s, matched[did]) for did, s in scores.items()),
                      key=lambda x: (-x[1], x[0]))
        return hits[:k]

    def near_top_k(self, query: str, max_span: int,
                   k: int = 10) -> list[tuple[int, float, int]]:
        """Proximity search: all distinct query terms within a window of
        ``max_span`` tokens (inclusive span), ranked by BM25. Returns
        [(doc_id, score, span)]."""
        cfg = self.cfg
        qterms = tokenize(query, cfg.max_token_len, cfg.min_token_len,
                          cfg.analyzer)
        if not qterms:
            return []
        matched: dict[int, int] = {}
        for did, pos in self.doc_positions.items():
            span = min_window_span(pos, qterms)
            if span is not None and span <= max_span:
                matched[did] = span
        scores = self._bm25_for_docs(sorted(set(qterms)), set(matched))
        hits = sorted(((did, s, matched[did]) for did, s in scores.items()),
                      key=lambda x: (-x[1], x[0]))
        return hits[:k]

    def span_near_top_k(self, query: str, max_span: int,
                        k: int = 10) -> list[tuple[int, float, int]]:
        """Ordered proximity (Lucene ``SpanNearQuery(inOrder=true)``):
        the query terms in query order within ``max_span`` tokens,
        ranked by BM25. Returns [(doc_id, score, span)]."""
        from .textproc import min_ordered_window_span

        cfg = self.cfg
        qterms = tokenize(query, cfg.max_token_len, cfg.min_token_len,
                          cfg.analyzer)
        if not qterms:
            return []
        matched: dict[int, int] = {}
        for did, pos in self.doc_positions.items():
            span = min_ordered_window_span(pos, qterms)
            if span is not None and span <= max_span:
                matched[did] = span
        scores = self._bm25_for_docs(sorted(set(qterms)), set(matched))
        hits = sorted(((did, s, matched[did]) for did, s in scores.items()),
                      key=lambda x: (-x[1], x[0]))
        return hits[:k]

    # ----------------------------------------------------------- boolean
    def boolean_matches(self, query: str) -> dict[int, float]:
        """Websearch-boolean match set (``plans/boolean.py`` grammar):
        doc_id → BM25 score over the query's distinct positive terms
        present in the doc, evaluated naively per document — the
        reference semantics the distributed kernel must reproduce."""
        from .plans.boolean import parse_websearch, positive_terms

        cfg = self.cfg
        clauses = parse_websearch(query, cfg.max_token_len,
                                  cfg.min_token_len, cfg.analyzer)
        if not clauses:
            return {}
        vocab = sorted(self.postings)
        prefixes = sorted({p for c in clauses
                           for p in c.req_prefixes + c.neg_prefixes})
        exp = {p: [t for t in vocab if t.startswith(p)] for p in prefixes}
        suffixes = sorted({s for c in clauses
                           for s in c.req_suffixes + c.neg_suffixes})
        sexp = {s: [t for t in vocab if t.endswith(s)] for s in suffixes}
        contains = sorted({s for c in clauses
                           for s in c.req_contains + c.neg_contains})
        cexp = {s: [t for t in vocab if s in t] for s in contains}
        # oracle regex dialect is Python re; engine tests stay inside
        # the re/java.util.regex-portable subset
        regexes = sorted({p for c in clauses
                          for p in c.req_regex + c.neg_regex})
        rexp = {p: [t for t in vocab if re.fullmatch(p, t)]
                for p in regexes}
        pos_terms = positive_terms(clauses, exp, sexp, cexp, rexp)

        out: dict[int, float] = {}
        for did, tpos in self.doc_positions.items():
            present = set(tpos)
            ok = False
            for c in clauses:
                if not all(t in present for t in c.req_terms):
                    continue
                if not all(any(t in present for t in exp[p])
                           for p in c.req_prefixes):
                    continue
                if not all(any(t in present for t in sexp[s])
                           for s in c.req_suffixes):
                    continue
                if not all(any(t in present for t in cexp[s])
                           for s in c.req_contains):
                    continue
                if not all(any(t in present for t in rexp[p])
                           for p in c.req_regex):
                    continue
                if any(t in present for t in c.neg_terms):
                    continue
                if any(any(t in present for t in exp[p])
                       for p in c.neg_prefixes):
                    continue
                if any(any(t in present for t in sexp[s])
                       for s in c.neg_suffixes):
                    continue
                if any(any(t in present for t in cexp[s])
                       for s in c.neg_contains):
                    continue
                if any(any(t in present for t in rexp[p])
                       for p in c.neg_regex):
                    continue
                if not all(phrase_match_count(tpos, list(ph)) > 0
                           for ph in c.req_phrases):
                    continue
                if any(phrase_match_count(tpos, list(ph)) > 0
                       for ph in c.neg_phrases):
                    continue
                ok = True
                break
            if not ok:
                continue
            s = 0.0
            dl = self.doc_len[did]
            for t in pos_terms:  # sorted-term fold — the engine's order
                if t in tpos:
                    s += self.idf(t) * self.tf_norm(len(tpos[t]), dl)
            out[did] = s
        return out

    def boolean_top_k(self, query: str, k: int = 10
                      ) -> list[tuple[int, float]]:
        hits = sorted(self.boolean_matches(query).items(),
                      key=lambda x: (-x[1], x[0]))
        return hits[:k]

    # ---------------------------------------------------- more-like-this
    def mlt_terms(self, doc_id: int, max_query_terms: int = 20,
                  min_tf: int = 2, min_df: int = 2,
                  max_df_ratio: float = 0.25) -> list[str]:
        """Representative query terms of a document, Lucene
        MoreLikeThis-style: rank the doc's terms by tf·idf, drop terms
        with tf < min_tf, df < min_df (noise), or df > max_df_ratio·N
        (stopword-ish), keep the top ``max_query_terms``.
        Deterministic tie-break: (tf·idf DESC, term ASC)."""
        tpos = self.doc_positions.get(doc_id)
        if tpos is None:
            return []
        cand = []
        for t, ps in tpos.items():
            tf, df = len(ps), self.df(t)
            if tf < min_tf or df < min_df or df > max_df_ratio * self.n_docs:
                continue
            cand.append((-(tf * self.idf(t)), t))
        cand.sort()
        return [t for _, t in cand[:max_query_terms]]

    def more_like_this(self, doc_id: int, k: int = 10,
                       max_query_terms: int = 20, min_tf: int = 2,
                       min_df: int = 2, max_df_ratio: float = 0.25
                       ) -> list[tuple[int, float]]:
        """Related docs: BM25 top-k for the doc's MLT terms, the source
        doc itself excluded."""
        terms = self.mlt_terms(doc_id, max_query_terms, min_tf, min_df,
                               max_df_ratio)
        if not terms:
            return []
        hits = self.top_k(" ".join(terms), k=k + 1)
        return [(d, s) for d, s in hits if d != doc_id][:k]


def bm25f_top_k(field_indexes: dict[str, tuple["OracleIndex", float]],
                query: str, k: int = 10) -> list[tuple[int, float]]:
    """Weighted multi-field ("BM25F"-style) reference ranking: score(d) =
    Σ_fields w_f · BM25_f(d, query), each field scored against its own
    index (its own df/avgdl/doc_len — Postgres ``setweight`` composition).

    Float fold order is the DISTRIBUTED KERNEL's order — contributions
    accumulate over qualified ``(field, term)`` keys sorted
    lexicographically, weight applied per contribution — so engine scores
    must match bit-for-bit, making strict rank-identity assertions safe.
    """
    cfg = next(iter(field_indexes.values()))[0].cfg
    qterms = sorted(set(tokenize(query, cfg.max_token_len,
                                 cfg.min_token_len, cfg.analyzer)))
    if not qterms:
        return []
    keys = sorted((f, t) for f in field_indexes for t in qterms)
    scores: dict[int, float] = defaultdict(float)
    for f, t in keys:
        idx, w = field_indexes[f]
        pl = idx.postings.get(t)
        if not pl or idx.avg_doc_len <= 0:
            continue
        wt = w * idx.idf(t)
        for did, tf in pl:
            scores[did] += wt * idx.tf_norm(tf, idx.doc_len[did])
    hits = sorted(scores.items(), key=lambda x: (-x[1], x[0]))
    return hits[:k]


def doc_embedding(index: "OracleIndex", doc_id: int, dim: int
                  ) -> list[float]:
    """The at-rest document vector the Spark build stores: the hashing
    featurizer's float64 fold (shared pure-Python spec,
    operators/hybrid.embed_tf_map) rounded per-component to float32 —
    the ONE lossy step — then widened back, exactly like reading a
    parquet float column and casting to double."""
    import numpy as np

    from .operators.hybrid import embed_tf_map

    tf_map = {t: len(ps)
              for t, ps in index.doc_positions.get(doc_id, {}).items()}
    return [float(np.float32(x)) for x in embed_tf_map(tf_map, dim)]


def semantic_top_k(index: "OracleIndex", query: str, dim: int,
                   k: int = 10) -> list[tuple[int, float]]:
    """Embedding-cosine reference ranking, float-op-identical to the
    Spark plan (operators/ann.cosine_col): left-to-right folds for dot
    and row norm, probe norm as a Python-side constant with the same
    ``or 1.0`` guard, one final division. Zero-norm docs are skipped
    (the plan filters their NaN cosine)."""
    from collections import Counter as _Counter

    from .operators.hybrid import embed_tf_map

    toks = tokenize(query, index.cfg.max_token_len,
                    index.cfg.min_token_len, index.cfg.analyzer)
    probe = list(embed_tf_map(dict(_Counter(toks)), dim))
    if not any(probe):
        return []
    pnorm = math.sqrt(sum(x * x for x in probe)) or 1.0
    hits: list[tuple[int, float]] = []
    for did in index.doc_len:
        v = doc_embedding(index, did, dim)
        dot, sq = 0.0, 0.0
        for a, b in zip(v, probe):
            dot = dot + a * b
        for a in v:
            sq = sq + a * a
        norm = math.sqrt(sq)
        if norm == 0.0:
            continue
        hits.append((did, dot / (norm * pnorm)))
    hits.sort(key=lambda x: (-x[1], x[0]))
    return hits[:k]


def hybrid_rrf_top_k(index: "OracleIndex", query: str, dim: int,
                     k: int = 10, k_each: int | None = None,
                     rrf_k: float = 60.0, w_lex: float = 1.0,
                     w_sem: float = 1.0) -> list[tuple[int, float]]:
    """Reciprocal-rank fusion reference (Cormack/Clarke/Buettcher '09):
    score(d) = Σ_paths w/(rrf_k + rank). Each doc gets at most one
    contribution per path and two-term IEEE addition is commutative, so
    the engine's groupBy-sum reproduces these floats bit-for-bit."""
    k_each = k_each or 2 * k
    fused: dict[int, float] = defaultdict(float)
    if w_lex:
        for r, (did, _s) in enumerate(index.top_k(query, k=k_each), 1):
            fused[did] += w_lex / (rrf_k + r)
    if w_sem:
        for r, (did, _c) in enumerate(
                semantic_top_k(index, query, dim, k=k_each), 1):
            fused[did] += w_sem / (rrf_k + r)
    hits = sorted(fused.items(), key=lambda x: (-x[1], x[0]))
    return hits[:k]


def prf_expansion_terms(index: "OracleIndex", query: str,
                        fb_docs: int = 5, fb_terms: int = 10,
                        min_df: int = 2, max_df_ratio: float = 0.25
                        ) -> list[str]:
    """PRF expansion-term selection mirror (QueryEngine.expansion_terms):
    pooled tf·idf over the top ``fb_docs`` docs' terms, MLT df cuts,
    original query terms excluded, (-score, term) order."""
    qterms = set(tokenize(query, index.cfg.max_token_len,
                          index.cfg.min_token_len, index.cfg.analyzer))
    seed = index.top_k(query, k=fb_docs)
    if not seed:
        return []
    pooled: dict[str, int] = defaultdict(int)
    for did, _s in seed:
        for t, ps in index.doc_positions.get(did, {}).items():
            if t not in qterms:
                pooled[t] += len(ps)
    n = index.n_docs
    cand = []
    for t, tf in pooled.items():
        df = index.df(t)
        if df < min_df or df > max_df_ratio * n:
            continue
        cand.append((-(tf * index.idf(t)), t))
    cand.sort()
    return [t for _, t in cand[:fb_terms]]


def boosted_top_k(index: "OracleIndex", terms: list[str],
                  boosts: dict[str, float], k: int = 10
                  ) -> list[tuple[int, float]]:
    """Weighted-term BM25 ranking mirror: weight = boost·idf (the
    kernel's float-op order), contributions folded in sorted-term
    order — bit-identical to the boosted WAND path."""
    scores: dict[int, float] = defaultdict(float)
    for t in sorted(set(terms)):
        pl = index.postings.get(t)
        if not pl or index.avg_doc_len <= 0:
            continue
        w = boosts.get(t, 1.0) * index.idf(t) if boosts else index.idf(t)
        for did, tf in pl:
            scores[did] += w * index.tf_norm(tf, index.doc_len[did])
    hits = sorted(scores.items(), key=lambda x: (-x[1], x[0]))
    return hits[:k]


def prf_top_k(index: "OracleIndex", query: str, k: int = 10,
              fb_docs: int = 5, fb_terms: int = 10, boost: float = 0.4,
              min_df: int = 2, max_df_ratio: float = 0.25
              ) -> list[tuple[int, float]]:
    """Full PRF reference ranking (QueryEngine.prf_top_k mirror)."""
    exp = prf_expansion_terms(index, query, fb_docs, fb_terms, min_df,
                              max_df_ratio)
    qterms = sorted(set(tokenize(query, index.cfg.max_token_len,
                                 index.cfg.min_token_len,
                                 index.cfg.analyzer)))
    if not exp:
        return index.top_k(query, k=k)
    return boosted_top_k(index, sorted(set(qterms) | set(exp)),
                         {t: float(boost) for t in exp}, k=k)


def significant_terms(index: "OracleIndex", query: str, n: int = 10,
                      min_fg_df: int = 2,
                      exclude_query_terms: bool = True
                      ) -> list[tuple[str, int, int, float]]:
    """Significant-terms mirror (QueryEngine.significant_terms, mode="any",
    no sampling): foreground = docs containing ≥1 query term, per-term
    fg_df over each matched doc's DISTINCT terms, JLH score with the same
    float expression shape. Returns [(term, fg_df, bg_df, score)] in
    (score DESC, term ASC) order."""
    cfg = index.cfg
    qterms = sorted(set(tokenize(query, cfg.max_token_len,
                                 cfg.min_token_len, cfg.analyzer)))
    fg_docs: set[int] = set()
    for t in qterms:
        for did, _tf in index.postings.get(t, ()):
            fg_docs.add(did)
    if not fg_docs:
        return []
    fg_size = float(len(fg_docs))
    counts: Counter = Counter()
    for did in fg_docs:
        counts.update(index.doc_positions[did].keys())
    n_docs = float(index.n_docs)
    out = []
    for term, fg in counts.items():
        if fg < min_fg_df:
            continue
        if exclude_query_terms and term in qterms:
            continue
        df = index.df(term)
        fgp = fg / fg_size
        bgp = df / n_docs
        if not fgp > bgp:
            continue
        out.append((term, fg, df, (fgp - bgp) * (fgp / bgp)))
    out.sort(key=lambda x: (-x[3], x[0]))
    return out[:n]


def collapse_top_k(index: "OracleIndex", query: str, by: str = "lang",
                   k: int = 10) -> list[tuple[object, int, float]]:
    """Field-collapse mirror (QueryEngine.collapse_top_k_df): best doc per
    ``by`` value (string form; None keys one group), top k values,
    (score DESC, doc_id ASC) at both levels."""
    cfg = index.cfg
    qterms = sorted(set(tokenize(query, cfg.max_token_len,
                                 cfg.min_token_len, cfg.analyzer)))
    scores: dict[int, float] = defaultdict(float)
    for t in qterms:
        pl = index.postings.get(t)
        if not pl:
            continue
        w = index.idf(t)
        for did, tf in pl:
            scores[did] += w * index.tf_norm(tf, index.doc_len[did])
    best: dict = {}
    for did in sorted(scores):  # increasing doc_id: ties keep earlier doc
        v = index.doc_meta[did].get(by)
        key = None if v is None else str(v)
        s = scores[did]
        old = best.get(key)
        if old is None or s > old[0]:
            best[key] = (s, did)
    hits = sorted(((key, did, s) for key, (s, did) in best.items()),
                  key=lambda x: (-x[2], x[1]))
    return hits[:k]
