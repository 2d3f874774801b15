"""Federated multi-index retrieval: N independent indexes, ONE query.

The web-scale serving shape this enables: a crawl archive keeps one index
per time slice (per crawl month / per source partition) and never rebuilds
old slices — new data lands as a NEW index (the reference's single-table
world has no analogue; Elasticsearch calls this an alias over
time-partitioned indices, and its cross-index scoring fix is
``dfs_query_then_fetch``). Querying the federation must behave exactly like
querying one combined index, which requires GLOBAL BM25 statistics:

- ``N_g = Σ N_i`` and ``df_g(t) = Σ df_i(t)`` — exact for disjoint doc
  sets (the federation contract; see :meth:`FederatedQueryEngine.
  assert_disjoint`),
- ``avgdl_g = Σ total_tokens_i / Σ N_i`` — exact integer arithmetic from
  each index's persisted ``corpus_stats.total_tokens`` (a long), so the
  float division is bit-identical to what a combined build computes
  (Spark's ``avg(long)`` sums exactly-representable integers in double).

Soundness of block-max pruning under global stats: a sub-index's stored
``block_max_tf_norm`` bounds ``tf/(tf + K(dl))`` under its OWN avgdl. With
the global avgdl the normalizer ``K(dl) = k1·(1−b) + k1·b·dl/avgdl``
shrinks when ``avgdl_g > avgdl_i``, so contributions grow — by at most
``avgdl_g/avgdl_i`` (the ratio ``(tf+K_i)/(tf+K_g)`` is increasing in dl
and tends to ``avgdl_g/avgdl_i`` as dl→∞, never exceeding it). Each
sub-index's cursors therefore scale their bounds by
``max(1, avgdl_g/avgdl_i)``, inflated by 1e-9 relative so float rounding
can never shave the bound below a true contribution — bounds only need to
be sound, and the looseness costs at most a handful of extra evaluations.

Distribution model: one Spark job. Each index's pruned posting scan
(constant-folded term_bucket literals + ``term IN`` pushdown, each under
its OWN layout — bucket counts may differ per index) is tagged with its
federation position and unioned; WAND runs per ``(fed_idx, partition_id)``
group — every doc lives in exactly one group, so the union of per-group
top-k sets is a superset of the global top-k and a final
``orderBy(score DESC, doc_id ASC).limit(k)`` over ≤ Σ_i P_i·k rows is
exact (TakeOrderedAndProject — no extra exchange). Scoring inside a group
uses the driver-computed global idf and global avgdl with the oracle's
exact float expressions, so federated results are BIT-IDENTICAL to a
single index built over the union of the corpora (pinned by test).

Reference parity note: the reference serves one Postgres table
(``search-api/.../repository/ProductRepository.java:70-82``); this module
is an extension for the 10^12-doc regime where a single monolithic index
stops being operable (SURVEY.md §2.3 X61).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..textproc import tokenize
from .query import QueryEngine
from .wand import bm25_idf, group_blocks_by_term, wand_top_k

FED_OUT_SCHEMA = "fed_idx int, partition_id int, doc_id long, score double"

#: relative inflation on the avgdl-ratio bound multiplier — swamps any
#: 1-ulp rounding in the stored block max or the ratio itself (module
#: docstring); 1e-9 ≫ 2^-52 while being far below any measurable cost
_UB_FLOAT_MARGIN = 1.0 + 1e-9

#: scoring/tokenization config fields that must agree across federated
#: indexes — they change term identity or the score function itself.
#: Physical layout (bucket counts, block_size) may differ per index.
_SCORING_CFG = ("k1", "b", "max_token_len", "min_token_len", "analyzer")


def make_fed_fn(qterms: list[str], weights: dict[str, float],
                k: int, k1: float, b: float, avgdl_g: float,
                ub_scale_by_idx: dict[int, float],
                min_score: float = 0.0):
    """``applyInPandas`` body: one (fed_idx, doc-bucket) group's blocks →
    local top-k under GLOBAL stats. All blocks in a group come from one
    sub-index, so plain term keys suffice (no qualified cursors) and the
    group's single ``ub_scale`` re-sounds every cursor's bounds.

    Cogrouped, the right side is the group's structured-filter survivor
    doc ids (each sub-index's doc_meta, same tag + bucket key); empty
    survivors ⇒ empty result for the group, exactly like the
    single-index filtered fast path. Unfiltered (``groupBy``), call it
    with ``allowed_pdf=None``."""
    import numpy as np
    import pandas as pd

    def run_group(blocks_pdf, allowed_pdf):
        docs: list[int] = []
        scores: list[float] = []
        fi = pid = 0
        if len(blocks_pdf) and (allowed_pdf is None or len(allowed_pdf)):
            allowed = (None if allowed_pdf is None else
                       np.sort(allowed_pdf["doc_id"].to_numpy(dtype=np.int64)))
            fi = int(blocks_pdf["fed_idx"].iloc[0])
            pid = int(blocks_pdf["partition_id"].iloc[0])
            blocks_pdf = blocks_pdf.sort_values(
                ["term", "partition_id", "block_id"], kind="mergesort")
            by_term = group_blocks_by_term(blocks_pdf)
            sub = {t: by_term[t] for t in qterms if t in by_term}
            if sub:
                hits, _ = wand_top_k(
                    sub, weights, k, k1, b, avgdl_g, allowed=allowed,
                    min_score=min_score,
                    ub_scale=ub_scale_by_idx.get(fi, _UB_FLOAT_MARGIN))
                for d, s in hits:
                    docs.append(d)
                    scores.append(s)
        n = len(docs)
        return pd.DataFrame({
            "fed_idx": pd.Series([fi] * n, dtype="int32"),
            "partition_id": pd.Series([pid] * n, dtype="int32"),
            "doc_id": pd.Series(docs, dtype="int64"),
            "score": pd.Series(scores, dtype="float64"),
        })

    return run_group


@dataclass
class FederatedQueryEngine:
    """Query N committed indexes as one logical index (module docstring).

    ``engines`` are ordinary :class:`QueryEngine` instances, each bound to
    its own store/warehouse; their scoring configs must agree
    (:data:`_SCORING_CFG`) — physical layouts may differ.
    """

    spark: SparkSession
    engines: list[QueryEngine]
    _stats_cache: dict | None = field(default=None, repr=False)

    def __post_init__(self) -> None:
        if not self.engines:
            raise ValueError("FederatedQueryEngine needs >= 1 engine")
        cfg0 = self.engines[0].cfg
        for i, e in enumerate(self.engines[1:], start=1):
            bad = [f for f in _SCORING_CFG
                   if getattr(e.cfg, f) != getattr(cfg0, f)]
            if bad:
                raise ValueError(
                    f"federated index {i} disagrees with index 0 on "
                    f"scoring config {bad}; federation requires identical "
                    "term/scoring semantics (physical layout may differ)")

    # ------------------------------------------------------------------
    def global_stats(self) -> dict:
        """Global N / avgdl from each index's corpus_stats (exact integer
        total_tokens ⇒ the same float avgdl a combined build computes).
        One tiny read per index, cached per federation instance."""
        if self._stats_cache is not None:
            return self._stats_cache
        n_g = 0
        total_g = 0
        per_index = []
        for e in self.engines:
            row = e.store.read(f"corpus_stats{e._sfx()}").collect()[0]
            n_i = int(row["n_docs"])
            total_i = int(row["total_tokens"] or 0)
            n_g += n_i
            total_g += total_i
            avgdl_i = float(row["avg_doc_len"] or 0.0)
            per_index.append({"n_docs": n_i, "total_tokens": total_i,
                              "avg_doc_len": avgdl_i})
        avgdl_g = (total_g / n_g) if n_g else 0.0
        self._stats_cache = {"n_docs": n_g, "avg_doc_len": avgdl_g,
                             "per_index": per_index}
        return self._stats_cache

    def term_idfs(self, qterms: list[str]) -> dict[str, float]:
        """Global idf per query term: ONE job unioning every index's
        pruned term_stats scan (≤ |q| rows each), df summed across
        indexes — exact for disjoint doc sets — then the oracle's Python
        idf expression on the global numbers."""
        if not qterms:
            return {}
        n_g = self.global_stats()["n_docs"]
        scans = [e._pruned_term_scan(f"term_stats{e._sfx()}", qterms)
                 .select("term", "df") for e in self.engines]
        uni = scans[0]
        for s in scans[1:]:
            uni = uni.unionByName(s)
        rows = uni.groupBy("term").agg(F.sum("df").alias("df")).collect()
        return {r["term"]: bm25_idf(n_g, int(r["df"])) for r in rows}

    def _ub_scales(self) -> dict[int, float]:
        gs = self.global_stats()
        avgdl_g = gs["avg_doc_len"]
        out = {}
        for i, pi in enumerate(gs["per_index"]):
            a_i = pi["avg_doc_len"]
            ratio = (avgdl_g / a_i) if a_i > 0 else 1.0
            out[i] = max(1.0, ratio) * _UB_FLOAT_MARGIN
        return out

    # ------------------------------------------------------------------
    def top_k_df(self, query: str, k: int = 10,
                 lang: str | None = None, warc_ts_min=None,
                 warc_ts_max=None, min_score: float = 0.0) -> DataFrame:
        """Federated block-max WAND top-k — one job over all indexes.

        Returns (fed_idx, partition_id, doc_id, score) ordered
        (score DESC, doc_id ASC); fed_idx/partition_id ride along so
        result hydration can prune each sub-index's metadata scan to the
        buckets that actually hold hits.
        """
        cfg = self.engines[0].cfg
        qterms = sorted(set(tokenize(query, cfg.max_token_len,
                                     cfg.min_token_len, cfg.analyzer)))
        empty = self.spark.createDataFrame([], FED_OUT_SCHEMA)
        if not qterms or k <= 0:
            return empty
        weights = self.term_idfs(qterms)
        gs = self.global_stats()
        if not weights or gs["avg_doc_len"] <= 0:
            return empty

        cols = ["term", "partition_id", "block_id", "last_doc_id",
                "block_max_tf_norm", "doc_ids_vb", "tfs_vb", "dls_vb"]
        parts = []
        for i, e in enumerate(self.engines):
            parts.append(
                e._pruned_term_scan(f"postings{e._sfx()}", qterms)
                .select(*cols).withColumn("fed_idx", F.lit(i)))
        blocks = parts[0]
        for p in parts[1:]:
            blocks = blocks.unionByName(p)

        fn = make_fed_fn(qterms, weights, k, float(cfg.k1), float(cfg.b),
                         gs["avg_doc_len"], self._ub_scales(),
                         min_score=float(min_score))
        filtered = (lang is not None or warc_ts_min is not None
                    or warc_ts_max is not None)
        if filtered:
            metas = []
            for i, e in enumerate(self.engines):
                m = e._apply_meta_filters(
                    e.store.read(f"doc_meta{e._sfx()}"), lang,
                    warc_ts_min, warc_ts_max)
                metas.append(m.select("partition_id", "doc_id")
                             .withColumn("fed_idx", F.lit(i)))
            allowed = metas[0]
            for m in metas[1:]:
                allowed = allowed.unionByName(m)
            local = (blocks.groupBy("fed_idx", "partition_id")
                     .cogroup(allowed.groupBy("fed_idx", "partition_id"))
                     .applyInPandas(fn, schema=FED_OUT_SCHEMA))
        else:
            local = (blocks.groupBy("fed_idx", "partition_id")
                     .applyInPandas(lambda pdf: fn(pdf, None),
                                    schema=FED_OUT_SCHEMA))
        # union of per-(index,bucket) top-k ⊇ global top-k; final merge is
        # TakeOrderedAndProject over ≤ Σ_i P_i·k rows
        return (local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k))

    def top_k(self, query: str, k: int = 10, **kw
              ) -> list[tuple[int, float]]:
        rows = self.top_k_df(query, k=k, **kw).collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    # ------------------------------------------------------------------
    def search(self, query: str, k: int = 10, lang: str | None = None,
               warc_ts_min=None, warc_ts_max=None,
               min_score: float = 0.0) -> dict:
        """Hydrated result envelope: top-k decorated with each hit's
        url/lang/warc_ts from the OWNING index's doc_meta, pruned to the
        hit buckets (one bounded job; never a full metadata scan)."""
        hits = self.top_k_df(query, k=k, lang=lang,
                             warc_ts_min=warc_ts_min,
                             warc_ts_max=warc_ts_max,
                             min_score=min_score).collect()
        by_idx: dict[int, list] = {}
        for r in hits:
            by_idx.setdefault(int(r["fed_idx"]), []).append(r)
        meta: dict[int, dict] = {}
        for i, rows in by_idx.items():
            e = self.engines[i]
            buckets = sorted({int(r["partition_id"]) for r in rows})
            ids = [int(r["doc_id"]) for r in rows]
            got = (e.store.read(f"doc_meta{e._sfx()}")
                   .filter(F.col("partition_id").isin(buckets))
                   .filter(F.col("doc_id").isin(ids))
                   .select("doc_id", "url", "lang", "warc_ts").collect())
            for m in got:
                meta[int(m["doc_id"])] = {
                    "url": m["url"], "lang": m["lang"],
                    "warc_ts": m["warc_ts"]}
        results = []
        for r in hits:
            d = int(r["doc_id"])
            results.append({"doc_id": d, "score": float(r["score"]),
                            "index": int(r["fed_idx"]),
                            **meta.get(d, {})})
        return {"query": query, "results": results}

    # ------------------------------------------------------------------
    def assert_disjoint(self) -> None:
        """Audit the federation contract: no doc_id appears in two
        indexes (df/N summation is only exact for disjoint doc sets).
        One hash-aggregation over the unioned doc_meta id columns — run
        it when composing a federation, not per query; at web scale this
        is the same invariant the content-dedup ledger maintains between
        crawl slices (SURVEY.md §2.3 X60)."""
        ids = [e.store.read(f"doc_meta{e._sfx()}").select("doc_id")
               for e in self.engines]
        uni = ids[0]
        for s in ids[1:]:
            uni = uni.unionByName(s)
        dup = (uni.groupBy("doc_id").count()
               .filter(F.col("count") > 1).limit(1).collect())
        if dup:
            raise ValueError(
                f"federated indexes overlap: doc_id {dup[0]['doc_id']} "
                "appears in more than one index — global df/N statistics "
                "require disjoint doc sets (dedup across slices first)")
