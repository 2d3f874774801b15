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

Distribution model: the single-query plan of :class:`QueryEngine`
(``_rank_on_driver``), over all indexes at once. Each index's pruned
posting scan (term_bucket int literals + ``term IN`` pushdown, each under
its OWN layout — bucket counts may differ per index) is tagged with its
federation position and unioned, and the union is collected to the
driver in ONE JVM-only job; no Python task runs. The collected bytes are
the query terms' blocks in every index — what one combined index would
collect for the same query. ``df_g(t)`` is Σ ``n_postings`` over every
index's collected blocks of ``t`` (term_stats' own definition), so no
term_stats table is read. The driver then runs WAND once per
``(fed_idx, partition_id)`` bucket under the global N/avgdl and idf with
the oracle's exact float expressions — every doc lives in exactly one
bucket, so the union of per-bucket top-k sets is a superset of the
global top-k and a (score DESC, doc_id ASC) merge of ≤ Σ_i P_i·k rows is
exact. Federated results are BIT-IDENTICAL to a single index built over
the union of the corpora (pinned by test). A structured filter adds ONE
JVM-only read: the union of every index's filter survivors, each index
pruned to the buckets that hold its postings and tagged with its
federation position, whatever the number of indexes; ``search``
hydrates its hits with one such union read of doc_meta. N/avgdl come
from each index's :meth:`QueryEngine.corpus_stats`, which re-reads
after a commit, so an ingest into one index shows up in the next
federated query.

Reference parity note: the reference serves one Postgres table
(``search-api/.../repository/ProductRepository.java:70-82``); this module
is an extension for the 10^12-doc regime where a single monolithic index
stops being operable (SURVEY.md §2.3 X61).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..textproc import tokenize
from .query import QueryEngine
from .wand import _wand_bucket_kernel

FED_OUT_SCHEMA = pa.schema([("fed_idx", pa.int32()),
                            ("partition_id", pa.int32()),
                            ("doc_id", pa.int64()), ("score", pa.float64())])

#: relative inflation on the avgdl-ratio bound multiplier — swamps any
#: 1-ulp rounding in the stored block max or the ratio itself (module
#: docstring); 1e-9 ≫ 2^-52 while being far below any measurable cost
_UB_FLOAT_MARGIN = 1.0 + 1e-9

#: scoring/tokenization config fields that must agree across federated
#: indexes — they change term identity or the score function itself.
#: Physical layout (bucket counts, block_size) may differ per index.
_SCORING_CFG = ("k1", "b", "max_token_len", "min_token_len", "analyzer")


def _union(frames: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, frames)


@dataclass
class FederatedQueryEngine:
    """Query N committed indexes as one logical index (module docstring).

    ``engines`` are ordinary :class:`QueryEngine` instances, each bound to
    its own store/warehouse; their scoring configs must agree
    (:data:`_SCORING_CFG`) — physical layouts may differ.
    """

    spark: SparkSession
    engines: list[QueryEngine]

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
        Each index's :meth:`QueryEngine.corpus_stats` is cached on its
        corpus_stats ``data_uuid``: one manifest read per index, and a
        tiny job only for an index that committed since the last call."""
        per_index = [e.corpus_stats() for e in self.engines]
        n_g = sum(s["n_docs"] for s in per_index)
        total_g = sum(s["total_tokens"] for s in per_index)
        avgdl_g = (total_g / n_g) if n_g else 0.0
        return {"n_docs": n_g, "avg_doc_len": avgdl_g,
                "per_index": per_index}

    @staticmethod
    def _ub_scales(gs: dict) -> dict[int, float]:
        avgdl_g = gs["avg_doc_len"]
        out = {}
        for i, pi in enumerate(gs["per_index"]):
            a_i = pi["avg_doc_len"]
            ratio = (avgdl_g / a_i) if a_i > 0 else 1.0
            out[i] = max(1.0, ratio) * _UB_FLOAT_MARGIN
        return out

    # ------------------------------------------------------------------
    def _hits(self, query: str, k: int = 10, lang: str | None = None,
              warc_ts_min=None, warc_ts_max=None,
              min_score: float = 0.0) -> pa.Table:
        """Federated block-max WAND top-k, ranked on the driver (module
        docstring): (fed_idx, partition_id, doc_id, score) rows in
        (score DESC, doc_id ASC) order as an Arrow table. One JVM-only
        job, plus one under a filter (:meth:`_survivor_slices`); none
        for an empty query or ``k`` ≤ 0."""
        import heapq

        cfg = self.engines[0].cfg
        qterms = sorted(set(tokenize(query, cfg.max_token_len,
                                     cfg.min_token_len, cfg.analyzer)))
        if not qterms or k <= 0:
            return FED_OUT_SCHEMA.empty_table()
        gs = self.global_stats()
        if gs["avg_doc_len"] <= 0:
            return FED_OUT_SCHEMA.empty_table()
        scans = [e._driver_wand_scan(qterms).withColumn("fed_idx", F.lit(i))
                 for i, e in enumerate(self.engines)]
        # df = Σ n_postings over every index's blocks: the global df
        blocks = QueryEngine._collect_blocks(_union(scans))
        mine = [blocks.filter(pc.equal(blocks.column("fed_idx"), i))
                for i in range(len(self.engines))]
        slices = self._survivor_slices(mine, lang, warc_ts_min, warc_ts_max)
        scales = self._ub_scales(gs)
        rows: list[tuple] = []
        for i in range(len(self.engines)):
            bucket_hits = _wand_bucket_kernel(
                qterms, k, float(cfg.k1), float(cfg.b), gs["avg_doc_len"],
                float(min_score), ub_scale=scales[i])
            rows.extend((i, p, d, s) for _, p, d, s, _ in QueryEngine
                        ._bucket_rows(mine[i], gs["n_docs"], bucket_hits,
                                      slices[i], QueryEngine._allowed_hook))
        # union of per-(index, bucket) top-k ⊇ global top-k
        rows = heapq.nsmallest(k, rows, key=lambda r: (-r[3], r[2]))
        return pa.Table.from_pylist(
            [dict(zip(FED_OUT_SCHEMA.names, r)) for r in rows],
            schema=FED_OUT_SCHEMA)

    def _survivor_slices(self, blocks: list[pa.Table], lang, warc_ts_min,
                         warc_ts_max) -> list[dict | None]:
        """Per index: bucket → its filter survivors, doc_id-sorted
        (:meth:`QueryEngine._split_buckets`), for the buckets that hold
        its collected ``blocks``; None per index without a filter. ONE
        JVM-only read of the union of every index's survivors, each
        index's scan pruned to its own posting buckets by a literal
        ``partition_id IN (…)`` and tagged with its ``fed_idx``."""
        reads, buckets = [], []
        for i, (e, b) in enumerate(zip(self.engines, blocks)):
            surv = e._filter_survivors(lang, warc_ts_min, warc_ts_max)
            if surv is None:
                return [None] * len(blocks)
            buckets.append(QueryEngine._buckets(b))
            if buckets[i]:
                reads.append(surv.filter(F.col("partition_id")
                                         .isin(buckets[i]))
                             .withColumn("fed_idx", F.lit(i)))
        got = _union(reads).toArrow() if reads else None
        return [QueryEngine._split_buckets(
                    got.filter(pc.equal(got.column("fed_idx"), i)), bs)
                if bs else {} for i, bs in enumerate(buckets)]

    def top_k_df(self, query: str, k: int = 10,
                 lang: str | None = None, warc_ts_min=None,
                 warc_ts_max=None, min_score: float = 0.0) -> DataFrame:
        """Federated block-max WAND top-k as a frame — a
        ``LocalTableScan`` of the driver's hits, whose collect runs no
        job.

        Returns (fed_idx, partition_id, doc_id, score) ordered
        (score DESC, doc_id ASC); fed_idx/partition_id ride along so
        result hydration can prune each sub-index's metadata scan to the
        buckets that actually hold hits.
        """
        return self.spark.createDataFrame(self._hits(
            query, k=k, lang=lang, warc_ts_min=warc_ts_min,
            warc_ts_max=warc_ts_max, min_score=min_score))

    def top_k(self, query: str, k: int = 10, **kw
              ) -> list[tuple[int, float]]:
        hits = self._hits(query, k=k, **kw)
        return list(zip(hits.column("doc_id").to_pylist(),
                        hits.column("score").to_pylist()))

    # ------------------------------------------------------------------
    def search(self, query: str, k: int = 10, lang: str | None = None,
               warc_ts_min=None, warc_ts_max=None,
               min_score: float = 0.0) -> dict:
        """Hydrated result envelope: top-k decorated with each hit's
        url/lang/warc_ts from the OWNING index's doc_meta: ONE read of the
        union of every owning index's doc_meta, each pruned to its hit
        buckets and ids (never a full metadata scan)."""
        hits = self._hits(query, k=k, lang=lang, warc_ts_min=warc_ts_min,
                          warc_ts_max=warc_ts_max,
                          min_score=min_score).to_pylist()
        by_idx: dict[int, list] = {}
        for r in hits:
            by_idx.setdefault(r["fed_idx"], []).append(r)
        reads = []
        for i, rows in by_idx.items():
            e = self.engines[i]
            reads.append(
                e.store.read(f"doc_meta{e._sfx()}")
                .filter(F.col("partition_id").isin(
                    sorted({r["partition_id"] for r in rows})))
                .filter(F.col("doc_id").isin([r["doc_id"] for r in rows]))
                .select("doc_id", "url", "lang", "warc_ts")
                .withColumn("fed_idx", F.lit(i)))
        meta = {(m["fed_idx"], m["doc_id"]): {
                    "url": m["url"], "lang": m["lang"],
                    "warc_ts": m["warc_ts"]}
                for m in (_union(reads).collect() if reads else [])}
        results = [{"doc_id": r["doc_id"], "score": r["score"],
                    "index": r["fed_idx"],
                    **meta.get((r["fed_idx"], r["doc_id"]), {})}
                   for r in hits]
        return {"query": query, "results": results}

    # ------------------------------------------------------------------
    def assert_disjoint(self) -> None:
        """Audit the federation contract: no doc_id appears in two
        indexes (df/N summation is only exact for disjoint doc sets).
        One hash-aggregation over the unioned doc_meta id columns — run
        it when composing a federation, not per query; at web scale this
        is the same invariant the content-dedup ledger maintains between
        crawl slices (SURVEY.md §2.3 X60)."""
        uni = _union([e.store.read(f"doc_meta{e._sfx()}").select("doc_id")
                      for e in self.engines])
        dup = (uni.groupBy("doc_id").count()
               .filter(F.col("count") > 1).limit(1).collect())
        if dup:
            raise ValueError(
                f"federated indexes overlap: doc_id {dup[0]['doc_id']} "
                "appears in more than one index — global df/N statistics "
                "require disjoint doc sets (dedup across slices first)")

