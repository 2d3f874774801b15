"""BM25 query engine — filtered, scored top-k with pagination + count.

Spark restatement of the reference's single search statement
(``search-api/.../repository/ProductRepository.java:70-82``: computed score,
threshold, NULL-disabled structured filters, ORDER BY score DESC,
LIMIT/OFFSET) plus its second COUNT statement (``:95-117``) — here one lazy
DAG: postings scan (term-bucket partition pruning + ``term IN`` pushdown) →
block decode (Arrow) → JVM-side BM25 expression → groupBy(doc_id) sum →
doc_meta join → filters → TakeOrderedAndProject top-k.

Two physical paths:
  * block-max WAND (plans/wand.py) — the fast path for top-k, bare or with
    structured filters (WAND skips non-survivors before scoring). A
    single query ranks on the driver over its collected posting blocks
    (:meth:`QueryEngine._rank_on_driver`); a batch ranks in Python tasks.
  * exhaustive — scores every posting; used when an exact pre-limit count
    or a score threshold is requested, and as the correctness baseline.
"""

from __future__ import annotations

import math as _math
import time
from dataclasses import dataclass
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions.varbyte import decode_block
from ..sources.store import TableStore
from ..textproc import tokenize

DECODED_SCHEMA = "term string, doc_id long, tf int, dl int"


def decode_postings(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas: block rows → posting rows (Arrow-batched, numpy decode)."""
    import numpy as np

    for pdf in batches:
        if len(pdf) == 0:
            continue
        terms, ids, tfs, dls = [], [], [], []
        for term, dvb, tvb, lvb, n in zip(
                pdf["term"], pdf["doc_ids_vb"], pdf["tfs_vb"],
                pdf["dls_vb"], pdf["n_postings"]):
            i, t, d = decode_block(bytes(dvb), bytes(tvb), bytes(lvb))
            terms.append(np.repeat(np.array([term], dtype=object), n))
            ids.append(i.astype(np.int64))
            tfs.append(t.astype(np.int64))
            dls.append(d.astype(np.int64))
        yield pd.DataFrame({
            "term": np.concatenate(terms),
            "doc_id": np.concatenate(ids),
            "tf": np.concatenate(tfs),
            "dl": np.concatenate(dls),
        })


def decode_doc_ids(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas: block rows → doc_id rows ONLY — decodes a single
    stream (delta+varbyte doc ids), skipping the tf/dl streams and the
    scoring pipeline entirely. The cheap kernel behind candidate counting
    (``approx_count`` with no score threshold), where the answer is
    "how many docs contain ≥1 query term", not "what do they score"."""
    import numpy as np

    from ..functions.varbyte import decode_varbyte, delta_decode

    for pdf in batches:
        if len(pdf) == 0:
            continue
        ids = [delta_decode(decode_varbyte(bytes(dvb))).astype(np.int64)
               for dvb in pdf["doc_ids_vb"]]
        yield pd.DataFrame({"doc_id": np.concatenate(ids)})


def decode_term_doc_ids(batches: Iterator[pd.DataFrame]
                        ) -> Iterator[pd.DataFrame]:
    """mapInPandas: block rows → (term, doc_id) rows — the doc-id stream
    labeled by term, for conjunction/membership questions (phrase-recheck
    candidate selection) that never look at tf/dl."""
    import numpy as np

    from ..functions.varbyte import decode_varbyte, delta_decode

    for pdf in batches:
        if len(pdf) == 0:
            continue
        terms, ids = [], []
        for term, dvb in zip(pdf["term"], pdf["doc_ids_vb"]):
            i = delta_decode(decode_varbyte(bytes(dvb))).astype(np.int64)
            terms.append(np.repeat(np.array([term], dtype=object),
                                   i.size))
            ids.append(i)
        yield pd.DataFrame({"term": np.concatenate(terms),
                            "doc_id": np.concatenate(ids)})


# one definition, shared with the in-job idf computation
from .wand import bm25_idf  # noqa: E402

# Lucene/ES query_string boost syntax: a whitespace-separated fragment
# ending in ^<number> boosts every term the fragment tokenizes to
import re as _re  # noqa: E402

_BOOST_RE = _re.compile(r"^(.*?)\^(\d+(?:\.\d+)?)$")


def parse_term_boosts(query: str, max_token_len: int = 64,
                      min_token_len: int = 1,
                      analyzer: str = "simple"
                      ) -> tuple[str, dict[str, float]]:
    """Parse ``term^2.5`` boost syntax (Lucene/ES ``query_string``):
    returns (clean query = all tokens space-joined, boosts keyed by the
    POST-analysis term — the same key space as WAND's weight map, so a
    stemmed/analyzed index boosts the right dictionary entry). A
    fragment that tokenizes to several tokens (``data-pipeline^3``)
    boosts each; a repeated boosted term keeps the LAST boost; a bare
    ``^`` with no valid number stays literal text (the tokenizer
    strips it)."""
    terms: list[str] = []
    boosts: dict[str, float] = {}
    for frag in query.split():
        m = _BOOST_RE.match(frag)
        text, boost = (m.group(1), float(m.group(2))) if m \
            else (frag, None)
        toks = tokenize(text, max_token_len, min_token_len, analyzer)
        terms.extend(toks)
        if boost is not None:
            for t in toks:
                boosts[t] = boost
    return " ".join(terms), boosts


@dataclass
class QueryEngine:
    spark: SparkSession
    store: TableStore
    #: None → load the config persisted by the index build (engine_config
    #: table), falling back to defaults; the physical-layout params
    #: (bucket counts) MUST match the build or scans prune wrongly.
    cfg: EngineConfig | None = DEFAULT_CONFIG
    field: str = "text"
    #: when set, every search() appends a query-log record (json lines) that
    #: streaming/analytics.py consumes — the reference's ``search_logs``
    #: table (``data-pipeline/database.py:63-69``) actually written to.
    query_log_dir: str | None = None

    def _log_search(self, query: str, results_count: int,
                    response_time_ms: int) -> None:
        if not self.query_log_dir:
            return
        import datetime
        import json
        import os
        import uuid
        os.makedirs(self.query_log_dir, exist_ok=True)
        rec = {
            "query": query,
            "results_count": int(results_count),
            "response_time_ms": int(response_time_ms),
            "created_at": datetime.datetime.now(datetime.timezone.utc)
            .strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z",
        }
        # one file per record, atomically renamed: file-source streams only
        # pick up complete files
        tmp = os.path.join(self.query_log_dir, f".{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            f.write(json.dumps(rec) + "\n")
        os.replace(tmp, os.path.join(
            self.query_log_dir, f"log-{uuid.uuid4().hex}.json"))

    #: config fields that MUST match the build — BM25 params bake into
    #: block_max_tf_norm (a mismatched k1/b makes WAND prune true winners
    #: silently) and layout params drive partition pruning
    _CRITICAL_CFG = ("k1", "b", "block_size", "n_doc_buckets",
                     "n_term_buckets", "doc_id_bits", "max_token_len",
                     "min_token_len", "prefer_provided_text")

    def __post_init__(self) -> None:
        persisted = self._load_persisted_cfg()
        if self.cfg is None:
            self.cfg = persisted
            return
        if persisted is not DEFAULT_CONFIG:
            bad = [f for f in self._CRITICAL_CFG
                   if getattr(self.cfg, f) != getattr(persisted, f)]
            if bad:
                raise ValueError(
                    f"QueryEngine config mismatches the built index on "
                    f"{bad}; pass cfg=None to bind to the persisted build "
                    f"config, or rebuild the index")

    def _load_persisted_cfg(self) -> EngineConfig:
        import json as _json
        table = f"engine_config{self._sfx()}"
        if self.store.exists(table):
            row = self.store.read(table).collect()[0]
            d = _json.loads(row["config_json"])
            # tolerate configs persisted by newer/older engine versions
            import dataclasses
            known = {f.name for f in dataclasses.fields(EngineConfig)}
            return EngineConfig(**{k: v for k, v in d.items() if k in known})
        return DEFAULT_CONFIG

    def _sfx(self, field: str | None = None) -> str:
        field = self.field if field is None else field
        return "" if field == "text" else f"_{field}"

    # ------------------------------------------------------------------
    def corpus_stats(self, field: str | None = None) -> dict:
        """``n_docs``, ``avg_doc_len`` and ``total_tokens`` (Σ doc
        length, an exact integer) of ``field``'s index (default: this
        engine's field), cached per engine instance and keyed on the
        corpus_stats ``data_uuid`` like :meth:`_df_lookup`: a build,
        merge or delete commits a new one and the next call re-reads.
        One manifest read per call; one tiny job per commit."""
        table = f"corpus_stats{self._sfx(field)}"
        uuid = (self.store.table_meta(table) or {}).get("data_uuid")
        cache = getattr(self, "_corpus_stats_cache", None)
        if cache is None:
            cache = {}
            object.__setattr__(self, "_corpus_stats_cache", cache)
        hit = cache.get(table)
        if hit is not None and hit[0] == uuid:
            return hit[1]
        row = self.store.read(table).collect()[0]
        out = {"n_docs": int(row["n_docs"]),
               "avg_doc_len": float(row["avg_doc_len"] or 0.0),
               "total_tokens": int(row["total_tokens"] or 0)}
        cache[table] = (uuid, out)
        return out

    def _pruned_term_scan(self, table: str, terms: list[str]) -> DataFrame:
        """THE one definition of the query-term scan pruning (code-review
        r2: this predicate used to be built in three places): partition
        pruning via ``term_bucket`` int literals (each term's bucket
        computed in Python, ``textproc.term_bucket`` — no JVM expression,
        no data job), then ``term IN (...)`` pushdown for parquet
        row-group skipping.
        Tables without a ``term_bucket`` column just get the pushdown.
        """
        from ..functions.udfs import term_bucket_lit

        scan = self.store.read(table)
        if "term_bucket" in scan.columns:
            scan = scan.filter(F.col("term_bucket").isin(
                *[term_bucket_lit(t, self.cfg.n_term_buckets)
                  for t in terms]))
        return scan.filter(F.col("term").isin(terms))

    def _df_lookup(self, qterms: list[str]) -> dict[str, int]:
        """term → df for the query terms, cached per engine instance
        (ADVICE r3: the auto-routing df check used to pay one extra
        Spark collect per short query — now only terms not yet seen by
        THIS engine cost a pruned scan; absent terms cache df=0 so they
        never re-query). Keyed on the term_stats ``data_uuid``, so an
        index merge invalidates it automatically, as it does
        :meth:`corpus_stats`."""
        uuid = (self.store.table_meta(f"term_stats{self._sfx()}")
                or {}).get("data_uuid")
        cached = getattr(self, "_term_df_cache", None)
        if cached is not None and cached[0] == uuid:
            cache = cached[1]
        else:
            # keyed on the term_stats data_uuid (ADVICE r4): an index
            # merge rewrites the table and auto-invalidates the cache —
            # one manifest read per call, no Spark job
            cache = {}
            object.__setattr__(self, "_term_df_cache", (uuid, cache))
        missing = [t for t in qterms if t not in cache]
        if missing:
            rows = (self._pruned_term_scan(f"term_stats{self._sfx()}",
                                           missing)
                    .select("term", "df").collect())
            got = {r["term"]: int(r["df"]) for r in rows}
            for t in missing:
                cache[t] = got.get(t, 0)
        return {t: cache[t] for t in qterms}

    def term_lookup(self, qterms: list[str]) -> dict[str, float]:
        """term → idf for the query terms (exhaustive path; the WAND path
        folds the df lookup into its own job instead). At most one job —
        zero for terms already in the per-engine df cache."""
        if not qterms:
            return {}
        n = self.corpus_stats()["n_docs"]
        return {t: bm25_idf(n, df)
                for t, df in self._df_lookup(qterms).items() if df > 0}

    # ------------------------------------------------------------------
    def scores_df(self, query: str,
                  buckets: list[int] | None = None) -> DataFrame:
        """Exhaustive BM25 score per candidate doc — lazy DataFrame.

        Decodes only the query terms' postings; the BM25 expression is pure
        Spark SQL (whole-stage codegen), the per-term weights arrive via a
        broadcast join of a tiny idf literal frame.

        ``buckets``: optional doc-range bucket subset — restricts scoring
        to those buckets' posting slices (the sampled-count path). Scores
        are unchanged for the docs covered (idf/avgdl stay global).
        """
        cfg = self.cfg
        qterms = sorted(set(tokenize(query, cfg.max_token_len,
                                     cfg.min_token_len, cfg.analyzer)))
        idfs = self.term_lookup(qterms)
        stats = self.corpus_stats()
        avgdl = stats["avg_doc_len"]
        if not idfs or avgdl <= 0:
            return self._empty("doc_id long, score double")

        scan = self._pruned_term_scan(f"postings{self._sfx()}",
                                      sorted(idfs))
        if buckets is not None:
            scan = scan.filter(
                F.col("partition_id").isin([int(b) for b in buckets]))
        decoded = (scan
                   .select("term", "doc_ids_vb", "tfs_vb", "dls_vb",
                           "n_postings")
                   .mapInPandas(decode_postings, schema=DECODED_SCHEMA))
        idf_df = self.spark.createDataFrame(
            [(t, w) for t, w in sorted(idfs.items())],
            "term string, idf double")
        k1, b = float(cfg.k1), float(cfg.b)
        scored = (
            decoded.join(F.broadcast(idf_df), "term")
            .withColumn(
                # idf * (tf/(tf+K)) — same parenthesization as the oracle's
                # w * tf_norm, so float results are bit-identical
                "contrib",
                F.col("idf") * (F.col("tf")
                                / (F.col("tf") + F.lit(k1)
                                   * (F.lit(1.0 - b)
                                      + F.lit(b) * F.col("dl")
                                      / F.lit(avgdl)))))
        )
        # Deterministic float accumulation: a plain groupBy().sum() adds
        # partial aggregates in arrival order, which can differ from the
        # oracle by 1 ulp and flip a near-tie rank. Per doc there are at
        # most |query terms| contributions — collect, canonicalize by term,
        # fold in sorted-term order (the oracle's exact order).
        return (scored.groupBy("doc_id")
                .agg(F.array_sort(
                    F.collect_list(F.struct("term", "contrib")))
                    .alias("_cs"))
                .select("doc_id",
                        F.aggregate("_cs", F.lit(0.0),
                                    lambda acc, x: acc + x["contrib"])
                        .alias("score")))

    # ------------------------------------------------------------------
    @staticmethod
    def _host_pred(site: str):
        """Subdomain-inclusive host match (web-search ``site:`` operator
        semantics: ``site:example.com`` matches ``example.com`` AND
        ``www.example.com``): host == site OR host ends with ".site".
        Host comes from the JVM ``parse_url`` — a codegen expression on
        doc_meta's url column, no UDF. At 10^12 docs a served index
        would materialize ``host`` as a doc_meta column (X25 CoW merge)
        — same predicate, then also a parquet-pushable equality."""
        s = site.lower().strip().strip(".")
        host = F.lower(F.parse_url(F.col("url"), F.lit("HOST")))
        return (host == F.lit(s)) | host.endswith(F.lit("." + s))

    def _apply_meta_filters(self, meta: DataFrame, lang, warc_ts_min,
                            warc_ts_max, site=None,
                            neg_site=None) -> DataFrame:
        """Conditional structured filters (the Catalyst-friendly form of
        the reference's ``(? IS NULL OR pred)`` trick,
        ``ProductRepository.java:75-79``) — single definition for every
        path."""
        if lang is not None:
            meta = meta.filter(F.col("lang") == F.lit(lang))
        if warc_ts_min is not None:
            meta = meta.filter(F.col("warc_ts") >= F.lit(warc_ts_min))
        if warc_ts_max is not None:
            meta = meta.filter(F.col("warc_ts") <= F.lit(warc_ts_max))
        if site is not None:
            meta = meta.filter(self._host_pred(site))
        if neg_site is not None:
            meta = meta.filter(~self._host_pred(neg_site))
        return meta

    def wand_top_k_df(self, query: str, k: int | None = None,
                      lang: str | None = None, warc_ts_min=None,
                      warc_ts_max=None,
                      min_score: float = 0.0,
                      min_match: int = 1,
                      site: str | None = None,
                      neg_site: str | None = None) -> DataFrame:
        """Block-max WAND top-k (E10), optionally filtered (E11) — the fast
        query path.

        Pruned postings scan → per-doc-bucket WAND (each bucket a
        doc-id-sorted slice of every query term's postings) → merge of
        ≤ P·k local hits in (score DESC, doc_id ASC) order. Exact — the
        union of per-bucket top-k sets contains the global top-k. The
        query is ranked on the driver (:meth:`_driver_wand`) and no
        Python task runs: a bare query is ONE Spark job (the pruned
        postings collect), a filtered one TWO — the second reads the
        filter survivors of just the buckets that hold the query's
        postings, and WAND skips non-survivors before scoring (still
        exact: filtering only shrinks the candidate set). Both jobs run
        inside THIS call; the returned frame is a ``LocalTableScan``
        whose collect runs none (pinned in ``tests/test_plan_shapes.py``).
        Bare queries never touch doc_meta.

        ``k`` is clamped to ``max_k + max_offset`` (internal pagination
        bound); the public ``search``/``top_k`` enforce the page-size cap.
        """
        # the driver's hits come back already ranked; an orderBy here
        # would plan a range exchange over the LocalTableScan
        return self.spark.createDataFrame(self._query_hits(
            query, k=k, lang=lang, warc_ts_min=warc_ts_min,
            warc_ts_max=warc_ts_max, min_score=min_score,
            min_match=min_match, site=site, neg_site=neg_site)
        ).select("doc_id", "score")

    def maxscore_top_k_df(self, query: str, k: int | None = None,
                          min_score: float = 0.0) -> DataFrame:
        """MaxScore top-k (X108) — same results as :meth:`wand_top_k_df`,
        different DAAT pruning strategy (plans/maxscore.py).

        Ranked on the driver over the same collected blocks as the WAND
        serve path (:meth:`_rank_on_driver`): ONE job, the pruned
        postings collect, and no Python task; the result is a
        ``LocalTableScan`` in (score DESC, doc_id ASC) order. Kept as a
        first-class alternative because the two strategies' pruning
        profiles differ (MaxScore avoids WAND's per-step cursor sort and
        touches long low-idf lists only by random access — the
        long-query / stopword-heavy shape), while the results are
        rank-identical by construction.
        """
        from .maxscore import maxscore_top_k

        cfg = self.cfg
        k = cfg.default_k if k is None \
            else min(k, cfg.max_k + cfg.max_offset)
        qterms = sorted(set(tokenize(query, cfg.max_token_len,
                                     cfg.min_token_len, cfg.analyzer)))
        stats = self.corpus_stats()
        avgdl, n_docs = stats["avg_doc_len"], stats["n_docs"]
        k1, b, min_score = float(cfg.k1), float(cfg.b), float(min_score)

        def bucket_hits(pid, by_term, idf):
            hits, _ = maxscore_top_k(by_term, {t: idf[t] for t in by_term},
                                     k, k1, b, avgdl, min_score=min_score)
            for d, s in hits:
                yield 0, pid, d, s, None

        scan = (self._driver_wand_scan(qterms) if qterms and avgdl > 0
                else None)
        return (self.spark.createDataFrame(
            self._rank_on_driver(scan, n_docs, k, bucket_hits))
            .select("doc_id", "score"))

    #: strategy rule (X113): at or above this many distinct query terms,
    #: MaxScore's fixed cursor order beats WAND's per-step re-sort
    MAXSCORE_MIN_TERMS = 4
    #: …or when any term's df/N exceeds this (stopword-heavy queries):
    #: MaxScore touches that long list only by random-access probes
    MAXSCORE_DF_RATIO = 0.20

    def choose_strategy(self, qterms: list[str]) -> str:
        """Pick the DAAT kernel for a query (X113) — the decision
        Lucene's ``WANDScorer``/``MaxScoreBulkScorer`` selection makes.
        Both kernels are exact from the same blocks, so this is purely a
        cost call: term COUNT is free (the tokenized query), and the
        df check hits the per-engine df cache (``_df_lookup``) — a
        pruned term_stats collect only the FIRST time this engine sees a
        term, so repeat serving stays one job per query (ADVICE r3).
        Returns ``"maxscore"`` or ``"wand"``; deterministic.
        """
        if len(qterms) >= self.MAXSCORE_MIN_TERMS:
            return "maxscore"
        n = self.corpus_stats()["n_docs"]
        if n <= 0:
            return "wand"
        dfs = self._df_lookup(qterms)
        if dfs and max(dfs.values()) / n >= self.MAXSCORE_DF_RATIO:
            return "maxscore"
        return "wand"

    def auto_top_k_df(self, query: str, k: int | None = None,
                      min_score: float = 0.0) -> DataFrame:
        """Strategy-adaptive exact top-k (X113): short selective queries
        run block-max WAND, long or stopword-heavy queries run MaxScore
        (see :meth:`choose_strategy`). The two kernels are rank- and
        score-identical by construction (tests pin it), so the choice
        changes cost, never results. Either kernel ranks on the driver:
        one job (the pruned postings collect; the df check reads the
        per-engine cache), none for an empty query."""
        cfg = self.cfg
        qterms = sorted(set(tokenize(query, cfg.max_token_len,
                                     cfg.min_token_len, cfg.analyzer)))
        if qterms and self.choose_strategy(qterms) == "maxscore":
            return self.maxscore_top_k_df(query, k=k, min_score=min_score)
        return self.wand_top_k_df(query, k=k, min_score=min_score)

    def batch_wand_top_k_df(self, queries: list[str],
                            k: int | None = None,
                            lang: str | None = None, warc_ts_min=None,
                            warc_ts_max=None,
                            min_match: int = 1,
                            site: str | None = None,
                            neg_site: str | None = None) -> DataFrame:
        """Multi-query BM25 top-k: N queries, one set of Spark jobs.

        Returns (query_id, doc_id, score) — query_id is the position in
        ``queries``. The per-query results are rank-identical to
        :meth:`wand_top_k_df`; what changes is the cost model: the
        scheduling floor (~0.5 s/job on the bench box), the pruned
        postings scan, and the bucket shuffle are paid once for the whole
        batch. This is the shape a batch retrieval pipeline uses — score
        a query LOG against the index, not one query at a time.

        Plan: the postings scan is pruned by ``term_bucket`` literals
        (computed in Python) + ``term IN``, idf comes from the per-engine
        df cache (:meth:`_df_lookup`, one pruned term_stats collect for
        terms this engine has not seen) with the oracle's exact Python
        float expression, each task ranks every query over its buckets
        in ONE vectorized BM25 pass
        (:func:`..wand.make_dense_ranker`), and a per-query window top-k
        merges ≤ n_tasks·k local rows per query. With ≥ 2 distinct term
        sets that is three Spark jobs whatever N is: the postings
        shuffle-map, the ranking stage and the per-query window (four at
        the first sight of a term). Duplicate term sets are scored once;
        the kernel emits their rows under every query_id. The ranking
        stage makes one Python call per task and runs
        ``min(defaultParallelism, distinct term sets)`` tasks (pinned in
        ``tests/test_plan_shapes.py``). A batch with one distinct term
        set is ranked on the driver like :meth:`wand_top_k_df` (inside
        this call). The per-engine corpus_stats read is cached per
        snapshot.

        Optional structured filters (``lang``/``warc_ts_*``/``site``) are
        shared by the whole batch. With ≥ 2 distinct term sets the
        doc_meta survivors ``(partition_id, doc_id)`` are unioned with
        the blocks before the same ``repartitionById``, so each task
        gets its buckets' survivors with their blocks and the plan keeps
        its shape and job count (three warm). The survivors of EVERY
        bucket are still read and shuffled — the batch does not prune
        doc_meta to its posting buckets.
        """
        return (self._batch_wand_ranked(queries, k=k, lang=lang,
                                        warc_ts_min=warc_ts_min,
                                        warc_ts_max=warc_ts_max,
                                        min_match=min_match,
                                        site=site, neg_site=neg_site)
                .select("query_id", "doc_id", "score"))

    def _driver_wand_scan(self, terms: list[str],
                          field: str | None = None) -> DataFrame:
        """The pruned postings scan the driver-side paths collect: the
        block columns plus ``n_postings`` (for each term's ``df``)."""
        return self._pruned_term_scan(f"postings{self._sfx(field)}",
                                      terms).select(
            "term", "partition_id", "block_id", "last_doc_id",
            "block_max_tf_norm", "doc_ids_vb", "tfs_vb", "dls_vb",
            "n_postings")

    @staticmethod
    def _collect_blocks(scan: DataFrame) -> "pa.Table":
        """``scan`` (a :meth:`_driver_wand_scan`) collected through
        ``toArrow()`` — ONE Spark job, JVM tasks only — with each term's
        global ``df`` appended: Σ ``n_postings`` over its blocks,
        term_stats' own definition. The scan holds every block of every
        query term, so term_stats is not read."""
        import pyarrow as pa

        blocks = scan.toArrow()
        sums = blocks.group_by("term").aggregate([("n_postings", "sum")])
        df_of = dict(zip(sums.column("term").to_pylist(),
                         sums.column("n_postings_sum").to_pylist()))
        return blocks.append_column("df", pa.array(
            [df_of[t] for t in blocks.column("term").to_pylist()],
            pa.int64()))

    @staticmethod
    def _bucket_meta(meta: DataFrame, blocks: "pa.Table") -> dict:
        """bucket → the doc_id-sorted rows of ``meta`` (a frame keyed by
        doc_meta's (partition_id, doc_id)) for every bucket that holds
        ``blocks``; a bucket without rows gets an empty slice. The read
        carries a literal ``partition_id IN (…)`` of those buckets, as
        :meth:`_hits_meta_df` does: doc_meta is partitioned by bucket, so
        one JVM-only job reads just them."""
        buckets = sorted(set(blocks.column("partition_id").to_pylist()))
        if not buckets:
            return {}
        t = (meta.filter(F.col("partition_id").isin(buckets)).toArrow()
             .sort_by([("partition_id", "ascending"),
                       ("doc_id", "ascending")]))
        from .wand import key_runs

        pids = t.column("partition_id").to_pylist()
        out = {p: t.slice(0, 0) for p in buckets}
        for lo, hi in key_runs(pids):
            out[pids[lo]] = t.slice(lo, hi - lo)
        return out

    def _rank_on_driver(self, scan: DataFrame | None, n_docs, k: int,
                        bucket_hits, meta: DataFrame | None = None,
                        hook=None, collapse: bool = False) -> "pa.Table":
        """The one single-query plan: collect ``scan``
        (:meth:`_collect_blocks`) and rank its doc buckets in this — the
        driver's — Python process (:meth:`_bucket_rows` with ``meta`` and
        ``hook``). Returns the ≤ k best ``(query_id, partition_id,
        doc_id, score)`` rows in (score DESC, doc_id ASC) order as an
        Arrow table, with a ``ckey`` column under ``collapse``, whose
        rows merge as a per-key window would: each key's best doc, then
        the top k keys. ``scan`` None or ``k`` ≤ 0: an empty table, no
        job.

        Why no Python worker: every Python task here pays ~250 ms before
        the user function runs (``setup_spark_files`` calls
        ``importlib.invalidate_caches()`` per task, and on Python 3.11
        each cached zipimporter then re-reads ``pyspark.zip``'s
        directory), while one query's kernel work is ~15 ms. A caller
        that needs a frame builds it with
        ``createDataFrame(<pyarrow.Table>)``: a ``LocalTableScan`` whose
        collect runs no job (a list-built frame plans a Python-RDD scan,
        i.e. again a Python task).
        """
        import heapq

        import pyarrow as pa

        from .wand import hits_batch

        rows: list[tuple] = []
        if scan is not None and k > 0:
            rows = self._bucket_rows(self._collect_blocks(scan), n_docs,
                                     bucket_hits, meta, hook)
        if collapse:  # (qid, pid, doc, score, key): best doc per key
            best: dict = {}
            for r in rows:
                b = best.get(r[4])
                if b is None or (r[3], -r[2]) > (b[3], -b[2]):
                    best[r[4]] = r
            rows = list(best.values())
        rows = heapq.nsmallest(k, rows, key=lambda r: (-r[3], r[2]))
        return pa.Table.from_batches([hits_batch(rows, collapse)])

    @staticmethod
    def _allowed_hook(survivors: "pa.Table") -> dict | None:
        """A bucket's filter survivors → WAND's ``allowed``; none: the
        bucket has no hits."""
        return ({"allowed": survivors.column("doc_id").to_numpy()}
                if survivors.num_rows else None)

    @classmethod
    def _bucket_rows(cls, blocks: "pa.Table", n_docs, bucket_hits,
                     meta: DataFrame | None = None, hook=None) -> list:
        """The rows ``bucket_hits(pid, by_term, idf, **kw)`` yields for
        each doc bucket of the collected ``blocks``
        (:func:`..wand.bucket_blocks`), ``kw = hook(meta slice)`` with
        ``meta``'s rows of the same buckets (:meth:`_bucket_meta`, one
        JVM-only job); a None ``kw`` skips the bucket."""
        from .wand import bucket_blocks

        slices = {} if meta is None else cls._bucket_meta(meta, blocks)
        rows: list[tuple] = []
        for pid, by_term, idf in bucket_blocks(blocks, n_docs):
            kw = {} if meta is None else hook(slices[pid])
            if kw is not None:
                rows.extend(bucket_hits(pid, by_term, idf, **kw))
        return rows

    def _empty(self, ddl: str) -> DataFrame:
        """An empty frame of the DDL schema ``ddl``, built from an Arrow
        table: a ``LocalTableScan`` whose collect runs no job (a
        list-built empty frame plans a Python-RDD scan, whose collect
        runs a Python task)."""
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import _parse_datatype_string

        return self.spark.createDataFrame(
            to_arrow_schema(_parse_datatype_string(ddl)).empty_table())

    def _no_hits(self) -> DataFrame:
        """The empty (query_id, partition_id, doc_id, score) frame."""
        from .wand import BATCH_WAND_OUT_SCHEMA

        return self._empty(BATCH_WAND_OUT_SCHEMA)

    def _driver_wand(self, terms: list[str], k: int,
                     min_score: float = 0.0,
                     after: tuple[float, int] | None = None,
                     term_boosts: dict[str, float] | None = None,
                     min_match: int = 1, *,
                     meta: DataFrame | None = None,
                     w_static: float | None = None,
                     collapse: bool = False) -> "pa.Table":
        """One term set's WAND top-k, ranked on the driver
        (:meth:`_rank_on_driver`): the float order of the batch path's
        dense kernel (sorted-term sums), so results are bit-identical. ONE
        JVM-only job without ``meta``; TWO with it, the second reading
        ``meta``'s rows of the buckets that hold the query's postings,
        which feed one doc_meta hook of :func:`..wand.wand_top_k` per
        bucket, built from the bucket's doc_id-sorted slice:

        * ``allowed`` — ``meta`` is the filter survivors'
          (partition_id, doc_id); an empty slice: no hits;
        * ``prior`` when ``w_static`` is set — ``meta`` adds ``static``
          (null ⇒ 0); an empty slice: every prior 0;
        * ``collapse`` — ``meta`` adds ``ckey``; an empty slice: no rows.
        """
        import pyarrow.compute as pc

        from .wand import _wand_bucket_kernel

        cfg = self.cfg
        stats = self.corpus_stats()
        avgdl, n_docs = stats["avg_doc_len"], stats["n_docs"]

        def ids(s):
            return s.column("doc_id").to_numpy()

        if w_static is not None:
            def hook(s):
                return {"prior": (ids(s), pc.fill_null(
                    s.column("static"), 0.0).to_numpy(), w_static)}
        elif collapse:
            def hook(s):
                return ({"collapse": (ids(s), s.column("ckey").to_pylist())}
                        if s.num_rows else None)
        else:
            hook = self._allowed_hook

        bucket_hits = _wand_bucket_kernel(
            list(terms), k, float(cfg.k1), float(cfg.b), avgdl,
            float(min_score), after, term_boosts, int(min_match))
        scan = self._driver_wand_scan(terms) if terms and avgdl > 0 else None
        return self._rank_on_driver(scan, n_docs, k, bucket_hits, meta, hook,
                                    collapse)

    def _filter_survivors(self, lang=None, warc_ts_min=None,
                          warc_ts_max=None, site=None,
                          neg_site=None) -> DataFrame | None:
        """doc_meta's ``(partition_id, doc_id)`` rows that pass the
        structured filters, or None when no filter is set."""
        if all(v is None for v in (lang, warc_ts_min, warc_ts_max, site,
                                   neg_site)):
            return None
        return self._apply_meta_filters(
            self.store.read(f"doc_meta{self._sfx()}"), lang, warc_ts_min,
            warc_ts_max, site=site, neg_site=neg_site).select(
            "partition_id", "doc_id")

    def _query_hits(self, query: str, k: int | None = None,
                    lang: str | None = None, warc_ts_min=None,
                    warc_ts_max=None, site: str | None = None,
                    neg_site: str | None = None, **kernel_kw) -> "pa.Table":
        """One query's ``(query_id, partition_id, doc_id, score)`` hits
        (query_id 0) ranked on the driver by block-max WAND
        (:meth:`_driver_wand`: one job, two with a structured filter, none
        for an empty result), as the Arrow table itself — ``search`` and
        ``search_after`` hydrate it with no DataFrame round trip.
        ``kernel_kw``: ``min_score``, ``after``, ``term_boosts``,
        ``min_match``."""
        cfg = self.cfg
        k = cfg.default_k if k is None \
            else min(k, cfg.max_k + cfg.max_offset)
        terms = sorted(set(tokenize(query, cfg.max_token_len,
                                    cfg.min_token_len, cfg.analyzer)))
        meta = (self._filter_survivors(lang, warc_ts_min, warc_ts_max,
                                       site, neg_site) if terms else None)
        return self._driver_wand(terms, k, meta=meta, **kernel_kw)

    def _batch_wand_ranked(self, queries: list[str],
                           k: int | None = None,
                           lang: str | None = None, warc_ts_min=None,
                           warc_ts_max=None,
                           min_score: float = 0.0,
                           after: tuple[float, int] | None = None,
                           term_boosts: dict[str, float] | None = None,
                           min_match: int = 1,
                           site: str | None = None,
                           neg_site: str | None = None) -> DataFrame:
        """Batch core: (query_id, partition_id, doc_id, score).

        ``after`` is the keyset-pagination cursor (see
        :func:`..wand.wand_top_k`); it applies to every query in the
        batch, so only the single-query serve path exposes it publicly
        (:meth:`search_after`). ``min_score`` is an inclusive score
        threshold (on the driver it seeds WAND's theta, so it
        STRENGTHENS pruning instead of forcing the exhaustive scorer).

        ``partition_id`` (the hit's doc-range bucket) stays in the output
        so result hydration can prune the doc_meta scan to the buckets
        that actually contain hits (VERDICT r2 #2 — at 10^12 docs the
        decorate-100-rows join must not scan the whole metadata table).

        One term set is ranked on the driver (:meth:`_query_hits`) and
        comes back as a ``LocalTableScan`` whose collect runs no job (a
        query_id sharing the term set gets a copy of its rows); so does
        an empty result.

        N>1 distinct term sets are ranked in Python tasks by the dense
        batch kernel (:func:`..wand.make_dense_ranker`: decode every
        shipped block once, score each posting once, sum each query's
        terms per doc in sorted-term order, top-k per task) and merge
        through a per-query ``row_number`` window: three jobs — the
        postings shuffle-map, the ranking stage and the window — plus a
        pruned term_stats collect for terms the engine has not seen
        (pinned in ``tests/test_plan_shapes.py``). The ranking stage is
        a fixed-count ``repartitionById(n, "partition_id").mapInArrow``:
        each task receives whole buckets and makes one Python call over
        all of them. Structured filters union the doc_meta survivors
        into the same exchange (:meth:`_filter_survivors`); the runner
        splits them off as the kernel's ``allowed``
        (:func:`..wand.make_batch_arrow_fn`).
        """
        import pyarrow as pa

        from .wand import (
            BATCH_WAND_OUT_SCHEMA,
            make_batch_arrow_fn,
            make_dense_ranker,
        )

        cfg = self.cfg
        k = cfg.default_k if k is None \
            else min(k, cfg.max_k + cfg.max_offset)
        per_q = [sorted(set(tokenize(q, cfg.max_token_len,
                                     cfg.min_token_len, cfg.analyzer)))
                 for q in queries]
        stats = self.corpus_stats()
        avgdl, n_docs = stats["avg_doc_len"], stats["n_docs"]
        # one pass per UNIQUE term set: duplicate query strings (and
        # distinct strings that tokenize identically) are scored once
        # and their rows emitted under every query_id
        ids_of: dict[tuple, list[int]] = {}
        for qi, ts in enumerate(per_q):
            if ts:
                ids_of.setdefault(tuple(ts), []).append(qi)
        if not ids_of or k <= 0 or avgdl <= 0:
            return self._no_hits()
        filters = dict(lang=lang, warc_ts_min=warc_ts_min,
                       warc_ts_max=warc_ts_max, site=site,
                       neg_site=neg_site)
        kernel_kw = dict(min_score=float(min_score), after=after,
                         term_boosts=term_boosts, min_match=int(min_match))
        if len(ids_of) == 1:
            (_, qids), = ids_of.items()
            ranked = self._query_hits(queries[qids[0]], k, **filters,
                                      **kernel_kw)
            return self.spark.createDataFrame(pa.concat_tables([
                ranked.set_column(0, "query_id", pa.array(
                    [qi] * ranked.num_rows, pa.int32()))
                for qi in qids]))

        all_terms = sorted(set().union(*ids_of))
        # global df from the per-engine cache (one pruned term_stats
        # collect for terms this engine has not seen yet); idf with the
        # oracle's exact Python float expression
        idf = {t: bm25_idf(n_docs, df)
               for t, df in self._df_lookup(all_terms).items() if df > 0}
        blocks = self._pruned_term_scan(f"postings{self._sfx()}",
                                        all_terms).select(
            "term", "partition_id", "doc_ids_vb", "tfs_vb", "dls_vb")
        allowed = self._filter_survivors(**filters)
        if allowed is not None:
            # survivor rows carry a doc_id and no block columns; the
            # exchange below routes them with their buckets' blocks
            blocks = blocks.unionByName(allowed, allowMissingColumns=True)
        rank = make_dense_ranker(
            {tuple(qids): list(ts) for ts, qids in ids_of.items()}, k,
            float(cfg.k1), float(cfg.b), avgdl, idf, **kernel_kw)
        # One Python call per task, and a FIXED task count: AQE sizes
        # shuffle partitions by bytes, and this stage moves a few KB of
        # compressed blocks but is CPU-heavy in Python, so a byte-sized
        # exchange collapses onto one task. A fixed-count repartition is
        # never coalesced. ≥ 2 term sets here (one is ranked on the
        # driver), and each task pays ~250 ms of Python worker set-up,
        # so there are never more tasks than term sets. Buckets go to
        # task partition_id % n, so tasks get equal bucket counts
        # (hashing puts 5/10/7/10 of 32 on 4 tasks).
        n_tasks = min(self.spark.sparkContext.defaultParallelism,
                      len(ids_of))
        local = (blocks.repartitionById(n_tasks, "partition_id")
                 .mapInArrow(make_batch_arrow_fn(rank),
                             BATCH_WAND_OUT_SCHEMA))
        from pyspark.sql.window import Window
        w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                                   F.asc("doc_id"))
        return (local.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= k)
                .select("query_id", "partition_id", "doc_id", "score"))

    # ------------------------------------------------- phrase / proximity
    _PHRASE_EMPTY = ("partition_id int, doc_id long, score double, "
                     "n_matches int")

    def phrase_top_k_df(self, phrase: str, k: int | None = None,
                        mode: str = "auto",
                        max_span: int | None = None,
                        ordered: bool = False) -> DataFrame:
        """Phrase (terms consecutive, in order) or proximity
        (``max_span``: all distinct terms within an N-token window) top-k
        ranked by BM25 of the constituent terms — Postgres
        ``phraseto_tsquery`` / ``<->`` / ``<N>`` semantics
        (the positional layer over the reference's GIN index,
        ``data-pipeline/database.py:60``). ``ordered=True`` (requires
        ``max_span``) tightens proximity to span-near: the terms must
        appear in query order within the window — Lucene
        ``SpanNearQuery(inOrder=true)``, the in-between point on the
        phrase↔proximity strictness axis (repeated query terms must
        match distinct ascending positions).

        ``mode``: "positions" (positional index — one job: pruned
        positions scan → per-bucket verify+score → ≤ P·k merge),
        "recheck" (no positional index needed: postings conjunction →
        re-tokenize candidate docs — the GIN bitmap-scan + heap-recheck
        execution), or "auto" (positions when the table exists). The two
        modes are result-identical (pinned by test).

        Returns (partition_id, doc_id, score, n_matches) in
        (score DESC, doc_id ASC) order; for proximity, n_matches is the
        minimal window span instead of the phrase-occurrence count.
        """
        cfg = self.cfg
        if ordered and max_span is None:
            raise ValueError("ordered=True requires max_span (an exact "
                             "in-order adjacency query is a phrase — "
                             "call with max_span=None, ordered=False)")
        k = cfg.default_k if k is None else min(k, cfg.max_k)
        pterms = tokenize(phrase, cfg.max_token_len, cfg.min_token_len,
                          cfg.analyzer)
        if not pterms or k <= 0:
            return self._empty(self._PHRASE_EMPTY)
        if mode == "auto":
            mode = ("positions"
                    if self.store.exists(f"positions{self._sfx()}")
                    else "recheck")
        if mode == "recheck":
            return self._phrase_recheck_df(pterms, k, max_span=max_span,
                                           ordered=ordered)

        from .phrase import PHRASE_OUT_SCHEMA, make_positional_bucket_fn

        uniq = sorted(set(pterms))
        stats = self.corpus_stats()
        avgdl, n_docs = stats["avg_doc_len"], stats["n_docs"]
        if avgdl <= 0:
            return self._empty(self._PHRASE_EMPTY)
        blocks = self._pruned_term_scan(f"positions{self._sfx()}",
                                        uniq).select(
            "term", "partition_id", "block_id", "doc_ids_vb", "dls_vb",
            "npos_vb", "pos_vb")
        df_side = self._pruned_term_scan(f"term_stats{self._sfx()}",
                                         uniq).select("term", "df")
        blocks = blocks.join(F.broadcast(df_side), "term")
        fn = make_positional_bucket_fn(pterms, k, float(cfg.k1),
                                       float(cfg.b), avgdl, n_docs,
                                       max_span=max_span, ordered=ordered)
        local = blocks.groupBy("partition_id").applyInPandas(
            fn, schema=PHRASE_OUT_SCHEMA)
        return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def _phrase_recheck_df(self, pterms: list[str], k: int,
                           max_span: int | None = None,
                           ordered: bool = False) -> DataFrame:
        """GIN-style recheck: conjunction candidates from the plain
        postings, then verify positions by re-tokenizing each candidate's
        stored text (Arrow-batched) and score from its tf_map — no
        positional index required. Candidate volume is bounded by the
        rarest term's df; the doc_features join is the heap-recheck
        read."""
        from pyspark.sql.functions import pandas_udf

        from ..textproc import (
            min_ordered_window_span,
            min_window_span,
            phrase_match_count,
            token_positions,
        )

        cfg = self.cfg
        uniq = sorted(set(pterms))
        idfs = self.term_lookup(uniq)
        stats = self.corpus_stats()
        avgdl = stats["avg_doc_len"]
        if len(idfs) < len(uniq) or avgdl <= 0:
            # some phrase term absent from the corpus → no match anywhere
            return self._empty(self._PHRASE_EMPTY)
        # conjunction over (term, doc_id) only — the light decode (no
        # tf/dl streams; the survivors re-tokenize anyway)
        scan = self._pruned_term_scan(f"postings{self._sfx()}",
                                      uniq).select("term", "doc_ids_vb")
        decoded = scan.mapInPandas(decode_term_doc_ids,
                                   schema="term string, doc_id long")
        cands = (decoded.groupBy("doc_id")
                 .agg(F.countDistinct("term").alias("_nt"))
                 .filter(F.col("_nt") == len(uniq)).select("doc_id"))
        field_col = self.field  # doc_features text column IS the field name
        feats = self.store.read(f"doc_features{self._sfx()}").select(
            "doc_id", "partition_id", "doc_len", "tf_map",
            F.col(field_col).alias("_text"))
        cand_docs = feats.join(cands, "doc_id")

        mtl, mnl = cfg.max_token_len, cfg.min_token_len
        anlz = cfg.analyzer
        terms, span, in_order = list(pterms), max_span, ordered

        @pandas_udf("int")
        def verify(text: pd.Series) -> pd.Series:
            out = []
            for t in text:
                pos = token_positions(t, mtl, mnl, anlz)
                if span is None:
                    out.append(phrase_match_count(pos, terms))
                else:
                    w = (min_ordered_window_span(pos, terms) if in_order
                         else min_window_span(pos, terms))
                    out.append(w if w is not None and w <= span else 0)
            return pd.Series(out, dtype="int64")

        verified = (cand_docs
                    .withColumn("n_matches", verify("_text").cast("int"))
                    .filter(F.col("n_matches") > 0))
        # BM25 from tf_map, accumulated left-to-right in sorted-term
        # order — the oracle's float order
        k1, b = float(cfg.k1), float(cfg.b)
        score = F.lit(0.0)
        for t in uniq:
            tf = F.col("tf_map")[t].cast("double")
            score = score + F.lit(idfs[t]) * (
                tf / (tf + F.lit(k1) * (F.lit(1.0 - b)
                                        + F.lit(b) * F.col("doc_len")
                                        / F.lit(avgdl))))
        return (verified.withColumn("score", score)
                .select("partition_id", "doc_id", "score", "n_matches")
                .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))

    def phrase_top_k(self, phrase: str, k: int = 10, mode: str = "auto"
                     ) -> list[tuple[int, float, int]]:
        """Materialized [(doc_id, score, n_matches)] phrase top-k."""
        rows = self.phrase_top_k_df(phrase, k=k, mode=mode).collect()
        return [(int(r["doc_id"]), float(r["score"]), int(r["n_matches"]))
                for r in rows]

    def near_top_k(self, query: str, max_span: int, k: int = 10,
                   mode: str = "auto") -> list[tuple[int, float, int]]:
        """Materialized [(doc_id, score, min_window_span)] proximity
        top-k: all distinct query terms within ``max_span`` tokens."""
        rows = self.phrase_top_k_df(query, k=k, mode=mode,
                                    max_span=max_span).collect()
        return [(int(r["doc_id"]), float(r["score"]), int(r["n_matches"]))
                for r in rows]

    def span_near_top_k(self, query: str, max_span: int, k: int = 10,
                        mode: str = "auto"
                        ) -> list[tuple[int, float, int]]:
        """Materialized [(doc_id, score, min_ordered_span)] span-near
        top-k: the query terms in query order within ``max_span`` tokens
        — Lucene ``SpanNearQuery(inOrder=true)``."""
        rows = self.phrase_top_k_df(query, k=k, mode=mode,
                                    max_span=max_span,
                                    ordered=True).collect()
        return [(int(r["doc_id"]), float(r["score"]), int(r["n_matches"]))
                for r in rows]

    # ----------------------------------------------------- boolean search
    def _expand_prefixes(self, prefixes: list[str],
                         max_expansions: int = 256
                         ) -> dict[str, list[str]]:
        """Prefix stem → matching dictionary terms, via ONE term_stats
        scan (``StartsWith`` pushes to parquet as a min/max range on the
        sorted term column). A stem matching more than ``max_expansions``
        terms raises — the deterministic refusal, where Postgres would
        silently degrade into an enormous OR."""
        if not prefixes:
            return {}
        scan = self.store.read(f"term_stats{self._sfx()}").select("term")
        pred = F.col("term").startswith(prefixes[0])
        for p in prefixes[1:]:
            pred = pred | F.col("term").startswith(p)
        # Bound the driver collect BEFORE paying it: at most
        # max_expansions matches per prefix can be legal, so if the
        # combined scan exceeds cap = max_expansions * |prefixes|, some
        # prefix must exceed max_expansions (pigeonhole) — refuse after a
        # cheap aggregation names it, without ever collecting the
        # expansion ('a*' over a web-scale dictionary must not OOM the
        # driver on its way to the refusal).
        cap = max_expansions * len(prefixes)
        rows = scan.filter(pred).limit(cap + 1).collect()
        if len(rows) > cap:
            cnts = scan.filter(pred).agg(*[
                F.sum(F.col("term").startswith(p).cast("long")).alias(p)
                for p in prefixes]).collect()[0]
            worst = max(prefixes, key=lambda p: int(cnts[p] or 0))
            raise ValueError(
                f"prefix '{worst}*' matches {int(cnts[worst])} dictionary "
                f"terms (max_expansions={max_expansions}); lengthen the "
                "prefix")
        terms = [r["term"] for r in rows]
        out: dict[str, list[str]] = {p: [] for p in prefixes}
        for t in terms:
            for p in prefixes:
                if t.startswith(p):
                    out[p].append(t)
        for p, ts in out.items():
            if len(ts) > max_expansions:
                raise ValueError(
                    f"prefix '{p}*' matches {len(ts)} dictionary terms "
                    f"(max_expansions={max_expansions}); lengthen the "
                    "prefix")
            ts.sort()
        return out

    def _term_rev_current(self) -> bool:
        """May the reversed-term dictionary (``build_suffix``) be trusted
        for THIS index snapshot? Mirrors ``_champions_current``: its
        committed fingerprint must chain on the CURRENT term_stats
        data_uuid under this config. A stale reverse dictionary would
        silently MISS terms added since it was built, so staleness falls
        back to the full-dictionary scan (still correct, just the
        no-side-table price)."""
        from ..lineage import stage_fingerprint

        sfx = self._sfx()
        meta = self.store.table_meta(f"term_rev{sfx}") or {}
        if not meta:
            return False
        expected = stage_fingerprint(
            f"term_rev{sfx}", self.cfg.fingerprint() + f"/{self.field}",
            [(self.store.table_meta(f"term_stats{sfx}") or {})
             .get("data_uuid", "")])
        return meta.get("fingerprint", "") == expected

    def _expand_suffixes(self, suffixes: list[str],
                         max_expansions: int = 256
                         ) -> dict[str, list[str]]:
        """Suffix stem → matching dictionary terms. Fast path: the
        ``term_rev`` side table (``IndexBuilder.build_suffix``) turns the
        leading wildcard into ``StartsWith(reverse(term))`` on a column
        SORTED by reversed term, which pushes to parquet as a min/max
        row-group range — Lucene's ReverseStringFilter trick. Fallback
        (table missing or stale): ONE full term_stats scan with
        ``endswith`` — correct, O(|dictionary|), the price Lucene pays
        for a leading wildcard without the reverse filter. Both paths
        share X34's pigeonhole-capped refusal: the driver collect is
        bounded BEFORE it is paid."""
        if not suffixes:
            return {}
        sfx = self._sfx()
        if self._term_rev_current():
            scan = self.store.read(f"term_rev{sfx}").select(
                "term", "term_rev")
            revs = {s: s[::-1] for s in suffixes}
            pred = F.col("term_rev").startswith(revs[suffixes[0]])
            for s in suffixes[1:]:
                pred = pred | F.col("term_rev").startswith(revs[s])
            probe = [(s, F.col("term_rev").startswith(revs[s]))
                     for s in suffixes]
        else:
            scan = self.store.read(f"term_stats{sfx}").select("term")
            pred = F.col("term").endswith(suffixes[0])
            for s in suffixes[1:]:
                pred = pred | F.col("term").endswith(s)
            probe = [(s, F.col("term").endswith(s)) for s in suffixes]
        cap = max_expansions * len(suffixes)
        rows = scan.filter(pred).limit(cap + 1).collect()
        if len(rows) > cap:
            cnts = scan.filter(pred).agg(*[
                F.sum(p.cast("long")).alias(s) for s, p in probe
            ]).collect()[0]
            worst = max(suffixes, key=lambda s: int(cnts[s] or 0))
            raise ValueError(
                f"suffix '*{worst}' matches {int(cnts[worst])} dictionary "
                f"terms (max_expansions={max_expansions}); lengthen the "
                "suffix")
        terms = [r["term"] for r in rows]
        out: dict[str, list[str]] = {s: [] for s in suffixes}
        for t in terms:
            for s in suffixes:
                if t.endswith(s):
                    out[s].append(t)
        for s, ts in out.items():
            if len(ts) > max_expansions:
                raise ValueError(
                    f"suffix '*{s}' matches {len(ts)} dictionary terms "
                    f"(max_expansions={max_expansions}); lengthen the "
                    "suffix")
            ts.sort()
        return out

    def _trigram_current(self) -> bool:
        """May the trigram term dictionary (``build_trigram``) be
        trusted for THIS index snapshot? Same fingerprint-chain check as
        ``_term_rev_current``: stale -> full-dictionary fallback."""
        from ..lineage import stage_fingerprint

        sfx = self._sfx()
        meta = self.store.table_meta(f"term_trigram{sfx}") or {}
        if not meta:
            return False
        expected = stage_fingerprint(
            f"term_trigram{sfx}", self.cfg.fingerprint() + f"/{self.field}",
            [(self.store.table_meta(f"term_stats{sfx}") or {})
             .get("data_uuid", "")])
        return meta.get("fingerprint", "") == expected

    @staticmethod
    def _trigrams(stem: str) -> list[str]:
        return sorted({stem[i:i + 3] for i in range(len(stem) - 2)})

    def _expand_contains(self, stems: list[str],
                         max_expansions: int = 256
                         ) -> dict[str, list[str]]:
        """Infix stem -> matching dictionary terms. Fast path: the
        ``term_trigram`` side table (``IndexBuilder.build_trigram`` —
        the pg_trgm plan for ``LIKE '%word%'``): scan ONLY the stems'
        own trigram rows (``tri_bucket`` partition pruning + ``trigram
        IN`` parquet pushdown), keep terms carrying ALL trigrams of a
        stem (one conditional-count agg over the pruned rows), verify
        ``contains`` driver-side (trigram containment ignores order —
        necessary, not sufficient). Fallback (table missing or stale):
        ONE full term_stats scan with ``contains`` — the seq scan
        Postgres runs without the pg_trgm index. Both paths share the
        pigeonhole-capped refusal before any unbounded collect."""
        if not stems:
            return {}
        sfx = self._sfx()
        cap = max_expansions * len(stems)
        if self._trigram_current():
            tris = {s: self._trigrams(s) for s in stems}
            all_tris = sorted({t for ts in tris.values() for t in ts})
            buckets = sorted({ord(t[0]) % self.cfg.n_term_buckets
                              for t in all_tris})
            scan = (self.store.read(f"term_trigram{sfx}")
                    .filter(F.col("tri_bucket").isin(buckets))
                    .filter(F.col("trigram").isin(all_tris)))
            agg = scan.groupBy("term").agg(*[
                F.sum(F.col("trigram").isin(tris[s]).cast("int"))
                .alias(f"c{i}") for i, s in enumerate(stems)])
            pred = None
            for i, s in enumerate(stems):
                p = F.col(f"c{i}") == len(tris[s])
                pred = p if pred is None else (pred | p)
            rows = agg.filter(pred).select("term").limit(cap + 1).collect()
        else:
            scan = self.store.read(f"term_stats{sfx}").select("term")
            pred = F.col("term").contains(stems[0])
            for s in stems[1:]:
                pred = pred | F.col("term").contains(s)
            rows = scan.filter(pred).limit(cap + 1).collect()
        if len(rows) > cap:
            raise ValueError(
                f"infix wildcards {stems} match more than {cap} dictionary "
                f"terms (max_expansions={max_expansions}); lengthen the "
                "stem")
        out: dict[str, list[str]] = {s: [] for s in stems}
        for r in rows:
            t = r["term"]
            for s in stems:
                if s in t:  # the contains verify (exact on both paths)
                    out[s].append(t)
        for s, ts in out.items():
            if len(ts) > max_expansions:
                raise ValueError(
                    f"infix wildcard '*{s}*' matches {len(ts)} dictionary "
                    f"terms (max_expansions={max_expansions}); lengthen "
                    "the stem")
            ts.sort()
        return out

    _REX_META = set("\\.^$*+?()[]{}|")

    @classmethod
    def _regex_literal_prefix(cls, pat: str) -> str:
        """Longest literal prefix of a regex — the pushdown handle
        (Lucene's RegexpQuery extracts the same thing to seed its term
        automaton; Postgres plans ``~ '^abc'`` as an index range scan).
        A trailing char owned by a quantifier is excluded (``ab*`` has
        prefix ``a``)."""
        out = []
        for i, ch in enumerate(pat):
            if ch in cls._REX_META:
                if ch in "*+?{" and out:
                    out.pop()  # the previous char is quantified
                break
            out.append(ch)
        return "".join(out)

    def _expand_regex(self, patterns: list[str],
                      max_expansions: int = 256
                      ) -> dict[str, list[str]]:
        """Regex term -> matching dictionary terms (Lucene RegexpQuery
        semantics: the pattern must match the ENTIRE term). ONE
        dictionary scan evaluates every pattern as a JVM ``rlike``
        column (dialect = java.util.regex, the engine's documented
        choice, as Postgres ``~`` is POSIX and Lucene is its own);
        membership per pattern comes from the SAME JVM evaluation — no
        cross-dialect reassignment. Patterns with a literal prefix add
        ``StartsWith`` to the scan filter, which pushes to parquet as a
        min/max row-group range on the term-sorted dictionary (the X34
        prefix plan); a prefix-less pattern is the full-dictionary scan
        Lucene pays for ``.*foo.*`` regexps. Pigeonhole-capped refusal
        BEFORE any unbounded collect, like every wildcard kind."""
        if not patterns:
            return {}
        sfx = self._sfx()
        cap = max_expansions * len(patterns)
        scan = self.store.read(f"term_stats{sfx}").select("term")
        cols, pred = [], None
        for i, pat in enumerate(patterns):
            m = F.col("term").rlike(f"^(?:{pat})$")
            prefix = self._regex_literal_prefix(pat)
            if prefix:
                m = F.col("term").startswith(prefix) & m
            cols.append(m.alias(f"m{i}"))
            pred = m if pred is None else (pred | m)
        rows = (scan.select("term", *cols).filter(pred)
                .limit(cap + 1).collect())
        if len(rows) > cap:
            raise ValueError(
                f"regex terms {patterns} match more than {cap} dictionary "
                f"terms (max_expansions={max_expansions}); tighten the "
                "pattern")
        out: dict[str, list[str]] = {p: [] for p in patterns}
        for r in rows:
            for i, pat in enumerate(patterns):
                if r[f"m{i}"]:
                    out[pat].append(r["term"])
        for p, ts in out.items():
            if len(ts) > max_expansions:
                raise ValueError(
                    f"regex term /{p}/ matches {len(ts)} dictionary "
                    f"terms (max_expansions={max_expansions}); tighten "
                    "the pattern")
            ts.sort()
        return out

    _BOOL_EMPTY = "partition_id int, doc_id long, score double"

    def _boolean_survivors(self, query: str, k: int | None,
                           synonyms: dict[str, tuple[str, ...]] | None = None
                           ) -> DataFrame:
        """Shared boolean core → (partition_id, doc_id, score), phrase
        obligations fully resolved, NOT yet globally ranked/truncated
        (per-bucket unconditional survivors are capped at k when given).

        One kernel job over the term-pruned postings scan (term-bucket
        literal pruning, ``term IN`` pushdown, global df via broadcast
        join), plus — only when the
        query carries phrases — a bounded recheck join that re-tokenizes
        the conjunction-selective pending docs (GIN bitmap + heap
        recheck, the X30 shape).
        """
        from .boolean import (
            BOOLEAN_OUT_SCHEMA,
            make_boolean_bucket_fn,
            parse_websearch,
            positive_terms,
            scan_terms,
        )

        cfg = self.cfg
        clauses = parse_websearch(query, cfg.max_token_len,
                                  cfg.min_token_len, cfg.analyzer)
        if synonyms:
            from ..operators.synonyms import rewrite_clauses
            clauses = rewrite_clauses(clauses, synonyms)
        if not clauses:
            return self._empty(self._BOOL_EMPTY)
        prefixes = sorted({p for c in clauses
                           for p in c.req_prefixes + c.neg_prefixes})
        expansions = self._expand_prefixes(prefixes)
        suffixes = sorted({s for c in clauses
                           for s in c.req_suffixes + c.neg_suffixes})
        sfx_exp = self._expand_suffixes(suffixes)
        contains = sorted({s for c in clauses
                           for s in c.req_contains + c.neg_contains})
        ctn_exp = self._expand_contains(contains)
        regexes = sorted({p for c in clauses
                          for p in c.req_regex + c.neg_regex})
        rex_exp = self._expand_regex(regexes)
        pos = positive_terms(clauses, expansions, sfx_exp, ctn_exp,
                             rex_exp)
        needed = scan_terms(clauses, expansions, sfx_exp, ctn_exp,
                            rex_exp)
        stats = self.corpus_stats()
        avgdl, n_docs = stats["avg_doc_len"], stats["n_docs"]
        if not pos or avgdl <= 0:
            return self._empty(self._BOOL_EMPTY)

        clauses_c = [{
            "req": ([(t,) for t in c.req_terms]
                    + [tuple(expansions.get(p, ())) for p in c.req_prefixes]
                    + [tuple(sfx_exp.get(s, ())) for s in c.req_suffixes]
                    + [tuple(ctn_exp.get(s, ())) for s in c.req_contains]
                    + [tuple(rex_exp.get(p, ())) for p in c.req_regex]),
            "neg": ([(t,) for t in c.neg_terms]
                    + [tuple(expansions.get(p, ())) for p in c.neg_prefixes]
                    + [tuple(sfx_exp.get(s, ())) for s in c.neg_suffixes]
                    + [tuple(ctn_exp.get(s, ())) for s in c.neg_contains]
                    + [tuple(rex_exp.get(p, ())) for p in c.neg_regex]),
            "req_phrases": list(c.req_phrases),
            "neg_phrases": list(c.neg_phrases),
        } for c in clauses]

        blocks = self._pruned_term_scan(f"postings{self._sfx()}",
                                        needed).select(
            "term", "partition_id", "block_id", "last_doc_id",
            "doc_ids_vb", "tfs_vb", "dls_vb")
        df_side = self._pruned_term_scan(f"term_stats{self._sfx()}",
                                         needed).select("term", "df")
        blocks = blocks.join(F.broadcast(df_side), "term")
        fn = make_boolean_bucket_fn(clauses_c, pos, k, float(cfg.k1),
                                    float(cfg.b), avgdl, n_docs)
        local = blocks.groupBy("partition_id").applyInPandas(
            fn, schema=BOOLEAN_OUT_SCHEMA)

        has_phrases = any(c.req_phrases or c.neg_phrases for c in clauses)
        if not has_phrases:
            return local.select("partition_id", "doc_id", "score")

        # the uncond/pend split below references `local` twice — an eager
        # localCheckpoint runs the kernel job ONCE and stores its bounded
        # output (capped uncond top-k's + conjunction-selective pending
        # rows) instead of re-executing the scan+intersection per branch
        local = local.localCheckpoint()

        # resolve phrase obligations: re-tokenize ONLY the pending docs
        # (each already contains every term of its clause's phrases —
        # conjunction-selective), pruned to their buckets by the
        # broadcast join on (partition_id, doc_id)
        from pyspark.sql.functions import pandas_udf

        from ..textproc import phrase_match_count, token_positions

        uncond = (local.filter(F.col("pending_mask") == 0)
                  .select("partition_id", "doc_id", "score"))
        pend = local.filter(F.col("pending_mask") != 0)
        field_col = self.field  # doc_features text column IS the field name
        feats = self.store.read(f"doc_features{self._sfx()}").select(
            "partition_id", "doc_id", F.col(field_col).alias("_text"))
        mtl, mnl = cfg.max_token_len, cfg.min_token_len
        anlz = cfg.analyzer
        req_ph = [list(map(list, c.req_phrases)) for c in clauses]
        neg_ph = [list(map(list, c.neg_phrases)) for c in clauses]

        @pandas_udf("boolean")
        def verify(text: pd.Series, mask: pd.Series) -> pd.Series:
            out = []
            for t, m in zip(text, mask):
                pos_map = token_positions(t, mtl, mnl, anlz)
                ok = False
                ci, mm = 0, int(m)
                while mm and not ok:
                    if mm & 1:
                        ok = (all(phrase_match_count(pos_map, ph) > 0
                                  for ph in req_ph[ci])
                              and not any(
                                  phrase_match_count(pos_map, ph) > 0
                                  for ph in neg_ph[ci]))
                    ci += 1
                    mm >>= 1
                out.append(ok)
            return pd.Series(out, dtype="boolean")

        resolved = (F.broadcast(pend).join(feats,
                                           ["partition_id", "doc_id"])
                    .filter(verify("_text", "pending_mask"))
                    .select("partition_id", "doc_id", "score"))
        return uncond.unionByName(resolved)

    def boolean_top_k_df(self, query: str, k: int | None = None,
                         synonyms: dict[str, tuple[str, ...]] | None = None
                         ) -> DataFrame:
        """Websearch-style boolean top-k (``plans/boolean.py`` documents
        the grammar and semantics): (partition_id, doc_id, score) ranked
        (score DESC, doc_id ASC), score = BM25 over the query's distinct
        positive terms present in the doc. The global merge is
        ``TakeOrderedAndProject`` over ≤ P·k unconditional rows plus the
        phrase-verified survivors.

        ``synonyms``: optional normalized rewrite map
        (``operators/synonyms.py`` — the engine's ``ts_rewrite``): each
        DNF clause cross-products its required terms with their synonym
        groups before planning."""
        cfg = self.cfg
        k = cfg.default_k if k is None else min(k, cfg.max_k)
        if k <= 0:
            return self._empty(self._BOOL_EMPTY)
        return (self._boolean_survivors(query, k, synonyms=synonyms)
                .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))

    def boolean_top_k(self, query: str, k: int = 10
                      ) -> list[tuple[int, float]]:
        """Materialized [(doc_id, score)] boolean top-k."""
        rows = self.boolean_top_k_df(query, k=k).collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    def boolean_matches_df(self, query: str) -> DataFrame:
        """The FULL boolean match set (no top-k cut) — the facet/count
        input. Same one-kernel plan with the per-bucket cap disabled."""
        return self._boolean_survivors(query, None)

    # ------------------------------------------------------------- facets
    def facet_counts(self, query: str, by: str = "lang",
                     mode: str = "any",
                     granularity: str | None = None) -> DataFrame:
        """Facet histogram over the match set: (facet value, n_docs),
        descending — the aggregation a search UI renders next to results
        (the reference's category sidebar would be this over its
        ``category`` column). ``by`` is any doc_meta column.

        ``granularity``: date-histogram mode (the Elasticsearch
        ``date_histogram`` / results-over-time widget): bucket a
        timestamp column by ``date_trunc(granularity, by)`` —
        "year"/"month"/"week"/"day"/"hour"/... — ordered by bucket
        ascending (a timeline, not a top-list). Same two-level
        aggregate; the shuffle carries ≤ |buckets| × P rows.

        ``mode="any"``: a doc matches if it contains ≥1 query term (the
        disjunctive candidate set BM25 ranks — matches what the WAND page
        draws from). ``mode="boolean"``: full websearch semantics via
        :meth:`boolean_matches_df`.

        Plan: distinct match (partition_id, doc_id) pairs join doc_meta
        on the bucket-colocated key, then a two-level aggregate: partial
        per-partition counts combine map-side, so the shuffle carries ≤
        |facet values| × P rows, never the match set."""
        # "host" is a derived facet (the top-sites widget): the JVM
        # parse_url expression over doc_meta's url — no stored column
        # needed (a served index would materialize it, X25 CoW)
        base = (F.lower(F.parse_url(F.col("url"), F.lit("HOST")))
                if by == "host" else F.col(by))
        facet = (F.date_trunc(granularity, base).alias(by)
                 if granularity else base.alias(by))
        order = ((F.asc(by),) if granularity
                 else (F.desc("n_docs"), F.asc(by)))
        if mode == "boolean":
            matched = (self.boolean_matches_df(query)
                       .select("partition_id", "doc_id"))
        elif mode == "any":
            cfg = self.cfg
            qterms = sorted(set(tokenize(query, cfg.max_token_len,
                                         cfg.min_token_len,
                                         cfg.analyzer)))
            if not qterms:
                return self._empty(f"{by} string, n_docs long")
            # "contains ≥1 query term" needs no scores: the scoreless
            # doc-id-only decode (one varbyte stream, one binary column
            # read — see candidate_ids_df/decode_doc_ids)
            matched = self.candidate_ids_df(query)
            # doc_bucket(doc_id) is derivable, but the decoded rows do
            # not carry partition_id — join on doc_id alone and let the
            # distinct shrink the probe side first
            meta = self.store.read(f"doc_meta{self._sfx()}").select(
                "doc_id", facet)
            return (matched.join(meta, "doc_id")
                    .groupBy(by).agg(F.count(F.lit(1)).alias("n_docs"))
                    .orderBy(*order))
        else:
            raise ValueError(f"unknown facet mode: {mode!r}")
        meta = self.store.read(f"doc_meta{self._sfx()}").select(
            "partition_id", "doc_id", facet)
        return (matched.join(meta, ["partition_id", "doc_id"])
                .groupBy(by).agg(F.count(F.lit(1)).alias("n_docs"))
                .orderBy(*order))

    # ------------------------------------------- significant terms (X50)
    def significant_terms(self, query: str, n: int = 10,
                          mode: str = "any",
                          sample_ratio: float | None = None,
                          min_fg_df: int = 2,
                          exclude_query_terms: bool = True) -> DataFrame:
        """Terms overrepresented in the match set vs the corpus — the
        Elasticsearch ``significant_terms`` aggregation (JLH score), the
        "what is this result set ABOUT" widget next to facets.

        Foreground = docs matching ``query`` (``mode`` as in
        :meth:`facet_counts`: "any" = contains ≥1 query term via the
        scoreless doc-id decode, "boolean" = websearch semantics);
        background = the whole corpus (term_stats.df). For each term,
        with fg_pct = fg_df/|fg| and bg_pct = df/N:

            jlh = (fg_pct - bg_pct) * (fg_pct / bg_pct)   if fg_pct > bg_pct

        Plan: the match ids join doc_features on the bucket-colocated
        (partition_id, doc_id) key; ``explode(map_keys(tf_map))`` emits
        each matched doc's DISTINCT terms (tf_map keys — no re-tokenize),
        a two-level groupBy counts fg_df map-side, and ONE shuffle on
        ``term`` joins term_stats for bg df. The only corpus-scale
        movement is that term-keyed join, and its left side is bounded by
        |fg docs| · distinct-terms/doc — cap it with ``sample_ratio``
        (the Elasticsearch ``sampler`` analogue): a DETERMINISTIC
        doc-id-hash filter keeps ≈ratio of the match set, and fg_size
        shrinks with it, so scores stay unbiased estimates.

        ``min_fg_df`` drops one-off terms (ES ``min_doc_count``);
        ``exclude_query_terms`` removes the query's own terms (trivially
        significant). Returns (term, fg_df, bg_df, score), score DESC,
        term ASC, limit ``n``.
        """
        from ..functions.udfs import doc_bucket_expr

        cfg = self.cfg
        qterms = sorted(set(tokenize(query, cfg.max_token_len,
                                     cfg.min_token_len, cfg.analyzer)))
        empty = self._empty("term string, fg_df long, bg_df long, "
                            "score double")
        if not qterms:
            return empty
        if mode == "boolean":
            matched = (self.boolean_matches_df(query)
                       .select("partition_id", "doc_id"))
        elif mode == "any":
            matched = (self.candidate_ids_df(query)
                       .withColumn("partition_id",
                                   doc_bucket_expr("doc_id",
                                                   cfg.n_doc_buckets)))
        else:
            raise ValueError(f"unknown mode: {mode!r}")
        if sample_ratio is not None:
            if not (0.0 < sample_ratio <= 1.0):
                raise ValueError("sample_ratio must be in (0, 1]")
            d = 1 << 16
            matched = matched.filter(
                F.pmod(F.xxhash64("doc_id"), F.lit(d))
                < F.lit(int(sample_ratio * d)))
        matched = matched.cache()  # two uses: the size scalar + the join
        try:
            fg_size = matched.count()
            if fg_size == 0:
                return empty
            feats = self.store.read(f"doc_features{self._sfx()}").select(
                "partition_id", "doc_id",
                F.map_keys("tf_map").alias("_terms"))
            fg = (matched.join(feats, ["partition_id", "doc_id"])
                  .select(F.explode("_terms").alias("term"))
                  .groupBy("term")
                  .agg(F.count(F.lit(1)).alias("fg_df"))
                  .filter(F.col("fg_df") >= int(min_fg_df)))
            if exclude_query_terms:
                fg = fg.filter(~F.col("term").isin(qterms))
            n_docs = self.corpus_stats()["n_docs"]
            bg = self.store.read(f"term_stats{self._sfx()}").select(
                "term", F.col("df").alias("bg_df"))
            fgp = F.col("fg_df") / F.lit(float(fg_size))
            bgp = F.col("bg_df") / F.lit(float(n_docs))
            out = (fg.join(bg, "term")
                   .withColumn("score", (fgp - bgp) * (fgp / bgp))
                   .filter(fgp > bgp)
                   .select("term", "fg_df", "bg_df", "score")
                   .orderBy(F.desc("score"), F.asc("term"))
                   .limit(int(n)))
            # materialize before unpersisting the cached match set
            rows = out.collect()
        finally:
            matched.unpersist()
        return self.spark.createDataFrame(
            rows, "term string, fg_df long, bg_df long, score double")

    # ------------------------------------------------ field collapse (X51)
    def collapse_top_k_df(self, query: str, by: str = "lang",
                          k: int | None = None,
                          mode: str = "wand") -> DataFrame:
        """Collapsed top-k: the best-scoring doc per ``by`` value, top k
        VALUES — Elasticsearch field collapsing / Google's one-result-
        per-site, the dedup-at-serve-time a web index needs (collapse by
        url host). Keys compare by their string form; NULL keys form one
        group. Returns (``by``, doc_id, score) in (score DESC, doc_id
        ASC) order.

        ``mode="wand"`` (default): ranked on the driver
        (:meth:`_driver_wand`), two jobs and no Python task (pinned in
        ``tests/test_plan_shapes.py``) — the pruned postings collect,
        then doc_meta's (doc_id, key) rows of just the buckets that hold
        the query's postings. Each bucket's WAND runs the kernel's
        ``collapse`` hook (``wand_top_k``) and emits its top-k KEYS with
        block-max pruning against a key-level theta; the cross-bucket
        merge keeps each key's best doc, then the top k — exact by the
        superset lemma in the kernel docstring. The result is a
        ``LocalTableScan``.
        ``mode="exhaustive"``: scores every candidate then windows —
        the correctness baseline (pinned identical by test).
        """
        from pyspark.sql.window import Window

        from ..functions.udfs import doc_bucket_expr

        cfg = self.cfg
        k = cfg.default_k if k is None else min(k, cfg.max_k)
        qterms = sorted(set(tokenize(query, cfg.max_token_len,
                                     cfg.min_token_len, cfg.analyzer)))
        if not qterms or k <= 0:
            return self._no_hits().select(
                F.lit(None).cast("string").alias(by), "doc_id", "score")
        meta = self.store.read(f"doc_meta{self._sfx()}").select(
            "partition_id", "doc_id", F.col(by).cast("string").alias("ckey"))
        if mode == "wand":
            top = self._driver_wand(qterms, k, meta=meta, collapse=True)
            return (self.spark.createDataFrame(top)
                    .select(F.col("ckey").alias(by), "doc_id", "score"))
        if mode != "exhaustive":
            raise ValueError(f"unknown collapse mode: {mode!r}")
        scored = self.scores_df(query).withColumn(
            "partition_id", doc_bucket_expr("doc_id", cfg.n_doc_buckets))
        local = scored.join(meta, ["partition_id", "doc_id"])
        w = Window.partitionBy("ckey").orderBy(F.desc("score"),
                                               F.asc("doc_id"))
        return (local.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
                .select(F.col("ckey").alias(by), "doc_id", "score"))

    def collapse_top_k(self, query: str, by: str = "lang", k: int = 10,
                       mode: str = "wand"
                       ) -> list[tuple[object, int, float]]:
        """Materialized [(key, doc_id, score)] field collapse."""
        rows = self.collapse_top_k_df(query, by=by, k=k, mode=mode).collect()
        return [(r[by], int(r["doc_id"]), float(r["score"])) for r in rows]

    # --------------------------------------------- static-rank blending
    def static_prior_col(self, static: str):
        """Resolve a static-prior spec to a non-negative double Column
        over doc_meta. A doc_meta column name is used directly (clamped
        at 0 — the blended WAND bounds need priors ≥ 0); the builtin
        ``"url_prior"`` derives 1/(1+path_depth) from the url — the
        URL-form document prior of Kraaij, Westerveld & Hiemstra (SIGIR
        '02: entry pages have short URLs), computed JVM-side."""
        meta_cols = self.store.read(f"doc_meta{self._sfx()}").columns
        if static in meta_cols:
            return F.greatest(F.lit(0.0), F.col(static).cast("double"))
        if static == "url_prior":
            path = F.regexp_replace("url", r"^[a-z][a-z0-9+.-]*://[^/]*",
                                    "")
            depth = F.size(F.filter(F.split(path, "/"),
                                    lambda x: x != F.lit("")))
            return F.lit(1.0) / (F.lit(1.0) + depth.cast("double"))
        raise ValueError(
            f"static prior {static!r} is neither a doc_meta column "
            f"({meta_cols}) nor the builtin 'url_prior'")

    def _static_meta(self, static: str,
                     static_df: DataFrame | None) -> DataFrame:
        """(partition_id, doc_id, static≥0) for the blended paths.

        ``static_df`` plugs an externally computed prior (e.g.
        ``operators.linkgraph.pagerank`` output): two columns, a key
        (``url`` or ``doc_id``) and the prior value. Docs absent from
        it take prior 0 (left join — the kernel treats missing as 0
        already). Production would MERGE the prior into doc_meta once
        (CoW) and pass its column name; the join form keeps the prior
        hot-swappable per query at test scale.

        ``static="pagerank"`` resolves the persisted ``static_rank``
        table (``IndexBuilder.build_static_rank``) as the prior source.
        """
        if static_df is None and static == "pagerank":
            if not self.store.exists("static_rank"):
                raise ValueError(
                    "static='pagerank' needs a committed static_rank "
                    "table — run IndexBuilder.build_static_rank first")
            static_df = self.store.read("static_rank")
        meta = self.store.read(f"doc_meta{self._sfx()}")
        if static_df is None:
            return meta.select("partition_id", "doc_id",
                               self.static_prior_col(static)
                               .alias("static"))
        cols = static_df.columns
        key = "doc_id" if "doc_id" in cols else "url"
        vals = [c for c in cols if c != key]
        if key not in cols or len(vals) != 1:
            raise ValueError(
                "static_df needs exactly two columns: 'url' or 'doc_id'"
                f" plus one prior value, got {cols}")
        sdf = static_df.select(
            key, F.greatest(F.lit(0.0), F.col(vals[0]).cast("double"))
            .alias("_static_in"))
        return (meta.select("partition_id", "doc_id", "url")
                .join(sdf, key, "left")
                .select("partition_id", "doc_id",
                        F.coalesce("_static_in", F.lit(0.0))
                        .alias("static")))

    def boosted_top_k_df(self, query: str, static: str = "url_prior",
                         w_static: float = 1.0, k: int | None = None,
                         mode: str = "wand", window: int | None = None,
                         static_df: DataFrame | None = None) -> DataFrame:
        """Top-k under the blended score ``bm25 + w_static·static(doc)``
        — the web-search serve shape: query relevance plus a
        query-independent document prior (URL form, link authority,
        freshness, spam). Candidates are docs matching ≥ 1 query term
        (the prior reorders matches; it never surfaces no-match docs).
        Returns (doc_id, score) in (score DESC, doc_id ASC) order.

        ``mode="wand"`` (default, exact): ranked on the driver
        (:meth:`_driver_wand`), two jobs and no Python task (pinned in
        ``tests/test_plan_shapes.py``) — the pruned postings collect,
        then the (doc_id, prior) rows of just the buckets that hold the
        query's postings. Each bucket's WAND runs the kernel's ``prior``
        hook (``wand_top_k``), pruning against blended upper bounds
        (bucket-max prior in the pivot test, the candidate's own prior
        at the block check). The result is a ``LocalTableScan``.
        ``mode="exhaustive"``: score every candidate, join priors, sort
        — the correctness baseline.
        ``mode="rescore"``: the Elasticsearch-rescore shape — plain BM25
        WAND top-``window`` (default 4k), blend priors over just those
        rows, re-sort, cut to k. Approximate (a doc outside the BM25
        top-window can't be recovered) but never reads more than
        ``window`` metadata rows; with ``window`` ≥ the match count it
        equals the exact modes (pinned in tests).
        """
        if w_static < 0:
            raise ValueError("w_static must be >= 0 (bounds soundness)")
        cfg = self.cfg
        k = cfg.default_k if k is None else min(k, cfg.max_k)
        qterms = sorted(set(tokenize(query, cfg.max_token_len,
                                     cfg.min_token_len, cfg.analyzer)))
        if not qterms or k <= 0:
            return self._no_hits().select("doc_id", "score")
        meta_static = self._static_meta(static, static_df)
        if mode == "wand":
            top = self._driver_wand(qterms, k, meta=meta_static,
                                    w_static=float(w_static))
            return self.spark.createDataFrame(top).select("doc_id", "score")
        if mode == "exhaustive":
            meta = meta_static.select("doc_id", "static")
            return (self.scores_df(query).join(meta, "doc_id")
                    .select("doc_id",
                            (F.col("score") + F.lit(float(w_static))
                             * F.col("static")).alias("score"))
                    .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))
        if mode == "rescore":
            window = 4 * k if window is None else max(window, k)
            hits = self._query_hits(query, k=window)
            top = self.spark.createDataFrame(hits)
            meta = self._in_hit_buckets(meta_static, hits)
            return (F.broadcast(top)
                    .join(meta, ["partition_id", "doc_id"])
                    .select("doc_id",
                            (F.col("score") + F.lit(float(w_static))
                             * F.col("static")).alias("score"))
                    .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))
        raise ValueError(f"unknown boosted mode: {mode!r}")

    def boosted_top_k(self, query: str, static: str = "url_prior",
                      w_static: float = 1.0, k: int = 10,
                      mode: str = "wand", window: int | None = None,
                      static_df: DataFrame | None = None
                      ) -> list[tuple[int, float]]:
        """Materialized [(doc_id, blended_score)]."""
        rows = self.boosted_top_k_df(query, static=static,
                                     w_static=w_static, k=k, mode=mode,
                                     window=window,
                                     static_df=static_df).collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    # ------------------------------------------------- weighted (BM25F)
    def weighted_top_k_df(self, query: str,
                          field_weights: dict[str, float],
                          k: int | None = None) -> DataFrame:
        """Weighted multi-field top-k — the Postgres
        ``setweight(to_tsvector(title),'A') || setweight(body,'D')``
        composition the reference's per-field endpoints
        (``SearchService.java:95-118``, SURVEY Q11) stop short of:
        score(d) = Σ_f w_f · BM25_f(d, query), each field scored against
        its OWN index (its own df / avgdl / doc lengths).

        Ranked on the driver (:meth:`_rank_on_driver`): ONE job once each
        field's corpus_stats is cached (:meth:`corpus_stats`; pinned in
        ``tests/test_plan_shapes.py``) — the union of every field's
        pruned postings scan, collected, each term's ``df`` the Σ
        ``n_postings`` of its field's blocks — and no Python task. Terms
        are qualified as ``field\\x00term`` so the standard per-bucket
        WAND treats each (field, term) pair as an independent cursor
        whose weight is w_f·idf_f, whose block-max bounds are the field's
        own (computed under that field's avgdl at build time) and which
        normalizes against its field's avgdl (``avgdl_by_term``): score
        is a sum of per-cursor contributions, so pruning stays exact.
        Contributions fold in qualified-key sorted order (field first,
        then term), matching ``oracle.bm25f_top_k`` bit-for-bit. Fields'
        doc buckets align because every field index buckets by the same
        doc-id hash. The result is a ``LocalTableScan``.
        """
        from .wand import wand_top_k

        cfg = self.cfg
        k = cfg.default_k if k is None else min(k, cfg.max_k)
        qterms = sorted(set(tokenize(query, cfg.max_token_len,
                                     cfg.min_token_len, cfg.analyzer)))
        if not qterms or not field_weights or k <= 0:
            return self._no_hits().select("partition_id", "doc_id", "score")

        sfx = self._sfx
        n_docs: dict[str, int] = {}
        avgdls: dict[str, float] = {}
        scans = []
        for f in sorted(field_weights):
            table = f"corpus_stats{sfx(f)}"
            if not self.store.exists(table):
                raise ValueError(
                    f"no index built for field {f!r} (missing {table}); "
                    f"run IndexBuilder.build(field={f!r}) first")
            stats = self.corpus_stats(f)
            for t in qterms:
                n_docs[f"{f}\x00{t}"] = stats["n_docs"]
                avgdls[f"{f}\x00{t}"] = stats["avg_doc_len"]
            # qualify AFTER pruning: the bucket/IN predicates fold on the
            # raw term strings, the kernel sees field-qualified keys
            scans.append(self._driver_wand_scan(qterms, f).withColumn(
                "term", F.concat_ws("\x00", F.lit(f), F.col("term"))))
        k1, b = float(cfg.k1), float(cfg.b)

        def bucket_hits(pid, by_term, idf):
            # same float op order as the oracle: w * idf, then * norm
            weights = {qt: field_weights[qt.split("\x00", 1)[0]] * idf[qt]
                       for qt in by_term}
            hits, _ = wand_top_k(by_term, weights, k, k1, b, avgdl=1.0,
                                 avgdl_by_term=avgdls)
            for d, s in hits:
                yield 0, pid, d, s, None

        union = scans[0]
        for s in scans[1:]:
            union = union.unionByName(s)
        if all(a <= 0 for a in avgdls.values()):
            union = None
        return (self.spark.createDataFrame(
            self._rank_on_driver(union, n_docs, k, bucket_hits))
            .select("partition_id", "doc_id", "score"))

    def weighted_top_k(self, query: str, field_weights: dict[str, float],
                       k: int = 10) -> list[tuple[int, float]]:
        """Materialized [(doc_id, score)] weighted multi-field top-k."""
        rows = self.weighted_top_k_df(query, field_weights, k=k).collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    # ---------------------------------------------------- more-like-this
    def mlt_terms(self, doc_id: int, max_query_terms: int = 20,
                  min_tf: int = 2, min_df: int = 2,
                  max_df_ratio: float = 0.25) -> list[str]:
        """Representative query terms of an indexed doc (Lucene
        MoreLikeThis selection, mirrored by ``OracleIndex.mlt_terms``):
        rank the doc's terms by tf·idf after dropping tf < min_tf
        (weak evidence), df < min_df (noise), and df > max_df_ratio·N
        (stopword-ish). Two tiny jobs: the tf_map row read prunes to the
        doc's bucket (doc_bucket is a pure function of doc_id) and the
        df lookup prunes term_stats to the doc's surviving terms."""
        from ..textproc import doc_bucket

        cfg = self.cfg
        bucket = doc_bucket(doc_id, cfg.n_doc_buckets)
        rows = (self.store.read(f"doc_features{self._sfx()}")
                .filter((F.col("partition_id") == F.lit(bucket))
                        & (F.col("doc_id") == F.lit(doc_id)))
                .select("tf_map").collect())
        if not rows:
            return []
        tf_map = {t: int(v) for t, v in (rows[0]["tf_map"] or {}).items()
                  if int(v) >= min_tf}
        if not tf_map:
            return []
        n = self.corpus_stats()["n_docs"]
        dfs = {r["term"]: int(r["df"])
               for r in self._pruned_term_scan(f"term_stats{self._sfx()}",
                                               sorted(tf_map))
               .select("term", "df").collect()}
        cand = []
        for t, tf in tf_map.items():
            df = dfs.get(t, 0)
            if df < min_df or df > max_df_ratio * n:
                continue
            cand.append((-(tf * bm25_idf(n, df)), t))
        cand.sort()
        return [t for _, t in cand[:max_query_terms]]

    def expansion_terms(self, query: str, fb_docs: int = 5,
                        fb_terms: int = 10, min_df: int = 2,
                        max_df_ratio: float = 0.25) -> list[str]:
        """Pseudo-relevance-feedback expansion terms (Rocchio'71 /
        Lucene-MLT selection over the top ``fb_docs`` results): terms
        from the feedback docs ranked by pooled tf·idf after the MLT df
        cuts, the original query terms excluded. Three bounded jobs:
        the seed WAND top-k, one tf_map read pruned to the feedback
        docs' buckets (≤ fb_docs rows), and one term-pruned df lookup —
        never a corpus-scale scan."""
        from collections import Counter

        from ..textproc import doc_bucket

        cfg = self.cfg
        qterms = set(tokenize(query, cfg.max_token_len, cfg.min_token_len,
                              cfg.analyzer))
        seed = self.top_k(query, k=fb_docs)
        if not seed:
            return []
        ids = [d for d, _ in seed]
        buckets = sorted({doc_bucket(d, cfg.n_doc_buckets) for d in ids})
        rows = (self.store.read(f"doc_features{self._sfx()}")
                .filter(F.col("partition_id").isin(buckets)
                        & F.col("doc_id").isin(ids))
                .select("tf_map").collect())
        pooled: Counter = Counter()
        for r in rows:
            for t, tf in (r["tf_map"] or {}).items():
                if t not in qterms:
                    pooled[t] += int(tf)
        if not pooled:
            return []
        n = self.corpus_stats()["n_docs"]
        dfs = {r["term"]: int(r["df"])
               for r in self._pruned_term_scan(f"term_stats{self._sfx()}",
                                               sorted(pooled))
               .select("term", "df").collect()}
        cand = []
        for t, tf in pooled.items():
            df = dfs.get(t, 0)
            if df < min_df or df > max_df_ratio * n:
                continue
            cand.append((-(tf * bm25_idf(n, df)), t))
        cand.sort()
        return [t for _, t in cand[:fb_terms]]

    def prf_top_k_df(self, query: str, k: int | None = None,
                     fb_docs: int = 5, fb_terms: int = 10,
                     boost: float = 0.4, min_df: int = 2,
                     max_df_ratio: float = 0.25,
                     expansion: list[str] | None = None) -> DataFrame:
        """PRF-expanded retrieval: requery with the original terms at
        full weight plus the expansion terms down-weighted by ``boost``
        (weight = boost·idf — the kernel's per-term boost hook, which
        only scales cursor upper bounds, so WAND pruning stays exact).
        ``fb_terms=0`` degenerates to the plain WAND ranking."""
        cfg = self.cfg
        exp = (expansion if expansion is not None
               else self.expansion_terms(query, fb_docs, fb_terms,
                                         min_df, max_df_ratio)
               if fb_terms else [])
        if not exp:
            return self.wand_top_k_df(query, k=k)
        # dictionary terms round-trip losslessly through the tokenizer
        # (same invariant the synonym path relies on)
        expanded = " ".join(sorted(set(tokenize(
            query, cfg.max_token_len, cfg.min_token_len,
            cfg.analyzer)) | set(exp)))
        boosts = {t: float(boost) for t in exp}
        return (self._batch_wand_ranked([expanded], k=k,
                                        term_boosts=boosts)
                .select("doc_id", "score"))

    def prf_top_k(self, query: str, k: int = 10, **kw
                  ) -> list[tuple[int, float]]:
        rows = self.prf_top_k_df(query, k=k, **kw).collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    def term_boosted_top_k_df(self, query: str, k: int | None = None,
                              boosts: dict[str, float] | None = None
                              ) -> DataFrame:
        """Per-term boosted retrieval — the ``term^2.5`` query_string
        syntax (parsed by :func:`parse_term_boosts`), or explicit
        ``boosts`` keyed by analyzed term. weight = boost·idf rides the
        WAND kernel's existing per-term hook (the PRF path's mechanism,
        wand.py:414-422): boosts only scale cursor upper bounds, so
        block-max pruning stays EXACT. No boosts ⇒ identical plan and
        floats to :meth:`wand_top_k_df`."""
        cfg = self.cfg
        if boosts is None:
            query, boosts = parse_term_boosts(
                query, cfg.max_token_len, cfg.min_token_len,
                cfg.analyzer)
        if not boosts:
            return self.wand_top_k_df(query, k=k).select(
                "doc_id", "score")
        return (self._batch_wand_ranked([query], k=k,
                                        term_boosts=boosts)
                .select("doc_id", "score"))

    def term_boosted_top_k(self, query: str, k: int = 10,
                           boosts: dict[str, float] | None = None
                           ) -> list[tuple[int, float]]:
        rows = self.term_boosted_top_k_df(query, k=k,
                                          boosts=boosts).collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    def more_like_this(self, doc_id: int, k: int = 10,
                       max_query_terms: int = 20, min_tf: int = 2,
                       min_df: int = 2, max_df_ratio: float = 0.25
                       ) -> list[tuple[int, float]]:
        """Related documents: block-max WAND top-k for the doc's MLT
        terms, the source doc excluded from its own results."""
        terms = self.mlt_terms(doc_id, max_query_terms, min_tf, min_df,
                               max_df_ratio)
        if not terms:
            return []
        rows = self.wand_top_k_df(" ".join(terms), k=k + 1).collect()
        hits = [(int(r["doc_id"]), float(r["score"])) for r in rows]
        return [h for h in hits if h[0] != doc_id][:k]

    # ------------------------------------------------ fuzzy / suggestion
    def suggest(self, prefix: str, n: int = 10) -> list[tuple[str, int]]:
        """Typeahead: dictionary terms with the given prefix, most
        frequent first — [(term, df)] ordered (df DESC, term ASC). One
        term_stats scan; ``StartsWith`` pushes down as a min/max range
        on the sorted term column."""
        p = prefix.lower()
        if not p:
            return []
        rows = (self.store.read(f"term_stats{self._sfx()}")
                .filter(F.col("term").startswith(p))
                .orderBy(F.desc("df"), F.asc("term")).limit(n)
                .select("term", "df").collect())
        return [(r["term"], int(r["df"])) for r in rows]

    def fuzzy_terms(self, term: str, max_edit: int = 1, limit: int = 16
                    ) -> list[tuple[str, int, int]]:
        """Dictionary terms within ``max_edit`` edits (SymSpell deletes
        lookup + Damerau-Levenshtein verify): [(term, distance, df)]
        ordered (distance ASC, df DESC, term ASC). Requires
        ``IndexBuilder.build_fuzzy()``; the scan prunes by
        variant_bucket int literals + ``variant IN``."""
        from ..functions.udfs import term_bucket_lit
        from ..operators.fuzzy import delete_variants, fuzzy_candidates

        table = f"term_deletes{self._sfx()}"
        if not self.store.exists(table):
            raise ValueError(
                "no term_deletes table — run IndexBuilder.build_fuzzy() "
                "first")
        deletes = self.store.read(table)
        qvars = delete_variants(term.lower(), max_edit)
        if "variant_bucket" in deletes.columns:
            deletes = deletes.filter(F.col("variant_bucket").isin(
                *[term_bucket_lit(v, self.cfg.n_term_buckets)
                  for v in qvars]))
        return fuzzy_candidates(self.spark, deletes, term,
                                max_edit=max_edit, limit=limit)

    def fuzzy_top_k(self, query: str, k: int = 10, max_edit: int = 1
                    ) -> tuple[list[tuple[int, float]], dict[str, str]]:
        """Typo-tolerant top-k ("did you mean"): query terms absent from
        the dictionary are replaced by their best fuzzy match (distance
        ASC, df DESC) before the standard WAND path. Returns
        ``(hits, corrections)`` — corrections maps original → substituted
        term (only for terms that were actually replaced)."""
        cfg = self.cfg
        qterms = sorted(set(tokenize(query, cfg.max_token_len,
                                     cfg.min_token_len, cfg.analyzer)))
        if not qterms:
            return [], {}
        present = {r["term"] for r in
                   self._pruned_term_scan(f"term_stats{self._sfx()}",
                                          qterms).select("term").collect()}
        corrections: dict[str, str] = {}
        final: list[str] = []
        for t in qterms:
            if t in present:
                final.append(t)
                continue
            cand = self.fuzzy_terms(t, max_edit=max_edit, limit=1)
            if cand:
                corrections[t] = cand[0][0]
                final.append(cand[0][0])
        if not final:
            return [], corrections
        rows = self.wand_top_k_df(" ".join(sorted(set(final))),
                                  k=k).collect()
        return ([(int(r["doc_id"]), float(r["score"])) for r in rows],
                corrections)

    # -------------------------------------------------- synonyms / explain
    def synonym_top_k_df(self, query: str,
                         synonyms: dict[str, tuple[str, ...]],
                         k: int | None = None) -> DataFrame:
        """Ranked retrieval with ts_rewrite-style query expansion
        (``operators/synonyms.py``): the query's term set is unioned with
        each term's synonym group and handed to the standard block-max
        WAND path — a synonym is one more scored cursor, down-weighted by
        its own idf. The expanded terms are [a-z0-9]+ tokens, so the
        space-join round-trips losslessly through the tokenizer."""
        from ..operators.synonyms import expand_terms

        cfg = self.cfg
        qterms = sorted(set(tokenize(query, cfg.max_token_len,
                                     cfg.min_token_len, cfg.analyzer)))
        expanded = expand_terms(qterms, synonyms or {})
        if not expanded:
            return self._empty(self._BOOL_EMPTY)
        return self.wand_top_k_df(" ".join(expanded), k=k)

    def explain_score(self, query: str, doc_id: int) -> dict:
        """Per-term BM25 breakdown for one (query, document) pair — the
        engine's Elasticsearch-``_explain`` / Lucene ``Explanation``
        analogue, for relevance debugging. Two tiny pruned jobs (the
        doc's bucket-pinned feature row; the query terms' df rows); the
        arithmetic replays scoring EXACTLY — same parenthesization, same
        sorted-term fold order — so ``total`` is bit-identical to the
        score the ranked paths emit for this doc (pinned by test).

        Returns ``{doc_id, doc_len, avgdl, n_docs, total, terms: [{term,
        tf, df, idf, contrib}]}`` with absent-from-doc or absent-from-
        dictionary query terms listed at tf/df 0 and contrib 0.0."""
        from ..textproc import doc_bucket

        cfg = self.cfg
        qterms = sorted(set(tokenize(query, cfg.max_token_len,
                                     cfg.min_token_len, cfg.analyzer)))
        stats = self.corpus_stats()
        n, avgdl = stats["n_docs"], stats["avg_doc_len"]
        bucket = doc_bucket(doc_id, cfg.n_doc_buckets)
        rows = (self.store.read(f"doc_features{self._sfx()}")
                .filter((F.col("partition_id") == F.lit(bucket))
                        & (F.col("doc_id") == F.lit(doc_id)))
                .select("doc_len", "tf_map").collect())
        if not rows:
            raise ValueError(f"doc_id {doc_id} is not indexed")
        dl = int(rows[0]["doc_len"])
        tf_map = {t: int(v) for t, v in (rows[0]["tf_map"] or {}).items()}
        dfs = ({r["term"]: int(r["df"]) for r in
                self._pruned_term_scan(f"term_stats{self._sfx()}", qterms)
                .select("term", "df").collect()} if qterms else {})
        k1, b = float(cfg.k1), float(cfg.b)
        total = 0.0
        terms = []
        for t in qterms:  # sorted-term fold order == the scoring paths'
            tf, df = tf_map.get(t, 0), dfs.get(t, 0)
            if tf > 0 and df > 0 and avgdl > 0:
                idf = bm25_idf(n, df)
                denom = tf + k1 * ((1.0 - b) + b * dl / avgdl)
                contrib = idf * (tf / denom)
                total += contrib
            else:
                idf, contrib = (bm25_idf(n, df) if df > 0 else 0.0), 0.0
            terms.append({"term": t, "tf": tf, "df": df, "idf": idf,
                          "contrib": contrib})
        return {"doc_id": doc_id, "doc_len": dl, "avgdl": avgdl,
                "n_docs": n, "total": total, "terms": terms}

    # -------------------------------------------------------- index stats
    def ltr_features_df(self, query: str, window: int = 100,
                        statics: list[str] = ("url_prior",)) -> DataFrame:
        """Hydrated feature frame for the BM25 top-``window`` (X112):
        (partition_id, doc_id, bm25, doc_len, <statics…>). This is both
        the TRAINING feature extractor (join labels on doc_id, feed
        ``operators/ltr.fit_linear_ltr``) and the SERVING window for
        :meth:`ltr_top_k_df` — same columns, same pruning, so
        training/serving feature skew is impossible by construction.

        Scale shape: features are hydrated for the window ONLY — the
        doc_meta scan is pruned to the hit buckets by literal
        ``partition_id`` filters (:meth:`_in_hit_buckets`), so cost is
        O(window) regardless of corpus size.
        """
        top = self._query_hits(query, k=int(window))
        hits = self.spark.createDataFrame(top).select(
            "partition_id", "doc_id", F.col("score").alias("bm25"))
        meta = self._in_hit_buckets(
            self.store.read(f"doc_meta{self._sfx()}"), top)
        static_cols = [self.static_prior_col(s).alias(s) for s in statics]
        meta = meta.select("partition_id", "doc_id", "doc_len",
                           *static_cols)
        return (F.broadcast(hits).join(meta, ["partition_id", "doc_id"])
                .select("partition_id", "doc_id", "bm25",
                        F.col("doc_len").cast("double").alias("doc_len"),
                        *statics))

    def ltr_top_k_df(self, query: str, weights: dict[str, float],
                     k: int | None = None, window: int | None = None,
                     statics: list[str] = ("url_prior",)) -> DataFrame:
        """Learned linear re-ranking of the BM25 top-window (X112) — the
        ES/Solr LTR-plugin serve shape with a model
        ``operators/ltr.fit_linear_ltr`` trained on this cluster. The
        model applies as a pure-JVM expression over the hydrated window
        (no UDF at serve time); docs outside the BM25 window are not
        rescued — the same window contract as :meth:`rescore_top_k_df`.
        Returns (doc_id, ltr_score, bm25)."""
        from ..operators.ltr import ltr_rescore

        cfg = self.cfg
        k = min(k or cfg.default_k, cfg.max_k + cfg.max_offset)
        window = window or 5 * k
        feats = self.ltr_features_df(query, window=window, statics=statics)
        feature_cols = [c for c in weights if c != "_intercept"]
        return (ltr_rescore(feats, weights, k, feature_cols)
                .select("doc_id", "ltr_score", "bm25"))

    def get_docs(self, urls: list[str] | None = None,
                 doc_ids: list[int] | None = None,
                 with_text: bool = False,
                 max_docs: int = 1000) -> DataFrame:
        """Realtime point lookup by key (X111) — Elasticsearch's
        ``_mget`` / the reference's get-by-``asin`` row fetch
        (``ProductRepository.java:22-64`` maps single rows by unique
        key). Returns one row per REQUESTED key with a ``found`` flag
        (missing keys come back ``found=false`` with NULL metadata, the
        ES envelope shape).

        Scale shape: keys name their own storage — ``doc_id =
        f(url)`` (sha256 prefix) and ``partition_id = g(doc_id)``
        (range bucket) — so the doc_meta scan prunes to the requested
        buckets (partition filter when the layout is partitioned) plus a
        ``doc_id IN`` pushdown, and the ≤ ``max_docs`` survivor rows
        broadcast-join the request list: a point lookup reads
        |buckets|/P of the metadata, never the table. ``with_text``
        joins the stored text from doc_features under the same pruning.
        ``max_docs`` refuses unbounded use (batch reads are scans, not
        mgets — same discipline as ``term_vectors``).
        """
        from ..textproc import doc_bucket, doc_id_for_url

        if (urls is None) == (doc_ids is None):
            raise ValueError("pass exactly one of urls / doc_ids")
        if urls is not None:
            req = [(u, doc_id_for_url(u)) for u in dict.fromkeys(urls)]
        else:
            req = [(None, int(d)) for d in dict.fromkeys(doc_ids)]
        if len(req) > max_docs:
            raise ValueError(
                f"get_docs is a point-lookup API: {len(req)} keys "
                f"> max_docs={max_docs}")
        cfg = self.cfg
        out_schema = ("doc_id long, url string, found boolean, "
                      "warc_ts timestamp, lang string, doc_len int"
                      + (", text string" if with_text else ""))
        if not req:
            return self._empty(out_schema)
        ids = [d for _, d in req]
        buckets = sorted({doc_bucket(d, cfg.n_doc_buckets) for d in ids})
        reqdf = self.spark.createDataFrame(
            req, "req_url string, doc_id long")
        meta = (self.store.read(f"doc_meta{self._sfx()}")
                .filter(F.col("partition_id").isin(buckets))
                .filter(F.col("doc_id").isin(ids))
                .select("doc_id", "url", "warc_ts", "lang", "doc_len"))
        # the pruned scan is ≤ |req| rows (doc_id unique) — broadcasting
        # it keeps the left join a BroadcastHashJoin with no exchange
        out = (reqdf.join(F.broadcast(meta), "doc_id", "left")
               .withColumn("found", F.col("url").isNotNull())
               .select("doc_id",
                       F.coalesce("url", "req_url").alias("url"),
                       "found", "warc_ts", "lang", "doc_len"))
        if with_text:
            feats = (self.store.read(f"doc_features{self._sfx()}")
                     .filter(F.col("partition_id").isin(buckets))
                     .filter(F.col("doc_id").isin(ids))
                     .select("doc_id", "text"))
            out = out.join(F.broadcast(feats), "doc_id", "left")
        return out.orderBy("doc_id")

    def term_vectors(self, doc_ids: list[int],
                     with_positions: bool = True,
                     max_docs: int = 100) -> DataFrame:
        """Per-document term statistics — Elasticsearch's
        ``_termvectors`` API (X75): (doc_id, term, tf, positions, df,
        idf), the relevance-debugging view ("why does this doc score
        what it scores" pairs with ``explain``'s per-term breakdown).

        Like ES with term vectors NOT stored, the vector is recomputed
        on the fly from the stored field: the doc_features scan prunes
        to the requested docs' doc-range buckets (partition filter) +
        ``doc_id IN``, tf comes from the stored ``tf_map`` (no
        re-tokenize), positions (optional) from ONE ``token_positions``
        pass over just those docs' text, and df/idf ride a pruned
        term_stats ``term IN`` scan with the oracle's exact
        ``bm25_idf`` float expression. A per-doc debug API, not a batch
        operator — ``max_docs`` refuses unbounded use (the batch form
        is the index itself)."""
        from ..textproc import doc_bucket, token_positions

        ids = sorted({int(d) for d in doc_ids})
        if not ids:
            return self._empty("doc_id long, term string, tf int, "
                               "positions array<int>, df long, idf double")
        if len(ids) > max_docs:
            raise ValueError(
                f"term_vectors is a per-doc debug API: {len(ids)} docs "
                f"> max_docs={max_docs}")
        cfg = self.cfg
        buckets = sorted({doc_bucket(d, cfg.n_doc_buckets) for d in ids})
        feats = (self.store.read(f"doc_features{self._sfx()}")
                 .filter(F.col("partition_id").isin(buckets))
                 .filter(F.col("doc_id").isin(ids))
                 .select("doc_id", "text", "tf_map"))
        rows = feats.collect()  # ≤ max_docs rows
        mtl, mnl, anlz = (cfg.max_token_len, cfg.min_token_len,
                          cfg.analyzer)
        out = []
        terms = set()
        for r in rows:
            pos_map = (token_positions(r["text"], mtl, mnl, anlz)
                       if with_positions else {})
            for term, tf in (r["tf_map"] or {}).items():
                terms.add(term)
                out.append((r["doc_id"], term, int(tf),
                            pos_map.get(term) if with_positions
                            else None))
        tv = self.spark.createDataFrame(
            out, "doc_id long, term string, tf int, positions array<int>")
        stats = self.corpus_stats()
        df_side = self._pruned_term_scan(
            f"term_stats{self._sfx()}", sorted(terms)).select("term", "df")
        n = float(stats["n_docs"])
        # bm25_idf as a JVM expression (same IEEE-double op sequence as
        # the Python form — pinned in tests); no per-row Python here
        dfc = F.col("df").cast("double")
        idf = F.log(F.lit(1.0) + (F.lit(n) - dfc + F.lit(0.5))
                    / (dfc + F.lit(0.5)))
        return (tv.join(F.broadcast(df_side), "term", "left")
                .withColumn("df", F.coalesce("df", F.lit(0)))
                .select("doc_id", "term", "tf", "positions", "df",
                        idf.alias("idf"))
                .orderBy("doc_id", "term"))

    def index_stats(self) -> dict:
        """Operational index summary — the engine-side analogue of the
        reference's health probe (U4, ``HealthController.java``):
        corpus scalars, dictionary/postings cardinalities, compressed
        size, and doc-bucket skew, via three small aggregations."""
        cs = self.corpus_stats()
        t = (self.store.read(f"term_stats{self._sfx()}")
             .agg(F.count(F.lit(1)).alias("n_terms"),
                  F.sum("df").alias("n_postings")).collect()[0])
        p = (self.store.read(f"postings{self._sfx()}")
             .agg(F.count(F.lit(1)).alias("n_blocks"),
                  F.sum(F.length("doc_ids_vb") + F.length("tfs_vb")
                        + F.length("dls_vb")).alias("postings_bytes"),
                  F.countDistinct("partition_id").alias("n_buckets"))
             .collect()[0])
        b = (self.store.read(f"doc_meta{self._sfx()}")
             .groupBy("partition_id").agg(F.count(F.lit(1)).alias("n"))
             .agg(F.min("n").alias("mn"), F.max("n").alias("mx"))
             .collect()[0])
        return {
            "n_docs": cs["n_docs"],
            "avg_doc_len": cs["avg_doc_len"],
            "n_terms": int(t["n_terms"]),
            "n_postings": int(t["n_postings"] or 0),
            "n_blocks": int(p["n_blocks"]),
            "postings_bytes": int(p["postings_bytes"] or 0),
            "n_buckets": int(p["n_buckets"]),
            "min_bucket_docs": int(b["mn"]),
            "max_bucket_docs": int(b["mx"]),
        }

    # ----------------------------------------------------------- snippets
    def snippets(self, doc_ids: list[int], query: str,
                 max_words: int = 35) -> dict[int, str]:
        """doc_id → highlighted fragment (``ts_headline`` parity,
        textproc.make_snippet) for the given result docs. One job: the
        doc-range bucket is a pure function of doc_id, so the
        doc_features read prunes to the hit buckets before the ≤ k-row
        broadcast join; the snippet UDF runs on ≤ k rows."""
        if not doc_ids:
            return {}
        from pyspark.sql.functions import pandas_udf

        from ..textproc import doc_bucket, make_snippet

        cfg = self.cfg
        qterms = sorted(set(tokenize(query, cfg.max_token_len,
                                     cfg.min_token_len, cfg.analyzer)))
        buckets = sorted({doc_bucket(d, cfg.n_doc_buckets)
                          for d in doc_ids})
        field_col = self.field  # doc_features text column IS the field name
        feats = (self.store.read(f"doc_features{self._sfx()}")
                 .filter(F.col("partition_id").isin(buckets))
                 .select("doc_id", F.col(field_col).alias("_text")))
        ids = self.spark.createDataFrame([(int(d),) for d in doc_ids],
                                         "doc_id long")
        mw, mtl, mnl = max_words, cfg.max_token_len, cfg.min_token_len
        anlz = cfg.analyzer  # qterms above are already analyzed

        @pandas_udf("string")
        def snip(text: pd.Series) -> pd.Series:
            return pd.Series([make_snippet(t, qterms, mw,
                                           max_token_len=mtl,
                                           min_token_len=mnl,
                                           analyzer=anlz)
                              for t in text])

        rows = (feats.join(F.broadcast(ids), "doc_id")
                .withColumn("snippet", snip("_text"))
                .select("doc_id", "snippet").collect())
        return {int(r["doc_id"]): r["snippet"] for r in rows}

    # ---------------------------------------------- cross-encoder rerank
    def rerank_top_k_df(self, query: str, k: int | None = None,
                        first_k: int = 100,
                        scorer=None, loader=None,
                        batch_size: int = 32) -> DataFrame:
        """Two-stage retrieve → rerank (X116): block-max WAND retrieves
        the top ``first_k`` candidates, an injected cross-encoder
        (``CrossEncoder.predict``-shaped ``pairs -> scores`` callable —
        the production second stage over the reference's bi-encoder
        ranking, ``ml-model/app.py:59-90``) rescores the (query, text)
        pairs jointly, and the window re-sorts by the model score.

        Bounded by construction: the ≤ first_k WAND hits keep their
        ``partition_id``, so the ``doc_features`` text read is cut to
        the hit buckets — by literal ``partition_id`` filters
        (:meth:`_in_hit_buckets`) that statically prune the at-scale
        ``partition_doc_features=True`` layout (plan-asserted,
        ``tests/test_rerank.py``), by the join itself on the compact
        default layout — and the scoring UDF runs on ≤ first_k rows:
        O(first_k) model calls regardless of corpus size. Returns (doc_id, score, rerank_score) ordered by
        (rerank_score DESC, doc_id ASC) limited to ``k``; ``score`` is
        the first-stage BM25, kept so callers can blend or audit stage
        disagreement."""
        from ..operators.rerank import make_cross_scorer_udf

        cfg = self.cfg
        k = cfg.default_k if k is None else min(k, cfg.max_k)
        first_k = max(int(first_k), k)
        hits = self._query_hits(query, k=first_k)
        top = self.spark.createDataFrame(hits).select(
            "partition_id", "doc_id", "score")
        field_col = self.field  # doc_features text column IS the field name
        feats = self._in_hit_buckets(
            self.store.read(f"doc_features{self._sfx()}"), hits).select(
            "partition_id", "doc_id", F.col(field_col).alias("_text"))
        sp = make_cross_scorer_udf(scorer=scorer, loader=loader,
                                   batch_size=batch_size)
        return (F.broadcast(top).join(feats, ["partition_id", "doc_id"])
                .withColumn("rerank_score", sp(F.lit(query), F.col("_text")))
                .select("doc_id", "score", "rerank_score")
                .orderBy(F.desc("rerank_score"), F.asc("doc_id"))
                .limit(k))

    def rerank_top_k(self, query: str, k: int = 10, first_k: int = 100,
                     scorer=None, loader=None, batch_size: int = 32
                     ) -> list[tuple[int, float, float]]:
        """Materialized :meth:`rerank_top_k_df`:
        [(doc_id, rerank_score, bm25_score)] in rerank order."""
        rows = self.rerank_top_k_df(query, k=k, first_k=first_k,
                                    scorer=scorer, loader=loader,
                                    batch_size=batch_size).collect()
        return [(int(r["doc_id"]), float(r["rerank_score"]),
                 float(r["score"])) for r in rows]

    def mine_training_triples(self, queries: list[str],
                              judgments: DataFrame,
                              depth: int = 100, n_neg: int = 5,
                              rel_threshold: int = 1,
                              skip_unjudged_top: int = 0,
                              with_text: bool = False) -> DataFrame:
        """One-call training-data mining (X117 over the X13 batch
        engine): rank every query at ``depth`` in ONE batch WAND job,
        mine DPR-style (positive, hard-negative) triples against
        ``judgments`` ((query_id, doc_id, grade) — query_id MUST be the
        position in ``queries``; judgments keyed some other way, e.g.
        X118's ``implicit_judgments`` output keyed by a hashed
        normalized-query id, must be re-keyed first via
        :func:`..operators.mining.rekey_judgments` — otherwise the
        inner joins silently match nothing), and optionally hydrate
        both texts for direct consumption by a trainer
        (X112/X115/X116).

        Returns (query_id, query, pos_doc_id, neg_doc_id, neg_rank,
        neg_score[, pos_text, neg_text]). Text hydration at mining
        scale is a BULK equi-join on doc_id against ``doc_features``
        (triple volume is |positives| × n_neg — training-set sized, so
        a broadcast-point-lookup plan would be wrong here); a judged
        positive absent from the corpus keeps its triple with NULL
        ``pos_text`` (left join — the judgment may predate a recrawl)."""
        from ..operators.mining import training_triples

        ranked = self.batch_wand_top_k_df(queries, k=depth).select(
            "query_id", "doc_id", "score")
        trip = training_triples(ranked, judgments, n_neg=n_neg,
                                rel_threshold=rel_threshold,
                                skip_unjudged_top=skip_unjudged_top)
        qmap = self.spark.createDataFrame(
            list(enumerate(queries)), "query_id int, query string")
        out = trip.join(F.broadcast(qmap), "query_id")
        if with_text:
            feats = (self.store.read(f"doc_features{self._sfx()}")
                     .select("doc_id", F.col(self.field).alias("_t")))
            out = (out
                   .join(feats.withColumnRenamed("doc_id", "pos_doc_id")
                         .withColumnRenamed("_t", "pos_text"),
                         "pos_doc_id", "left")
                   .join(feats.withColumnRenamed("doc_id", "neg_doc_id")
                         .withColumnRenamed("_t", "neg_text"),
                         "neg_doc_id", "left"))
        cols = ["query_id", "query", "pos_doc_id", "neg_doc_id",
                "neg_rank", "neg_score"]
        if with_text:
            cols += ["pos_text", "neg_text"]
        return out.select(*cols)

    def batch_top_k(self, queries: list[str], k: int = 10
                    ) -> dict[str, list[tuple[int, float]]]:
        """Materialized form of :meth:`batch_wand_top_k_df`: query string →
        ranked [(doc_id, score)]. Queries with no indexed terms map to []."""
        k = min(k, self.cfg.max_k)
        out: dict[str, list[tuple[int, float]]] = {q: [] for q in queries}
        rows = self.batch_wand_top_k_df(queries, k=k).collect()
        by_qid: dict[int, list] = {}
        for r in rows:
            by_qid.setdefault(int(r["query_id"]), []).append(
                (int(r["doc_id"]), float(r["score"])))
        for qi, hits in by_qid.items():
            # row order after the window filter's exchange is not
            # guaranteed — re-impose (score DESC, doc_id ASC)
            out[queries[qi]] = sorted(hits, key=lambda h: (-h[1], h[0]))
        return out

    # ------------------------------------------------------------------
    def _embedding_dim(self) -> int:
        """Dimensionality of the built doc_embeddings table (one tiny
        head read, cached per engine instance)."""
        cached = getattr(self, "_embedding_dim_cache", None)
        if cached is not None:
            return cached
        row = (self.store.read(f"doc_embeddings{self._sfx()}")
               .select(F.size("emb").alias("d")).limit(1).collect())
        dim = int(row[0]["d"]) if row else 0
        object.__setattr__(self, "_embedding_dim_cache", dim)
        return dim

    def _ann_ivf(self, require_provenance: bool = True):
        """The persisted IVF sidecar over ``doc_embeddings`` (built by
        ``IndexBuilder.build_ann``), as ``(centroids, assign_tbl)`` —
        or ``None`` when absent OR stale (its recorded ``source_uuid``
        no longer matches the embeddings table: after a corpus rebuild
        the serve path must fall back to exact, never rank against
        vectors that no longer exist). The centroid matrix (n_lists×dim
        floats) is cached per assignments ``data_uuid``; the staleness
        check is one manifest read per query — no Spark job.

        ``require_provenance`` (the ``ann='auto'`` posture, ADVICE r4):
        an index whose meta lacks ``source_uuid`` — e.g. persisted via
        bare ``save_ivf`` under the doc_emb name, outside ``build_ann``
        — CANNOT be staleness-checked, so auto mode treats it as stale
        and falls back to exact; only ``ann='ivf'`` (an explicit user
        assertion that the index is current) serves it."""
        name = f"doc_emb{self._sfx()}"
        assign_tbl = f"ann_{name}_assignments"
        meta = self.store.table_meta(assign_tbl)
        if not meta:
            return None
        emb_meta = self.store.table_meta(
            f"doc_embeddings{self._sfx()}") or {}
        src = meta.get("source_uuid")
        if src is None:
            if require_provenance:
                return None  # unverifiable provenance — auto won't serve
        elif src != emb_meta.get("data_uuid"):
            return None  # embeddings rebuilt since the index was saved
        cmeta = self.store.table_meta(f"ann_{name}_centroids") or {}
        if (meta.get("save_id") is not None
                and meta.get("save_id") != cmeta.get("save_id")):
            # torn re-save (load_ivf's save_id cross-check, code-review
            # r4): new assignments against old centroids would probe the
            # wrong lists — refuse and fall back; build_ann treats the
            # torn state as not-a-checkpoint and repairs it
            return None
        uuid = meta.get("data_uuid")
        cached = getattr(self, "_ann_ivf_cache", None)
        if cached is not None and cached[0] == uuid:
            return cached[1]
        import numpy as _np

        rows = (self.store.read(f"ann_{name}_centroids")
                .orderBy("list_id").collect())
        if not rows:
            return None
        cent = _np.array([r["centroid"] for r in rows], dtype=_np.float64)
        out = (cent, assign_tbl)
        object.__setattr__(self, "_ann_ivf_cache", (uuid, out))
        return out

    def semantic_top_k_df(self, query: str, k: int | None = None,
                          probe: list[float] | None = None,
                          ann: str = "auto",
                          n_probe: int | None = None,
                          lang: str | None = None,
                          warc_ts_min=None, warc_ts_max=None,
                          site: str | None = None,
                          neg_site: str | None = None) -> DataFrame:
        """Embedding-cosine top-k over the hashed doc_embeddings table
        (operators/hybrid.py) — the reference's actual ranking signal
        (``ProductRepository.java:72``: ``1 - (embedding <=> ?)``),
        with the hashing featurizer standing in for the model.

        ``ann`` selects the plan (the reference's default accelerator is
        ivfflat, ``data-pipeline/database.py:47-54``; exact scan is its
        seqscan fallback):

        - ``"auto"`` (default): serve from the persisted IVF index when
          one exists and matches the current embeddings table
          (``IndexBuilder.build_ann``), else the exact scan. The serve
          shape at 10^12 docs: the probe reads only the ``n_probe``
          nearest lists' partitions (partition-pruned ``list_id``
          literals — plan-asserted in tests), cosine stays a pure JVM
          fold, no shuffle, no full-table scan per query.
        - ``"ivf"``: require the index (raise if missing/stale).
        - ``"exact"``: the O(n) two-column brute scan — the explicit
          exact mode and the recall oracle.

        ``n_probe`` defaults to ``round(sqrt(n_lists))``;
        ``n_probe=n_lists`` scans every list and reproduces the exact
        ranking (pinned by test). Zero-norm docs (empty field) carry no
        signal and are excluded via a CASE WHEN guard on BOTH paths —
        under ANSI SQL (Spark 4 default) an unguarded 0/0 is a runtime
        error, not NaN.

        ``probe``: optional pre-embedded query vector — callers holding a
        trained model (e.g. the PPMI-SVD word vectors, X109:
        ``embed_train.embed_query_trained``) pass the probe their model
        produces, so the scan/cosine/top-k plan serves ANY embedding the
        doc_embeddings table was built with; default is the hashed
        featurizer matching the default ``build_embeddings``.

        ``lang``/``warc_ts_*``/``site``/``neg_site``: structured
        PRE-filters (the reference's filtered vector query —
        ``WHERE ... ORDER BY embedding <=> ?`` — with Qdrant/pgvector
        pre-filter semantics): the doc_meta survivor set semi-joins the
        scanned vectors BEFORE ranking, so the result is the exact top-k
        OF THE FILTERED SET within the scanned lists. On the IVF path a
        very selective filter can empty the probed lists — raise
        ``n_probe`` with selectivity (``n_probe=n_lists`` ⇒ exact
        filtered scan), the same trade ``IVFIndex.search`` documents.
        """
        from ..operators.hybrid import embed_query_tokens

        if ann not in ("auto", "ivf", "exact"):
            raise ValueError(f"unknown ann mode {ann!r} — one of "
                             "'auto', 'ivf', 'exact'")
        cfg = self.cfg
        k = min(k or 10, cfg.max_k + cfg.max_offset)
        dim = self._embedding_dim()
        toks = tokenize(query, cfg.max_token_len, cfg.min_token_len,
                        cfg.analyzer)
        if probe is None:
            probe = embed_query_tokens(toks, dim) if dim else []
        if not any(probe):
            return self._empty("doc_id long, cosine double")
        allowed = None
        if any(x is not None for x in (lang, warc_ts_min, warc_ts_max,
                                       site, neg_site)):
            allowed = self._apply_meta_filters(
                self.store.read(f"doc_meta{self._sfx()}"),
                lang, warc_ts_min, warc_ts_max,
                site=site, neg_site=neg_site).select("doc_id")
        ivf = (self._ann_ivf(require_provenance=(ann == "auto"))
               if ann != "exact" else None)
        if ann == "ivf" and ivf is None:
            raise ValueError(
                "ann='ivf' but no current persisted IVF index over "
                f"doc_embeddings{self._sfx()} — run "
                "IndexBuilder.build_ann() (a stale index from before an "
                "embeddings rebuild does not count)")
        if ivf is not None:
            return self._ivf_top_k_df(ivf, probe, k, n_probe,
                                      allowed=allowed)
        e = (self.store.read(f"doc_embeddings{self._sfx()}")
             .select("doc_id", F.col("emb").cast("array<double>")
                     .alias("v")))
        if allowed is not None:
            e = e.join(allowed, "doc_id", "semi")
        cos = self._cosine_expr(probe)
        return (e.select("doc_id", cos.alias("cosine"))
                .filter(F.col("cosine").isNotNull())
                .orderBy(F.desc("cosine"), F.asc("doc_id")).limit(k))

    def _ivf_top_k_df(self, ivf, probe: list[float], k: int,
                      n_probe: int | None,
                      allowed: DataFrame | None = None) -> DataFrame:
        """Partition-pruned IVF probe: nearest ``n_probe`` centroids on
        the driver (n_lists×dim numpy — microseconds), then ONE scan of
        those lists' partitions with the same guarded JVM cosine as the
        exact path (identical floats ⇒ at ``n_probe=n_lists`` the result
        is bit-equal to brute force). The stored ``v`` column is already
        ``array<double>`` (IVFIndex.build casts on the way in)."""
        import numpy as _np

        cent, assign_tbl = ivf
        n_lists = int(cent.shape[0])
        if n_probe is not None and n_probe < 1:
            # ADVICE r4: 0 probed lists would yield silently empty
            # results — refuse rather than "no matches"
            raise ValueError(f"n_probe must be >= 1, got {n_probe}")
        np_eff = min(n_probe if n_probe is not None
                     else max(1, int(round(_math.sqrt(n_lists)))), n_lists)
        p = _np.asarray(probe, dtype=_np.float64)
        nrm = float(_np.linalg.norm(p))
        pu = p / nrm if nrm > 0 else p
        d2 = ((cent - pu) ** 2).sum(axis=1)
        probe_lists = [int(j) for j in
                       _np.argsort(d2, kind="stable")[:np_eff]]
        cand = (self.store.read(assign_tbl)
                .filter(F.col("list_id").isin(probe_lists))
                .select("doc_id", "v"))
        if allowed is not None:
            # pre-filter BEFORE ranking (Qdrant/Weaviate semantics): no
            # result slot is wasted on ineligible rows
            cand = cand.join(allowed, "doc_id", "semi")
        cos = self._cosine_expr(probe)
        return (cand.select("doc_id", cos.alias("cosine"))
                .filter(F.col("cosine").isNotNull())
                .orderBy(F.desc("cosine"), F.asc("doc_id")).limit(k))

    def rocchio_probe(self, query: str, fb_docs: int = 5,
                      alpha: float = 1.0, beta: float = 0.75,
                      gamma: float = 0.0, nonrel_docs: int = 0,
                      probe: list[float] | None = None) -> list[float]:
        """Rocchio relevance feedback in embedding space (X114; Rocchio
        1971, the SMART formulation — public): move the probe toward the
        centroid of the pseudo-relevant top-``fb_docs`` and (optionally,
        ``gamma>0``) away from the centroid of the ``nonrel_docs``
        BOTTOM of the feedback window —
        ``q' = α·q + β·mean(R) − γ·mean(NR)``. The semantic-space
        sibling of the term-space PRF expansion (X47).

        Cost shape: one cosine top-(fb+nonrel) job, then the feedback
        vectors are fetched with a bucket-pruned ``doc_id IN`` read
        (keys name their buckets — the get_docs discipline) and averaged
        on the driver: O(fb_docs·dim) floats, corpus-independent.
        """
        from ..textproc import doc_bucket

        cfg = self.cfg
        dim = self._embedding_dim()
        if dim == 0:
            raise ValueError("no doc_embeddings table — build embeddings "
                             "before Rocchio feedback")
        if probe is None:
            from ..operators.hybrid import embed_query_tokens
            toks = tokenize(query, cfg.max_token_len, cfg.min_token_len,
                            cfg.analyzer)
            probe = embed_query_tokens(toks, dim)
        if not any(probe):
            return list(probe)
        window = int(fb_docs) + (int(nonrel_docs) if gamma > 0.0 else 0)
        ranked = self.semantic_top_k_df(query, k=window,
                                        probe=probe).collect()
        rel_ids = [int(r["doc_id"]) for r in ranked[:fb_docs]]
        nr_ids = ([int(r["doc_id"]) for r in ranked[fb_docs:]]
                  if gamma > 0.0 else [])
        ids = rel_ids + nr_ids
        if not ids:
            return list(probe)
        buckets = sorted({doc_bucket(d, cfg.n_doc_buckets) for d in ids})
        vecs = {int(r["doc_id"]): r["emb"] for r in
                (self.store.read(f"doc_embeddings{self._sfx()}")
                 .filter(F.col("partition_id").isin(buckets))
                 .filter(F.col("doc_id").isin(ids))
                 .select("doc_id", "emb").collect())}
        import numpy as _np

        def _centroid(dids):
            vs = [_np.asarray(vecs[d], dtype=_np.float64) for d in dids
                  if d in vecs]
            return (sum(vs) / len(vs)) if vs else _np.zeros(dim)

        q = _np.asarray(probe, dtype=_np.float64)
        out = alpha * q + beta * _centroid(rel_ids)
        if gamma > 0.0 and nr_ids:
            out = out - gamma * _centroid(nr_ids)
        return [float(x) for x in out]

    def rocchio_top_k_df(self, query: str, k: int | None = None,
                         fb_docs: int = 5, alpha: float = 1.0,
                         beta: float = 0.75, gamma: float = 0.0,
                         nonrel_docs: int = 0,
                         probe: list[float] | None = None) -> DataFrame:
        """Semantic retrieval with one round of Rocchio feedback (X114):
        compute the moved probe, re-run the cosine top-k. Same plan as
        :meth:`semantic_top_k_df` — feedback only changes the probe
        literals, so Catalyst sees an identical shape."""
        moved = self.rocchio_probe(query, fb_docs=fb_docs, alpha=alpha,
                                   beta=beta, gamma=gamma,
                                   nonrel_docs=nonrel_docs, probe=probe)
        return self.semantic_top_k_df(query, k=k, probe=moved)

    def hybrid_top_k_df(self, query: str, k: int | None = None,
                        k_each: int | None = None, rrf_k: float = 60.0,
                        w_lex: float = 1.0, w_sem: float = 1.0,
                        ann: str = "auto",
                        n_probe: int | None = None,
                        probe: list[float] | None = None,
                        lang: str | None = None,
                        warc_ts_min=None, warc_ts_max=None,
                        site: str | None = None,
                        neg_site: str | None = None) -> DataFrame:
        """Hybrid retrieval: BM25 WAND ranks ⊕ embedding-cosine ranks via
        reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR'09).
        Returns (doc_id, rrf_score, lex_rank, sem_rank) — the per-path
        ranks ride along for explainability (NULL = not in that path's
        top ``k_each``). Rank-only arithmetic makes the fusion float-exact
        to reproduce; ties break on doc_id. ``w_sem=0`` degenerates to
        WAND order, ``w_lex=0`` to pure cosine order (tests pin both).

        ``ann``/``n_probe`` route the semantic leg (see
        :meth:`semantic_top_k_df`): with a persisted IVF index the leg
        reads only the probed lists' partitions instead of full-scanning
        ``doc_embeddings`` per query — the 10^12-doc serve shape.
        ``probe`` pre-embeds the query for the semantic leg — the hook
        for injected encoders (``operators/neural.encode_query``), so a
        neural-embedded index fuses with BM25 through the same plan.
        Structured filters (``lang``/``warc_ts_*``/``site``/``neg_site``)
        apply to BOTH legs — the lexical leg's WAND survivor set and
        the semantic leg's pre-filter semi-join — so fusion only ever
        sees eligible docs."""
        from ..operators.hybrid import rrf_fused_df

        cfg = self.cfg
        k = min(k or 10, cfg.max_k + cfg.max_offset)
        k_each = k_each or 2 * k
        ranked = []
        if w_lex:
            ranked.append((self.wand_top_k_df(
                query, k=k_each, lang=lang, warc_ts_min=warc_ts_min,
                warc_ts_max=warc_ts_max, site=site, neg_site=neg_site)
                .select("doc_id", "score"), "score", w_lex))
        if w_sem:
            sem = self.semantic_top_k_df(query, k=k_each, ann=ann,
                                         n_probe=n_probe, probe=probe,
                                         lang=lang,
                                         warc_ts_min=warc_ts_min,
                                         warc_ts_max=warc_ts_max,
                                         site=site, neg_site=neg_site)
            if "cosine" in sem.columns:
                ranked.append((sem, "cosine", w_sem))
        if not ranked:
            raise ValueError("hybrid_top_k_df needs w_lex or w_sem != 0")
        return rrf_fused_df(ranked, k=k, rrf_k=rrf_k)

    def hybrid_top_k(self, query: str, k: int = 10, **kw
                     ) -> list[tuple[int, float]]:
        rows = self.hybrid_top_k_df(query, k=k, **kw).collect()
        return [(int(r["doc_id"]), float(r["rrf_score"])) for r in rows]

    def _cosine_expr(self, probe: list[float]):
        """Cosine of a ``v array<double>`` column against a Python probe
        — same float ops as operators/ann.cosine_col (oracle parity):
        dot / (row_norm * probe_norm), probe norm a Python constant;
        zero-norm rows yield NULL (ANSI-safe, no 0/0)."""
        import math as _math

        from ..operators.ann import _dot, _norm

        p = F.array(*[F.lit(float(x)) for x in probe])
        pnorm = _math.sqrt(sum(float(x) * float(x) for x in probe)) or 1.0
        nrm = _norm(F.col("v"))
        return F.when(nrm > 0.0,
                      _dot(F.col("v"), p) / (nrm * F.lit(pnorm)))

    def rescore_top_k_df(self, query: str, k: int | None = None,
                         window: int | None = None,
                         query_weight: float = 1.0,
                         rescore_weight: float = 1.0) -> DataFrame:
        """Elasticsearch rescore-API parity: retrieve the BM25 WAND
        top-``window`` (default 5k), then re-rank THAT WINDOW by
        ``query_weight * bm25 + rescore_weight * cosine(query, doc)``
        and return the top-k of the combined score as
        (doc_id, score, bm25, cosine).

        Scale shape: only the window is rescored — the embedding table
        read prunes to the hits' doc-range buckets (both tables share
        the ``partition_id`` layout) and joins ≤ window rows, so the
        rescore cost is O(window), independent of corpus size. Docs
        whose embedding has zero norm (empty field) contribute cosine 0
        to the combination (ES's missing-rescore behavior); window
        membership itself is the documented recall trade — a doc
        outside the BM25 top-window can never be rescued, which is the
        rescore API's contract too."""
        from ..operators.hybrid import embed_query_tokens

        cfg = self.cfg
        k = min(k or cfg.default_k, cfg.max_k + cfg.max_offset)
        window = window or 5 * k
        top = self._query_hits(query, k=window)
        hits = self.spark.createDataFrame(top).select(
            "partition_id", "doc_id", F.col("score").alias("bm25"))
        dim = self._embedding_dim()
        toks = tokenize(query, cfg.max_token_len, cfg.min_token_len,
                        cfg.analyzer)
        probe = embed_query_tokens(toks, dim) if dim else []
        if not any(probe):
            # no semantic signal: rescore degenerates to scaled BM25
            return (hits.select(
                "doc_id",
                (F.lit(float(query_weight)) * F.col("bm25"))
                .alias("score"), "bm25",
                F.lit(None).cast("double").alias("cosine"))
                .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))
        e = self._in_hit_buckets(
            self.store.read(f"doc_embeddings{self._sfx()}"), top).select(
            "doc_id", F.col("emb").cast("array<double>").alias("v"))
        joined = (hits.join(e, "doc_id", "left")
                  .withColumn("cosine", self._cosine_expr(probe)))
        combined = (F.lit(float(query_weight)) * F.col("bm25")
                    + F.lit(float(rescore_weight))
                    * F.coalesce(F.col("cosine"), F.lit(0.0)))
        return (joined.select("doc_id", combined.alias("score"),
                              "bm25", "cosine")
                .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))

    def rescore_top_k(self, query: str, k: int = 10, **kw
                      ) -> list[tuple[int, float]]:
        rows = self.rescore_top_k_df(query, k=k, **kw).collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    def approx_count(self, query: str, min_score: float = 0.0,
                     lang: str | None = None, warc_ts_min=None,
                     warc_ts_max=None,
                     sample_buckets: list[int] | None = None,
                     site: str | None = None,
                     neg_site: str | None = None) -> int:
        """Sampled pre-limit candidate count (reference Q10,
        ``ProductRepository.java:95-117``) — the middle ground between
        ``count_mode="exact"`` (scores EVERY candidate: O(Σ postings of
        the query terms), priced honestly in docs/SCALE.md) and
        ``"none"`` (O(1), totalCount = page size).

        Doc ids are uniform hashes, so doc-range buckets are a uniform
        random partition of the corpus: counting candidates in S of the P
        buckets and scaling by P/S is an unbiased estimate with relative
        error ~ 1/sqrt(sampled candidates). Cost is S/P of the exact
        count's decode+score work, and both scans (postings slice,
        doc_meta) prune to the sampled buckets. ``sample_buckets=None``
        samples the first quarter (≥1) of the buckets; passing all
        buckets degenerates to the exact count.
        """
        P = self.cfg.n_doc_buckets
        sample = (list(range(max(1, P // 4)))
                  if sample_buckets is None else list(sample_buckets))
        if min_score > 0.0:
            cand = self.scores_df(query, buckets=sample).filter(
                F.col("score") >= F.lit(min_score))
        else:
            # No threshold ⇒ the count never needs scores: decode ONLY the
            # doc-id stream (one varbyte stream instead of three, no BM25
            # pipeline, parquet reads a single binary column) and count
            # distinct candidates. Same estimate, ~3x less decode work.
            cand = self.candidate_ids_df(query, buckets=sample)
        if (lang is None and warc_ts_min is None and warc_ts_max is None
                and site is None and neg_site is None):
            n = cand.count()
        else:
            meta = (self.store.read(f"doc_meta{self._sfx()}")
                    .filter(F.col("partition_id")
                            .isin([int(b) for b in sample]))
                    .select("doc_id", "url", "lang", "warc_ts"))
            n = self._apply_meta_filters(cand.join(meta, "doc_id"), lang,
                                         warc_ts_min, warc_ts_max,
                                         site=site,
                                         neg_site=neg_site).count()
        return int(round(n * P / len(sample)))

    def candidate_ids_df(self, query: str,
                         buckets: list[int] | None = None) -> DataFrame:
        """Distinct doc_ids containing ≥1 query term — the scoreless
        candidate set. Prunes like :meth:`scores_df` (term-bucket
        partition pruning + ``term IN`` pushdown, optional doc-range
        bucket subset) but decodes only ``doc_ids_vb``."""
        cfg = self.cfg
        qterms = sorted(set(tokenize(query, cfg.max_token_len,
                                     cfg.min_token_len, cfg.analyzer)))
        if not qterms:
            return self._empty("doc_id long")
        scan = self._pruned_term_scan(f"postings{self._sfx()}", qterms)
        if buckets is not None:
            scan = scan.filter(
                F.col("partition_id").isin([int(b) for b in buckets]))
        return (scan.select("doc_ids_vb")
                .mapInPandas(decode_doc_ids, schema="doc_id long")
                .distinct())

    @staticmethod
    def _in_hit_buckets(table: DataFrame, hits: "pa.Table") -> DataFrame:
        """``table`` (laid out by doc-range bucket) cut to the buckets
        that hold ``hits`` (the driver's Arrow hits, :meth:`_query_hits`)
        with a literal ``partition_id IN (…)``: static partition pruning
        — dynamic partition pruning never fires on a hit frame built
        from a local table."""
        buckets = sorted(set(hits.column("partition_id").to_pylist()))
        return table.filter(F.col("partition_id").isin(buckets))

    def _hits_meta_df(self, hits: list[tuple]) -> DataFrame:
        """The doc_meta rows of ``hits`` ((partition_id, doc_id, …)
        tuples), read with literal ``partition_id IN (…)`` and
        ``doc_id IN (…)`` filters: doc_meta is laid out partitioned by
        doc-range bucket, so the scan is statically pruned to the hit
        buckets and its row groups skipped by doc id."""
        return (self.store.read(f"doc_meta{self._sfx()}")
                .filter(F.col("partition_id").isin(
                    sorted({h[0] for h in hits}))
                    & F.col("doc_id").isin(sorted({h[1] for h in hits})))
                .select("partition_id", "doc_id", "url", "warc_ts", "lang",
                        "doc_len"))

    def _hydrate_hits(self, top: "pa.Table") -> list:
        """Decorate hits — an Arrow table with (partition_id, doc_id,
        score) columns, e.g. :meth:`_query_hits` — with doc_meta columns:
        Rows of (doc_id, url, warc_ts, lang, doc_len, score) in
        (score DESC, doc_id ASC) order; a hit without a doc_meta row is
        dropped, as an inner join would.

        The doc_meta read carries the ≤ k+offset hits as literals
        (:meth:`_hits_meta_df`) and the join runs here: decorating ~100
        rows reads only the hit buckets, not the whole table (VERDICT r2
        #2; at 10^12 docs the unpruned form is a full metadata scan per
        query) — one JVM-only job, none without hits."""
        from pyspark.sql import Row

        hits = list(zip(*(top.column(c).to_pylist()
                          for c in ("partition_id", "doc_id", "score"))))
        if not hits:
            return []
        meta = {(r["partition_id"], r["doc_id"]): r
                for r in self._hits_meta_df(hits).collect()}
        row = Row("doc_id", "url", "warc_ts", "lang", "doc_len", "score")
        return [row(d, m["url"], m["warc_ts"], m["lang"], m["doc_len"], s)
                for p, d, s in sorted(hits, key=lambda h: (-h[2], h[1]))
                if (m := meta.get((p, d))) is not None]

    def _scored_filtered(self, query: str, min_score: float, lang,
                         warc_ts_min, warc_ts_max, site=None,
                         neg_site=None) -> DataFrame:
        """Exhaustive candidates joined to doc_meta with all structured
        filters applied — the exhaustive plan of :meth:`search`."""
        cand = self.scores_df(query)
        if min_score > 0.0:
            cand = cand.filter(F.col("score") >= F.lit(min_score))
        meta = self.store.read(f"doc_meta{self._sfx()}").select(
            "doc_id", "url", "warc_ts", "lang", "doc_len")
        return self._apply_meta_filters(cand.join(meta, "doc_id"), lang,
                                        warc_ts_min, warc_ts_max,
                                        site=site, neg_site=neg_site)

    # ------------------------------------------------------------------
    def _envelope(self, rows, total: int, k: int, query: str, t0: float,
                  highlight: bool, offset: int | None = None,
                  log_n: int | None = None, **extra) -> dict:
        """The one definition of the SearchResponse dict every serve
        surface returns (code-review r4: three hand-rolled copies had
        started drifting). ``offset=None`` omits the key (search_after's
        cursor envelope); ``log_n`` overrides the logged result count
        when it differs from ``total`` (approx/exact pre-limit counts)."""
        snips = (self.snippets([r["doc_id"] for r in rows], query)
                 if highlight else None)
        elapsed_ms = int((time.time() - t0) * 1000)
        self._log_search(query, total if log_n is None else log_n,
                         elapsed_ms)
        out = {
            "results": [
                (r.asDict() | {"snippet": snips.get(r["doc_id"], "")})
                if snips is not None else r.asDict() for r in rows],
            "total_count": total,
            "limit": k,
        }
        if offset is not None:
            out["offset"] = offset
        out.update(extra)
        out["query"] = query
        out["execution_time_ms"] = elapsed_ms
        return out

    def search(self, query: str, k: int | None = None, offset: int = 0,
               min_score: float = 0.0, lang: str | None = None,
               warc_ts_min=None, warc_ts_max=None,
               count_mode: str = "exact", mode: str = "wand",
               highlight: bool = False, site: str | None = None,
               neg_site: str | None = None,
               probe: list[float] | None = None,
               ann: str = "auto", n_probe: int | None = None) -> dict:
        """Materialized result envelope — the analogue of the reference's
        ``SearchResponse`` (``model/SearchResponse.java:5-12`` +
        ``SearchService.java:63-78``: results, totalCount, limit, offset,
        query, executionTimeMs).

        ``count_mode``: "exact" runs the pre-limit count (the reference's
        second COUNT statement, ``ProductRepository.java:95-117``); "none"
        mirrors its title-path shortcut (totalCount = page size,
        ``SearchService.java:110-111``) — the O(1) choice at web scale;
        "approx" estimates the pre-limit count from a bucket sample
        (:meth:`approx_count`) at a fraction of the exact count's cost
        while the page itself still comes from the WAND fast path.

        ``mode``: "wand" (default) allows the block-max WAND fast path;
        "exhaustive" forces the score-every-candidate plan even when the
        fast-path preconditions hold (timing/verification runs);
        "semantic" ranks by embedding cosine and "hybrid" by BM25⊕cosine
        RRF — the reference's vector serve shape in the same envelope
        (filters pre-applied, IVF-accelerated when an index exists, hits
        hydrated through the same bucket-pruned doc_meta read; totalCount
        follows count_mode="none" semantics — an exact pre-limit count
        over a vector ranking would be a corpus-wide threshold scan).

        ``probe``/``ann``/``n_probe`` apply to the vector modes only and
        pass straight through to :meth:`semantic_top_k_df` /
        :meth:`hybrid_top_k_df` — in particular ``probe`` is how an
        index built with an injected encoder (operators/neural.py) is
        served through this envelope: without it the default hashed
        query featurizer would be ranked against neural doc vectors
        (code-review r4).
        """
        t0 = time.time()
        cfg = self.cfg
        k = cfg.default_k if k is None else min(k, cfg.max_k)
        offset = min(max(offset, 0), cfg.max_offset)

        if mode in ("semantic", "hybrid"):
            from ..functions.udfs import doc_bucket_expr

            if mode == "hybrid":
                base = self.hybrid_top_k_df(
                    query, k=k + offset, lang=lang,
                    warc_ts_min=warc_ts_min, warc_ts_max=warc_ts_max,
                    site=site, neg_site=neg_site, probe=probe,
                    ann=ann, n_probe=n_probe).select(
                        "doc_id", F.col("rrf_score").alias("score"))
            else:
                base = self.semantic_top_k_df(
                    query, k=k + offset, lang=lang,
                    warc_ts_min=warc_ts_min, warc_ts_max=warc_ts_max,
                    site=site, neg_site=neg_site, probe=probe,
                    ann=ann, n_probe=n_probe).select(
                        "doc_id", F.col("cosine").alias("score"))
            if min_score > 0.0:
                base = base.filter(F.col("score") >= F.lit(min_score))
            # hits carry no partition_id (the vector tables key on
            # doc_id) — recompute the doc-range bucket so hydration gets
            # its bucket prune exactly like the WAND path
            top = base.select(
                doc_bucket_expr("doc_id", cfg.n_doc_buckets)
                .alias("partition_id"), "doc_id", "score").toArrow()
            rows = self._hydrate_hits(top)[offset:]
            return self._envelope(rows, len(rows), k, query, t0,
                                  highlight, offset=offset)

        if mode == "wand" and count_mode in ("none", "approx"):
            # fast path: filtered block-max WAND; totalCount = page size
            # (the reference's own title-path shortcut,
            # SearchService.java:110-111). A min_score threshold rides
            # the fast path too — it SEEDS WAND's theta, so pruning gets
            # stronger, not bypassed (reference Q2,
            # ProductRepository.java:74).
            top = self._query_hits(
                query, k=k + offset, lang=lang,
                warc_ts_min=warc_ts_min, warc_ts_max=warc_ts_max,
                min_score=min_score, site=site, neg_site=neg_site)
            rows = self._hydrate_hits(top)[offset:]
            if count_mode == "approx":
                total = max(self.approx_count(
                    query, min_score=min_score, lang=lang,
                    warc_ts_min=warc_ts_min, warc_ts_max=warc_ts_max,
                    site=site, neg_site=neg_site),
                    len(rows))
            else:
                total = len(rows)
            return self._envelope(rows, total, k, query, t0, highlight,
                                  offset=offset, log_n=len(rows))

        out = self._scored_filtered(query, min_score, lang,
                                    warc_ts_min, warc_ts_max,
                                    site=site, neg_site=neg_site)

        out = out.cache()
        try:
            rows = (out.orderBy(F.desc("score"), F.asc("doc_id"))
                    .limit(k + offset).collect())[offset:]
            # the exhaustive plan has already scored every candidate (and
            # cached them), so the exact pre-limit count is one cheap
            # cached count — "approx" is honored with the exact value
            # rather than silently degrading to the page size
            total = (out.count() if count_mode in ("exact", "approx")
                     else len(rows))
        finally:
            out.unpersist()
        return self._envelope(rows, total, k, query, t0, highlight,
                              offset=offset)

    def search_after(self, query: str, k: int | None = None,
                     cursor: tuple[float, int] | None = None,
                     min_score: float = 0.0, lang: str | None = None,
                     warc_ts_min=None, warc_ts_max=None,
                     highlight: bool = False) -> dict:
        """Keyset ("search_after") pagination — the deep-paging path OFFSET
        can't serve at web scale. The reference paginates by LIMIT/OFFSET
        (``ProductRepository.java:81``), which materializes and discards
        ``offset`` rows per page — page 10,000 costs 10,000× page 1 and
        ``max_offset`` exists purely to cap that. Here the client passes
        the previous page's ``next_cursor`` ``(score, doc_id)`` back and
        the WAND kernel admits only docs strictly after it in
        (score DESC, doc_id ASC) order: every page costs the same one
        WAND job with a k-deep heap, at any depth. Cursor equality on the
        score is sound because this engine's scores are bit-reproducible.

        Returns the :meth:`search` envelope (count_mode="none" semantics)
        plus ``next_cursor`` — ``None`` once the result set is exhausted.
        """
        t0 = time.time()
        cfg = self.cfg
        k = cfg.default_k if k is None else min(k, cfg.max_k)
        top = self._query_hits(
            query, k=k, lang=lang, warc_ts_min=warc_ts_min,
            warc_ts_max=warc_ts_max, min_score=min_score,
            after=(float(cursor[0]), int(cursor[1])) if cursor else None)
        rows = self._hydrate_hits(top)
        return self._envelope(
            rows, len(rows), k, query, t0, highlight,
            next_cursor=((float(rows[-1]["score"]),
                          int(rows[-1]["doc_id"]))
                         if len(rows) == k else None))

    def _champions_current(self) -> bool:
        """May the champion table (plans/champions.py) be trusted for THIS
        index snapshot? Mirrors ``IndexBuilder._postings_current``: the
        committed fingerprint must chain on the CURRENT postings and
        corpus_stats data_uuids under this config — a merge, delete, or
        layout migration that rebuilt postings without re-running
        ``build_champions`` leaves a stale table whose partial scores
        could EXCEED the new true scores and over-prune, so staleness
        falls back to the unseeded (still exact) path."""
        from ..lineage import stage_fingerprint

        sfx = self._sfx()
        meta = self.store.table_meta(f"champions{sfx}") or {}
        if not meta:
            return False
        expected = stage_fingerprint(
            f"champions{sfx}", self.cfg.fingerprint() + f"/{self.field}",
            [(self.store.table_meta(f"postings{sfx}") or {})
             .get("data_uuid", ""),
             (self.store.table_meta(f"corpus_stats{sfx}") or {})
             .get("data_uuid", "")])
        return meta.get("fingerprint", "") == expected

    def _champion_partials(self, qterms: list[str]) -> dict[int, float]:
        """doc_id → lower-bound partial score over the query terms'
        champion rows: ONE tiny pruned scan (≤ |q|·m rows; term_bucket
        partition pruning + ``term IN`` pushdown, df rides along via a
        broadcast join of the identically-pruned term_stats scan)."""
        from .champions import partial_scores

        sfx = self._sfx()
        champs = self._pruned_term_scan(f"champions{sfx}", qterms).select(
            "term", "doc_id", "tf", "dl")
        dfs = self._pruned_term_scan(f"term_stats{sfx}", qterms).select(
            "term", "df")
        rows = champs.join(F.broadcast(dfs), "term").collect()
        stats = self.corpus_stats()
        return partial_scores(
            [(r["term"], r["doc_id"], r["tf"], r["dl"], r["df"])
             for r in rows],
            stats["n_docs"], stats["avg_doc_len"],
            float(self.cfg.k1), float(self.cfg.b))

    def champion_theta(self, query: str, k: int) -> float:
        """Exact WAND theta seed from champion lists: the k-th best
        champion partial score, or 0.0 (no seeding) when the table is
        missing/stale or covers fewer than k docs. Since ≥ k docs truly
        score at or above the returned value, passing it as ``min_score``
        keeps WAND exact while pruning from the first candidate — the
        cold-heap ramp a 10^12-doc index cannot afford."""
        from .champions import kth_best

        cfg = self.cfg
        qterms = sorted(set(tokenize(query, cfg.max_token_len,
                                     cfg.min_token_len, cfg.analyzer)))
        if not qterms or k <= 0 or not self._champions_current():
            return 0.0
        return kth_best(self._champion_partials(qterms), k)

    def impact_top_k(self, query: str, k: int = 10
                     ) -> list[tuple[int, float]]:
        """APPROXIMATE top-k from champion lists alone — one pruned scan
        of ≤ |q|·m rows, no posting-list traversal (Anh & Moffat
        impact-ordered evaluation). Scores are per-doc lower-bound
        partials (terms the doc matches but isn't a champion of are not
        counted); with ``champions_m`` ≥ the longest posting list the
        result is bit-identical to the exact engine (pinned in tests).
        Raises on a missing/stale champion table — approximate answers
        from a superseded index are refused, not silently served."""
        import heapq as _heapq

        cfg = self.cfg
        k = min(k, cfg.max_k)
        qterms = sorted(set(tokenize(query, cfg.max_token_len,
                                     cfg.min_token_len, cfg.analyzer)))
        if not qterms or k <= 0:
            return []
        if not self._champions_current():
            raise ValueError(
                "champions table missing or stale — run "
                "IndexBuilder.build_champions() after the index build")
        partials = self._champion_partials(qterms)
        return _heapq.nsmallest(k, partials.items(),
                                key=lambda kv: (-kv[1], kv[0]))

    def top_k(self, query: str, k: int = 10,
              mode: str = "wand",
              theta_bootstrap: bool = False) -> list[tuple[int, float]]:
        """Bare top-k. ``mode="wand"`` (default) runs block-max WAND;
        ``mode="exhaustive"`` scores every candidate (correctness baseline —
        the two must be rank-identical). ``theta_bootstrap`` seeds the WAND
        threshold from champion lists (:meth:`champion_theta`) — exact,
        strictly stronger pruning, at the cost of one extra tiny job.

        ``mode="wand"`` runs ONE Spark job (the pruned postings collect of
        :meth:`_driver_wand`) and no Python task, and builds no
        DataFrame of its result (pinned in ``tests/test_plan_shapes.py``).
        """
        cfg = self.cfg
        k = min(k, cfg.max_k)  # page-size cap, both modes alike
        if mode == "wand":
            seed = (self.champion_theta(query, k)
                    if theta_bootstrap else 0.0)
            terms = sorted(set(tokenize(query, cfg.max_token_len,
                                        cfg.min_token_len, cfg.analyzer)))
            top = self._driver_wand(terms, k, min_score=seed)
            return list(zip(top.column("doc_id").to_pylist(),
                            top.column("score").to_pylist()))
        # genuinely exhaustive: score every candidate, then top-k
        rows = (self.scores_df(query)
                .orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
                .collect())
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]
