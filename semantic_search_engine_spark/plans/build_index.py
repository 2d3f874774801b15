"""Batch inverted-index build pipeline (SURVEY.md §2.2 E1–E9, E13).

One lazy DataFrame DAG per stage, checkpoint-committed through the
TableStore — the Spark restatement of the reference's ingest pipeline
(``data-pipeline/data_ingestion.py:279-308``: download → parse → featurize
→ upsert, with Postgres building GIN/ivfflat indexes per insert).

Stages (each resumable; lineage row per stage × partition):

  doc_features   scan documents → resolve/extract (pandas UDF) → tokenize
                 to per-doc tf map (pandas UDF) → stable doc_id + range
                 bucket (JVM exprs) → validity filter + dedup by url.
  doc_meta       column-pruned projection of doc_features (no tf map).
  corpus_stats   N, avg doc len, total tokens — pure Spark agg (E6).
  postings       explode tf maps → repartition by (term, doc-bucket) →
                 sort → streaming block encoder (mapInPandas, O(block)
                 memory) → delta+varbyte blocks with block-max metadata.
  term_stats     df/cf per term — two-level merge over block partials.

Skew strategy (north_rule "head-term skew handled explicitly"): posting
groups are keyed by (term, partition_id) where partition_id is a *range
bucket of the doc-id space* — a head term (stopword) with 10^11 postings is
split across all P buckets, so no shuffle group exceeds ~corpus/P postings,
while per-bucket lists concatenated in bucket order remain globally
doc_id-sorted (what WAND and delta encoding need). The term-level merge
(term_stats, block counts) then aggregates P small partial rows per term —
the classic salt → partial → final-merge shape, with the salt chosen to be
*order-preserving* instead of random.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions.udfs import (
    doc_bucket_expr,
    doc_id_expr,
    make_extract_features_udf,
    make_term_freqs_udf,
    term_bucket_expr,
)
from ..functions.varbyte import encode_blocks
from ..lineage import StageRunner
from ..operators.dedup import build_drop_ledger
from ..sources.store import TableStore

POSTINGS_SCHEMA = (
    "term string, partition_id int, block_id int, n_postings int, "
    "first_doc_id long, last_doc_id long, doc_ids_vb binary, "
    "tfs_vb binary, dls_vb binary, block_max_tf_norm double, cf_block long"
)
POSTINGS_COLS = [c.rsplit(" ", 1)[0] for c in POSTINGS_SCHEMA.split(", ")]

_ARROW_BATCH_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"
#: Arrow batch sizing is a PER-STAGE property of row width, so the engine
#: sets it around each Python stage instead of inheriting one global
#: session value (bench.py historically set 512 globally for the ~45 KB
#: HTML extract rows — which then shredded the encoder stages, whose rows
#: are a few dozen bytes, into thousands of per-batch pandas round trips;
#: measured: the positions encode stage spent ~3/4 of its wall on batch
#: overhead at 512 rows/batch).
_EXTRACT_ARROW_BATCH = 512       # ~45 KB html+text rows ⇒ ~23 MB/batch
_ENCODE_ARROW_BATCH = 20_000     # tiny (term, ids, tf/positions) rows


def default_n_lists(n_docs: int, target_rows: int = 4000,
                    min_lists: int = 8, max_lists: int = 65536) -> int:
    """Default IVF list count for :meth:`IndexBuilder.build_ann`:
    ``clamp(round(N/target_rows), min_lists, min(round(sqrt(N)),
    max_lists))`` — FAISS guidance (lists of ~1-10k vectors) bounded
    above by the classic ``sqrt(N)``. The target-rows form keeps each
    probed list a real unit of work at small N (bare ``sqrt(N)`` gave
    316-vector lists at 100k docs, where per-query partition-listing
    overhead exceeded the scan it saved — VERDICT r4 #1/#3); ``sqrt(N)``
    takes over past ``N = target_rows²``; ``max_lists`` bounds the
    driver-resident centroid matrix and the k-means sample."""
    import math

    n = max(int(n_docs), 1)
    return max(min_lists, min(int(round(n / target_rows)) or 1,
                              int(round(math.sqrt(n))), max_lists))


@contextmanager
def _arrow_batch(spark: SparkSession, n: int):
    """Scoped override of the Arrow max-records-per-batch session conf:
    set for the stage action executed inside the block, restored after
    (other concurrently-running sessions' stages are unaffected — the
    conf is read per-query at execution start)."""
    old = spark.conf.get(_ARROW_BATCH_KEY, None)
    spark.conf.set(_ARROW_BATCH_KEY, str(n))
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(_ARROW_BATCH_KEY)
        else:
            spark.conf.set(_ARROW_BATCH_KEY, old)


def make_block_encoder(avgdl: float, k1: float, b: float, block_size: int):
    """Streaming encoder over a (term, partition_id, doc_id)-sorted stream.

    Runs as mapInPandas. Per Arrow batch, ALL groups are encoded in one
    vectorized pass (``encode_blocks_multi`` — whole-array delta/varbyte/
    reduceat; per-group Python loops would pay ~30 µs per tiny tail-term
    group). Groups may span batches: only the batch's last group keeps a
    carry (< block_size postings) plus a block-id base, so peak extra
    memory is O(block_size) regardless of posting-list length — head terms
    stay safe at web scale.
    """
    from ..functions.varbyte import encode_blocks_multi

    cols = ["term", "partition_id", "block_id", "n_postings",
            "first_doc_id", "last_doc_id", "doc_ids_vb", "tfs_vb",
            "dls_vb", "block_max_tf_norm", "cf_block"]

    def encode_stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur_key: tuple | None = None   # key of the carried (last) group
        block_base = 0                 # blocks already emitted for cur_key
        carry_ids = np.zeros(0, dtype=np.int64)
        carry_tfs = np.zeros(0, dtype=np.int64)
        carry_dls = np.zeros(0, dtype=np.int64)

        def emit(keys, gs, ids, tfs, dls, bases, out_rows):
            """Encode complete data for the given groups; bases[i] = block
            id offset of group i."""
            bg, rows = encode_blocks_multi(gs, ids, tfs, dls,
                                           avgdl, k1, b, block_size)
            for gi, row in zip(bg, rows):
                term, pid = keys[gi]
                out_rows.append((term, pid, row[0] + bases[gi]) + row[1:])

        for pdf in batches:
            if len(pdf) == 0:
                continue
            terms = pdf["term"].to_numpy()
            pids = pdf["partition_id"].to_numpy()
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            tfs = pdf["tf"].to_numpy(dtype=np.int64)
            dls = pdf["dl"].to_numpy(dtype=np.int64)
            out_rows: list = []

            change = np.ones(len(pdf), dtype=bool)
            change[1:] = (terms[1:] != terms[:-1]) | (pids[1:] != pids[:-1])
            starts = np.flatnonzero(change)
            keys = [(terms[s], int(pids[s])) for s in starts]

            first_key = keys[0]
            if cur_key is not None and first_key != cur_key:
                # carried group ended exactly at the batch boundary
                if carry_ids.size:
                    emit([cur_key], np.array([0]), carry_ids, carry_tfs,
                         carry_dls, [block_base], out_rows)
                cur_key, block_base = None, 0
                carry_ids = carry_tfs = carry_dls = np.zeros(0, np.int64)

            bases = [0] * len(keys)
            if cur_key is not None:
                # prepend the carry to its continuing group
                ids = np.concatenate([carry_ids, ids])
                tfs = np.concatenate([carry_tfs, tfs])
                dls = np.concatenate([carry_dls, dls])
                starts = np.concatenate(
                    ([0], starts[1:] + carry_ids.size))
                bases[0] = block_base

            # Split off the last group's tail as the new carry. The carry
            # keeps the partial tail AND the last full block: tail
            # compaction merges a sub-block_size tail into the preceding
            # full block, and until the group ends we cannot know whether
            # the currently-last full block is that absorber. Carry is
            # therefore < 2*block_size postings — still O(block) memory.
            last_s = int(starts[-1])
            last_len = len(ids) - last_s
            if last_len < block_size:
                n_emit = 0
            else:
                rem = last_len % block_size
                n_emit = last_len - (rem + block_size if rem
                                     else block_size)
            cut = last_s + n_emit
            cur_key = keys[-1]
            block_base = bases[-1] + n_emit // block_size
            carry_ids = ids[cut:].copy()
            carry_tfs = tfs[cut:].copy()
            carry_dls = dls[cut:].copy()
            if cut:
                sel = starts < cut
                emit(keys[:int(sel.sum())], starts[sel],
                     ids[:cut], tfs[:cut], dls[:cut],
                     bases, out_rows)
            if out_rows:
                yield pd.DataFrame(out_rows, columns=cols)

        if cur_key is not None and carry_ids.size:
            final_rows: list = []
            emit([cur_key], np.array([0]), carry_ids, carry_tfs, carry_dls,
                 [block_base], final_rows)
            yield pd.DataFrame(final_rows, columns=cols)

    return encode_stream


def make_blockmax_refresh(avgdl: float, k1: float, b: float):
    """mapInPandas body: recompute ``block_max_tf_norm`` of existing block
    rows under a NEW corpus avgdl, without touching the posting payloads.

    Needed by incremental maintenance: a merge changes avg_doc_len, and
    the stored block maxima bake avgdl into tf_norm — a grown avgdl makes
    old bounds too LOW, which would let block-max WAND prune true winners.
    Decoding only tfs_vb/dls_vb (not doc ids) and re-reducing the max
    yields bounds bit-identical to a from-scratch encode at the new avgdl.
    """
    from ..functions.varbyte import decode_varbyte, tf_norm

    def refresh(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if avgdl <= 0:
                yield pdf.assign(block_max_tf_norm=0.0)
                continue
            # one vectorized decode per batch: LEB128 is self-delimiting,
            # so the concatenated streams decode in one pass and
            # n_postings gives the per-block reduceat boundaries
            tfs = decode_varbyte(b"".join(bytes(x) for x in pdf["tfs_vb"]))
            dls = decode_varbyte(b"".join(bytes(x) for x in pdf["dls_vb"]))
            n = pdf["n_postings"].to_numpy(dtype=np.int64)
            starts = np.concatenate(([0], np.cumsum(n)[:-1]))
            bmax = np.maximum.reduceat(tf_norm(tfs, dls, avgdl, k1, b),
                                       starts)
            yield pdf.assign(block_max_tf_norm=bmax.astype(np.float64))

    return refresh


class IndexBuilder:
    """E1–E9 + E13. ``build()`` is idempotent and checkpoint-resumable."""

    def __init__(self, spark: SparkSession, store: TableStore,
                 cfg: EngineConfig = DEFAULT_CONFIG):
        self.spark = spark
        self.store = store
        self.cfg = cfg

    # ------------------------------------------------------------------
    def build(self, documents: DataFrame, field: str = "text",
              run_id: str | None = None,
              input_version: str = "static",
              positions: bool = False) -> StageRunner:
        """documents: (url, warc_ts, html, text, lang) — BASELINE input_hint.

        ``field`` selects the indexed field: "text" (body) or "title" — the
        per-field scoring variants of the reference
        (``ProductRepository.java:119-150``).

        ``input_version`` is the source-data identity folded into the first
        stage's checkpoint fingerprint (pass the Iceberg snapshot id of the
        ``documents`` table in production); with the default, a rerun over
        an unchanged source skips every stage, and data changes are
        propagated either by a new ``input_version`` or via
        :meth:`ingest_updates` (which mints a new table identity).

        ``positions`` (VERDICT r3 #3): build the positional index IN the
        same pass — the fused extract+tokenize UDF also emits ``pos_map``
        (kept-token positions per term) into ``doc_features``, and the
        positions table encodes from that committed column with NO second
        Python pass over raw text. The after-the-fact
        :meth:`build_positions` stays available for corpora indexed
        without the flag (it pays the re-tokenize exactly once, and any
        later maintenance reuses ``pos_map`` when present). The flag is
        folded into the doc_features checkpoint key: toggling it is a
        layout change and rebuilds stage 1, like any other layout knob.
        """
        cfg = self.cfg
        runner = StageRunner(self.store, cfg.fingerprint() + f"/{field}",
                             run_id=run_id)
        sfx = "" if field == "text" else f"_{field}"
        input_version = input_version + ("/positions" if positions else "")

        # -- stage 1: doc_features ------------------------------------------
        df_layout = ["partition_id"] if cfg.partition_doc_features else None
        if sfx and self.store.exists("doc_features"):
            # Single-pass dual-field build (VERDICT r2 #5): the committed
            # text-field doc_features already holds the extracted title
            # strings, so a secondary-field index derives from it by
            # re-tokenizing ONE short column — the corpus-wide extract UDF
            # (the most expensive stage by far) runs once per corpus, not
            # once per field. Fingerprint chains on the base table's
            # data_uuid: a merge into the text index cascades a rebuild
            # here too.
            with _arrow_batch(self.spark, _EXTRACT_ARROW_BATCH):
                runner.run(f"doc_features{sfx}", f"doc_features{sfx}",
                           ["doc_features"],
                           lambda: self._refield_doc_features(field,
                                                              positions),
                           partition_by=df_layout,
                           partition_col="partition_id",
                           n_partitions=cfg.n_doc_buckets,
                           extra_key="/positions" if positions else "")
        elif cfg.dedup != "none":
            # Content dedup at ingest (X60): extraction, the drop
            # decision, and the filtered corpus are SEPARATE resumable
            # stages, so re-tuning any dedup_* knob re-runs only the
            # (cheap) ledger + filter — doc_features_raw resume-skips and
            # the corpus-wide extract UDF never re-fires. The dedup_*
            # fields are in cfg.fingerprint(), so the raw stage must NOT
            # chain on them — its fingerprint uses the dedup-free config
            # hash (extraction output is dedup-independent).
            raw_fp = cfg.fingerprint_no_dedup() + f"/{field}"
            raw_runner = StageRunner(self.store, raw_fp,
                                     run_id=runner.run_id)
            with _arrow_batch(self.spark, _EXTRACT_ARROW_BATCH):
                raw_runner.run(f"doc_features_raw{sfx}",
                               f"doc_features_raw{sfx}", [],
                               lambda: self._doc_features_df(
                                   documents, field, positions),
                               partition_by=df_layout,
                               partition_col="partition_id",
                               n_partitions=cfg.n_doc_buckets,
                               extra_key=input_version)
            runner.metrics.extend(raw_runner.metrics)
            self._run_dedup_stages(runner, sfx)
        else:
            with _arrow_batch(self.spark, _EXTRACT_ARROW_BATCH):
                runner.run(f"doc_features{sfx}", f"doc_features{sfx}", [],
                           lambda: self._doc_features_df(documents, field,
                                                         positions),
                           partition_by=df_layout,
                           partition_col="partition_id",
                           n_partitions=cfg.n_doc_buckets,
                           extra_key=input_version)

        self._run_downstream(runner, sfx)
        if positions and not self.store.exists(f"positions{sfx}"):
            # first positions=True build: encode the positional index from
            # the pos_map column just committed (stage 4b handles every
            # later refresh; _positions_df's JVM fast path reads pos_map —
            # no text re-tokenization anywhere in this build)
            with _arrow_batch(self.spark, self._positions_batch(sfx)):
                runner.run(f"positions{sfx}", f"positions{sfx}",
                           [f"doc_features{sfx}"],
                           lambda: self._positions_df(sfx, field),
                           partition_by=["term_bucket"],
                           sort_within_partitions=["term", "partition_id",
                                                   "block_id"],
                           partition_col="partition_id",
                           n_partitions=cfg.n_doc_buckets)
        self._persist_config(sfx)
        runner.commit_lineage(self.spark)
        return runner

    # ------------------------------------------------------------------
    def _run_dedup_stages(self, runner: StageRunner, sfx: str) -> None:
        """The two dedup stages of the stage graph (X60), shared by
        build / ingest_updates / delete_docs: the drop ledger and the
        survivor-filtered doc_features. Assumes ``doc_features_raw{sfx}``
        is committed; both stages chain on its data identity, so any
        raw-table merge/delete re-derives them automatically while an
        unchanged raw resume-skips."""
        cfg = self.cfg
        df_layout = ["partition_id"] if cfg.partition_doc_features else None
        runner.run(
            f"dedup_drops{sfx}", f"dedup_drops{sfx}",
            [f"doc_features_raw{sfx}"],
            lambda: build_drop_ledger(
                self.store.read(f"doc_features_raw{sfx}"),
                cfg.dedup, shingle_size=cfg.dedup_shingle_size,
                n_hashes=cfg.dedup_n_hashes, bands=cfg.dedup_bands,
                threshold=cfg.dedup_threshold),
            partition_col="partition_id",
            n_partitions=cfg.n_doc_buckets)
        # Survivor filter: one anti-join keyed on doc_id. The ledger side
        # is the duplicate fraction of the corpus (not broadcastable at
        # web scale); the features side is the extracted ~2%-of-corpus
        # table — this exchange is the same order as the per-url dedup
        # exchange upstream and the only shuffle dedup adds to the
        # critical path.
        runner.run(
            f"doc_features{sfx}", f"doc_features{sfx}",
            [f"doc_features_raw{sfx}", f"dedup_drops{sfx}"],
            lambda: self.store.read(f"doc_features_raw{sfx}").join(
                self.store.read(f"dedup_drops{sfx}").select("doc_id"),
                "doc_id", "left_anti"),
            partition_by=df_layout,
            partition_col="partition_id",
            n_partitions=cfg.n_doc_buckets)

    # ------------------------------------------------------------------
    def _doc_features_df(self, documents: DataFrame,
                         field: str,
                         positions: bool = False) -> DataFrame:
        """The shared ingest transform (build stage 1 AND upsert path):
        extract → validity filter → deterministic per-url winner →
        stable ids → tf map → doc_len. With ``positions``, the same
        Arrow pass also emits ``pos_map`` (see build(positions=True))."""
        cfg = self.cfg
        indexed_col = "text" if field == "text" else "title"
        fused = make_extract_features_udf(cfg.prefer_provided_text,
                                          cfg.max_token_len,
                                          cfg.min_token_len,
                                          cfg.analyzer, indexed_col,
                                          with_positions=positions)
        # Width of the Python-UDF stage: the configured cap when set
        # (see EngineConfig.python_stage_parallelism), else the stage's
        # natural shuffle width.
        pyw = cfg.python_stage_parallelism or cfg.shuffle_partitions
        # Small-input guard: the fused extract+tokenize UDF is the most
        # expensive stage and its parallelism is bounded by the scan's
        # split count. A real web corpus arrives as thousands of files
        # (no-op here); a single small parquet file would otherwise
        # serialize extraction. Reducing a wide scan DOWN to the cap uses
        # coalesce — a narrow dependency, so the raw HTML (the fattest
        # column in the pipeline) never crosses a shuffle; widening a
        # too-narrow scan needs the real repartition.
        src = documents
        nparts = src.rdd.getNumPartitions()
        if nparts > pyw and cfg.python_stage_parallelism:
            src = src.coalesce(pyw)
        elif nparts < pyw:
            src = src.repartition(pyw)
        from pyspark.sql.window import Window
        # Deterministic duplicate-url winner (recrawls are normal in web
        # corpora): latest warc_ts, then greatest extracted-text sha — a
        # total order on content, so rebuilds are bit-reproducible. Same
        # rule in oracle.OracleIndex.build. The explicit repartition(n,
        # url) provides the window's hash distribution at a *fixed* width
        # (AQE would otherwise coalesce this exchange by byte size). All
        # Python ran upstream of this exchange, so the window + doc_len
        # stage is pure JVM and takes the full shuffle width.
        w = Window.partitionBy("url").orderBy(
            F.desc_nulls_last("warc_ts"), F.desc("extracted_sha256"))
        pos_cols = ([F.col("ex.pos_map").alias("pos_map")]
                    if positions else [])
        ex = (
            src
            .filter(F.col("url").isNotNull())
            .withColumn("ex", fused("text", "html"))
            .select("url", "warc_ts", "lang",
                    F.col("ex.title").alias("title"),
                    F.col("ex.text").alias("text"),
                    F.col("ex.extracted_sha256").alias("extracted_sha256"),
                    F.col("ex.tf_map").alias("tf_map"), *pos_cols)
            .filter(F.col("text").isNotNull())       # validity filter
            .repartition(cfg.shuffle_partitions, "url")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn")
            .withColumn("doc_id", doc_id_expr("url"))
            .withColumn("partition_id",
                        doc_bucket_expr("doc_id", cfg.n_doc_buckets))
        )
        # doc_len as a JVM aggregate over the map — no extra Python
        ex = ex.withColumn(
            "doc_len",
            F.coalesce(
                F.aggregate(F.map_values("tf_map"), F.lit(0),
                            lambda acc, x: acc + x),
                F.lit(0)))
        return ex.select("doc_id", "url", "warc_ts", "lang", "title",
                         "text", "extracted_sha256", "doc_len", "tf_map",
                         "partition_id",
                         *(["pos_map"] if positions else []))

    # ------------------------------------------------------------------
    def _refield_doc_features(self, field: str,
                              positions: bool = False) -> DataFrame:
        """doc_features for a secondary indexed field, derived from the
        committed text-field table: identical rows (extraction, validity,
        per-url dedup, ids, buckets all already applied — deterministic,
        so bit-identical to a from-scratch build of the same field),
        with only tf_map/doc_len recomputed over the ``field`` column.
        With ``positions``, ONE tokenize-positions pass produces
        ``pos_map`` and tf_map derives from it JVM-side
        (``transform_values(pos_map, size)``) — still a single Python
        pass over the column."""
        from ..functions.udfs import make_token_positions_udf

        src = self.store.read("doc_features")
        if "pos_map" in src.columns:
            src = src.drop("pos_map")
        if self.cfg.python_stage_parallelism:   # tokenize is a UDF stage
            src = src.repartition(self.cfg.python_stage_parallelism)
        src = src.drop("tf_map", "doc_len")
        if positions:
            pos_udf = make_token_positions_udf(self.cfg.max_token_len,
                                               self.cfg.min_token_len,
                                               self.cfg.analyzer)
            ex = (src.withColumn("pos_map", pos_udf(F.col(field)))
                  .withColumn("tf_map",
                              F.transform_values(
                                  "pos_map", lambda _k, v: F.size(v))))
        else:
            term_freqs = make_term_freqs_udf(self.cfg.max_token_len,
                                             self.cfg.min_token_len,
                                             self.cfg.analyzer)
            ex = src.withColumn("tf_map", term_freqs(F.col(field)))
        ex = ex.withColumn(
            "doc_len",
            F.coalesce(
                F.aggregate(F.map_values("tf_map"), F.lit(0),
                            lambda acc, x: acc + x),
                F.lit(0)))
        return ex.select("doc_id", "url", "warc_ts", "lang", "title",
                         "text", "extracted_sha256", "doc_len", "tf_map",
                         "partition_id",
                         *(["pos_map"] if positions else []))

    # ------------------------------------------------------------------
    def build_link_graph(self, documents: DataFrame,
                         run_id: str | None = None,
                         input_version: str = "static") -> StageRunner:
        """Stage the web link graph (X57) as a committed ``links`` table:
        one Arrow-batched extraction pass over the raw corpus html →
        (src_url, dst_url, anchor, nofollow).

        Shared upstream of :meth:`build_link_field` (anchor-text index)
        and :meth:`build_static_rank` (PageRank) — the edge list is the
        expensive artifact (≈50 links/page ⇒ bigger than the corpus row
        count at web scale), so it is extracted once and checkpointed,
        and both consumers resume-skip when it is unchanged.
        """
        cfg = self.cfg
        runner = StageRunner(self.store, cfg.fingerprint() + "/links",
                             run_id=run_id)

        def make_links() -> DataFrame:
            from ..operators.linkgraph import extract_links
            src = documents
            # same Python-UDF width policy as the extract stage: the
            # mapInPandas parallelism is bounded by the scan split count
            pyw = cfg.python_stage_parallelism or cfg.shuffle_partitions
            if cfg.python_stage_parallelism:
                if src.rdd.getNumPartitions() != pyw:
                    src = src.repartition(pyw)
            elif src.rdd.getNumPartitions() < pyw:
                src = src.repartition(pyw)
            return extract_links(src)

        runner.run("links", "links", [], make_links,
                   extra_key=input_version)
        runner.commit_lineage(self.spark)
        return runner

    # ------------------------------------------------------------------
    def build_link_field(self, documents: DataFrame,
                         run_id: str | None = None,
                         input_version: str = "static",
                         max_anchors: int = 32,
                         follow_only: bool = False) -> StageRunner:
        """Anchor-text field index (field name ``"anchor"``): the in-link
        anchor strings pointing AT each document, aggregated per url and
        indexed exactly like any other field — the classic web-ranking
        signal (anchor text describes the target better than the target
        describes itself) that plugs into :meth:`QueryEngine.weighted_top_k`
        as ``{"text": 1.0, "anchor": w}``.

        The reference scores only the document's own fields
        (``ProductRepository.java`` ts_rank over name/description); a web
        index needs the incoming-link field too. Requires the primary
        ``text`` index (doc identity — ids, buckets, validity — derives
        from its committed ``doc_features``; docs with no in-links index
        with an empty anchor field, doc_len 0, so the field's corpus
        stats cover the whole corpus like every other field's do).

        Plan shape: links extract is map-only (resume-shared via
        :meth:`build_link_graph`); the anchor aggregate is skew-bounded
        (per-dst cap before concat, see ``anchor_text_agg``); the join
        onto doc_features is |V|⋈|V| on url — one shuffle each side;
        downstream is the standard field pipeline (``_run_downstream``).
        """
        cfg = self.cfg
        if not self.store.exists("doc_features"):
            raise ValueError(
                "build the primary 'text' index first — the anchor field "
                "derives doc identity from its committed doc_features")
        links_runner = self.build_link_graph(documents, run_id=run_id,
                                             input_version=input_version)
        runner = StageRunner(self.store, cfg.fingerprint() + "/anchor",
                             run_id=run_id)
        df_layout = ["partition_id"] if cfg.partition_doc_features else None
        runner.run("doc_features_anchor", "doc_features_anchor",
                   ["doc_features", "links"],
                   lambda: self._anchor_doc_features(max_anchors,
                                                     follow_only),
                   partition_by=df_layout,
                   partition_col="partition_id",
                   n_partitions=cfg.n_doc_buckets,
                   extra_key=f"max_anchors={max_anchors}"
                             f"/follow_only={follow_only}")
        self._run_downstream(runner, "_anchor")
        self._persist_config("_anchor")
        runner.commit_lineage(self.spark)
        # surface the links stage in this build's report (its lineage row
        # was already committed by the link-graph runner — report only)
        runner.metrics[:0] = links_runner.metrics
        return runner

    def _anchor_doc_features(self, max_anchors: int,
                             follow_only: bool) -> DataFrame:
        """doc_features for the anchor field: committed text-field rows
        (ids/buckets/validity carried) left-joined with the per-target
        anchor aggregate; missing targets get the empty string (doc_len
        0). The wide ``text`` column is dropped — the anchor index never
        reads it — keeping the table narrow."""
        from ..operators.linkgraph import anchor_text_agg
        term_freqs = make_term_freqs_udf(self.cfg.max_token_len,
                                         self.cfg.min_token_len,
                                         self.cfg.analyzer)
        anchors = anchor_text_agg(self.store.read("links"),
                                  max_anchors=max_anchors,
                                  follow_only=follow_only)
        src = self.store.read("doc_features").drop("tf_map", "doc_len",
                                                   "text")
        ex = (src.join(anchors, "url", "left")
              .withColumn("anchor", F.coalesce(F.col("anchor_text"),
                                               F.lit("")))
              .drop("anchor_text"))
        if self.cfg.python_stage_parallelism:   # tokenize is a UDF stage
            ex = ex.repartition(self.cfg.python_stage_parallelism)
        ex = (ex.withColumn("tf_map", term_freqs(F.col("anchor")))
              .withColumn(
                  "doc_len",
                  F.coalesce(
                      F.aggregate(F.map_values("tf_map"), F.lit(0),
                                  lambda acc, x: acc + x),
                      F.lit(0))))
        return ex.select("doc_id", "url", "warc_ts", "lang", "title",
                         "anchor", "extracted_sha256", "doc_len", "tf_map",
                         "partition_id")

    # ------------------------------------------------------------------
    def build_static_rank(self, documents: DataFrame | None = None,
                          run_id: str | None = None,
                          input_version: str = "static",
                          damping: float = 0.85,
                          n_iter: int = 10) -> StageRunner:
        """PageRank over the committed ``links`` edge list → a
        ``static_rank`` table (url, rank, Σrank=1) that
        :meth:`QueryEngine.boosted_top_k` blends via ``static="pagerank"``
        — the persisted form of the X56/X57 static-rank story (compute
        the graph signal once per crawl, serve it from a table).

        Pass ``documents`` to (re)extract the edge list here; omit it to
        rank an already-staged graph. The iteration count and damping
        fold into the stage fingerprint, so re-ranking with new
        parameters rebuilds while an identical call resume-skips.
        """
        from ..operators.linkgraph import pagerank
        links_runner = None
        if documents is not None:
            links_runner = self.build_link_graph(
                documents, run_id=run_id, input_version=input_version)
        if not self.store.exists("links"):
            raise ValueError("no committed links table — pass documents "
                             "or run build_link_graph first")
        runner = StageRunner(self.store,
                             self.cfg.fingerprint() + "/static_rank",
                             run_id=run_id)
        runner.run("static_rank", "static_rank", ["links"],
                   lambda: pagerank(self.store.read("links"),
                                    damping=damping, n_iter=n_iter),
                   extra_key=f"damping={damping}/n_iter={n_iter}")
        runner.commit_lineage(self.spark)
        if links_runner is not None:
            # report-only merge; the links lineage row is already committed
            runner.metrics[:0] = links_runner.metrics
        return runner

    # ------------------------------------------------------------------
    def _postings_current(self, sfx: str, field: str) -> bool:
        """Is the committed postings snapshot exactly the index of the
        CURRENT (pre-merge) doc_features/corpus_stats under THIS config
        and engine format? Incremental carry is only sound then.

        Guards the crash window (code-review r2 #1): if a previous upsert
        committed its doc_features merge but died before the postings
        stage, the postings snapshot chains on an older uuid — carrying
        its buckets forward would permanently drop that upsert's docs.
        Same check rejects a config change (block_size etc.) or an
        ENGINE_FORMAT_VERSION bump, both folded into the fingerprint —
        any mismatch falls back to a full downstream rebuild.
        """
        from ..lineage import stage_fingerprint

        meta = self.store.table_meta(f"postings{sfx}") or {}
        if not meta:
            return False
        expected = stage_fingerprint(
            f"postings{sfx}", self.cfg.fingerprint() + f"/{field}",
            [(self.store.table_meta(f"doc_features{sfx}") or {})
             .get("data_uuid", ""),
             (self.store.table_meta(f"corpus_stats{sfx}") or {})
             .get("data_uuid", "")])
        return meta.get("fingerprint", "") == expected

    # ------------------------------------------------------------------
    def _run_downstream(self, runner: StageRunner, sfx: str,
                        changed_buckets: list[int] | None = None,
                        pos_changed_buckets: list[int] | None = None
                        ) -> None:
        """Stages 2-5: everything derived from doc_features. Shared by
        build() and ingest_updates() — fingerprints chain on the
        doc_features data_uuid, so they skip when it is unchanged and
        rebuild after a merge.

        ``changed_buckets``: doc-range buckets touched by an upsert. When
        given (incremental ingest), the postings stage re-encodes ONLY
        those buckets' slices from doc_features and carries every other
        bucket's blocks over from the previous snapshot byte-for-byte,
        with just their block-max metadata refreshed under the new corpus
        avgdl (see :func:`make_blockmax_refresh`). At web scale this
        replaces the full corpus-sized explode+shuffle+encode with
        |changed buckets|/P of it plus one index-sized metadata pass —
        the incremental-crawl maintenance path. Result is bit-identical
        to a full rebuild (pinned by test).
        """
        cfg = self.cfg

        # -- stage 2: doc_meta (column-pruned; parquet never reads tf_map) --
        # Partitioned by doc-range bucket: the fast query path hydrates
        # its ≤ k hits against this table via a broadcast join on
        # (partition_id, doc_id), and the partitioned layout lets dynamic
        # partition pruning restrict that scan to the hit buckets. The
        # repartition aligns write tasks with the layout (one file per
        # bucket instead of tasks x buckets small files).
        runner.run(
            f"doc_meta{sfx}", f"doc_meta{sfx}", [f"doc_features{sfx}"],
            lambda: self.store.read(f"doc_features{sfx}").select(
                "doc_id", "url", "warc_ts", "lang", "doc_len",
                "extracted_sha256", "partition_id")
            .repartition(cfg.n_doc_buckets, "partition_id"),
            partition_by=["partition_id"],
            partition_col="partition_id", n_partitions=cfg.n_doc_buckets)

        # -- stage 3: corpus_stats (E6 — pure aggregation) -------------------
        runner.run(
            f"corpus_stats{sfx}", f"corpus_stats{sfx}", [f"doc_meta{sfx}"],
            lambda: self.store.read(f"doc_meta{sfx}").agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.avg("doc_len").alias("avg_doc_len"),
                F.sum("doc_len").alias("total_tokens"),
                F.countDistinct("doc_id").alias("n_distinct_doc_ids")))
        cs = self.store.read(f"corpus_stats{sfx}").collect()[0]
        if cs["n_distinct_doc_ids"] != cs["n_docs"]:
            raise RuntimeError(
                "doc_id hash collision detected "
                f"({cs['n_docs']} urls → {cs['n_distinct_doc_ids']} ids); "
                "raise doc_id_bits")
        avgdl = float(cs["avg_doc_len"] or 0.0)

        # -- stage 4: postings (E5, E7, E8, E9) ------------------------------
        def build_postings() -> DataFrame:
            feats = self.store.read(f"doc_features{sfx}")
            incremental = (changed_buckets is not None
                           and self.store.exists(f"postings{sfx}"))
            if incremental:
                feats = feats.filter(
                    F.col("partition_id").isin(changed_buckets))
            pairs = (
                feats
                .select("partition_id", "doc_id",
                        F.col("doc_len").alias("dl"),
                        F.explode("tf_map").alias("term", "tf"))
            )
            # The block encoder runs at FULL shuffle width, exempt from
            # the python_stage_parallelism cap: that cap exists for the
            # long interpreter-bound text kernels (extract/tokenize),
            # while the encoder is a numpy stream over already-small
            # pairs — measured 2.5x FASTER at 32 than at 8 on the host
            # regime that caps text at 8 — and the (term, doc-bucket)
            # sort in this stage is JVM work that a narrow width would
            # throttle with it. Output is width-independent: groups are
            # keyed (term, partition_id) and each group hashes wholly
            # into one partition.
            shuffled = (
                pairs.repartition(cfg.shuffle_partitions,
                                  "term", "partition_id")
                .sortWithinPartitions("term", "partition_id", "doc_id")
            )
            encoder = make_block_encoder(avgdl, cfg.k1, cfg.b,
                                         cfg.block_size)
            blocks = shuffled.mapInPandas(encoder, schema=POSTINGS_SCHEMA)
            if incremental:
                # carry every untouched bucket's blocks from the previous
                # snapshot (payload bytes unchanged; block-max refreshed
                # for the post-merge avgdl). store.write materializes
                # before the manifest flips, so this reads the OLD
                # snapshot — the same copy-on-write pattern as
                # merge_by_key.
                carried = (self.store.read(f"postings{sfx}")
                           .filter(~F.col("partition_id")
                                   .isin(changed_buckets))
                           .select(*POSTINGS_COLS)
                           .mapInPandas(
                               make_blockmax_refresh(avgdl, cfg.k1,
                                                     cfg.b),
                               schema=POSTINGS_SCHEMA))
                blocks = blocks.unionByName(carried)
            blocks = blocks.withColumn(
                "term_bucket", term_bucket_expr("term", cfg.n_term_buckets))
            # Align output partitions with the table layout before the
            # partitioned write: the encode shuffle is keyed fine-grained on
            # (term, doc-bucket) for compute balance, so without this every
            # write task would emit a file into every term_bucket directory
            # (tasks × buckets small files). The blocks are varbyte-
            # compressed — this extra exchange moves ~bytes-of-index, not
            # bytes-of-corpus.
            return blocks.repartition(cfg.n_term_buckets, "term_bucket")

        with _arrow_batch(self.spark, _ENCODE_ARROW_BATCH):
            runner.run(f"postings{sfx}", f"postings{sfx}",
                       [f"doc_features{sfx}", f"corpus_stats{sfx}"],
                       build_postings,
                       partition_by=["term_bucket"],
                       sort_within_partitions=["term", "partition_id",
                                               "block_id"],
                       partition_col="partition_id",
                       n_partitions=cfg.n_doc_buckets)

        # -- stage 4b: positions (only when the opt-in positional index
        # exists — keeps it consistent through merges/deletes; carries
        # untouched buckets when ``pos_changed_buckets`` is sound) -------
        if self.store.exists(f"positions{sfx}"):
            pos_field = "text" if not sfx else sfx[1:]
            with _arrow_batch(self.spark, self._positions_batch(sfx)):
                runner.run(f"positions{sfx}", f"positions{sfx}",
                           [f"doc_features{sfx}"],
                           lambda: self._positions_df(
                               sfx, pos_field,
                               changed_buckets=pos_changed_buckets),
                           partition_by=["term_bucket"],
                           sort_within_partitions=["term", "partition_id",
                                                   "block_id"],
                           partition_col="partition_id",
                           n_partitions=cfg.n_doc_buckets)

        # -- stage 5: term_stats (second-level merge of per-bucket partials) -
        runner.run(
            f"term_stats{sfx}", f"term_stats{sfx}", [f"postings{sfx}"],
            lambda: self.store.read(f"postings{sfx}").groupBy("term").agg(
                F.sum("n_postings").alias("df"),
                F.sum("cf_block").alias("cf"),
                F.count(F.lit(1)).alias("n_blocks"),
                F.countDistinct("partition_id").alias("n_buckets"))
            .withColumn("term_bucket",
                        term_bucket_expr("term", cfg.n_term_buckets))
            .repartition(cfg.n_term_buckets, "term_bucket"),
            partition_by=["term_bucket"],
            sort_within_partitions=["term"])

    def _persist_config(self, sfx: str) -> None:
        """Persist the build config so query engines bind to the layout
        that was actually built (bucket counts, BM25 params) — the
        analogue of index DDL parameters living with the index, not the
        client."""
        import dataclasses
        import json as _json
        self.store.write(
            f"engine_config{sfx}",
            self.spark.createDataFrame(
                [(_json.dumps(dataclasses.asdict(self.cfg),
                              sort_keys=True),)],
                "config_json string"))

    # ------------------------------------------------------------------
    #: EngineConfig fields :meth:`migrate_layout` may change: physical
    #: layout and read-side knobs whose values never reach the stage-1
    #: CONTENT (extracted text, tf_map, doc ids, doc_len). Everything
    #: else — analyzer, token lengths, prefer_provided_text, doc_id_bits
    #: — changes what stage 1 computes and needs a full rebuild from the
    #: source corpus.
    MIGRATABLE_FIELDS = frozenset({
        "n_doc_buckets", "n_term_buckets", "block_size",
        "partition_doc_features", "k1", "b", "default_k", "max_k",
        "max_offset", "default_min_score", "shuffle_partitions",
        "python_stage_parallelism", "champions_m",
    })

    def migrate_layout(self, new_cfg: EngineConfig, field: str = "text",
                       run_id: str | None = None,
                       input_version: str = "static") -> "IndexBuilder":
        """Re-layout a committed index under a new physical/scoring
        config WITHOUT re-running extraction or tokenization — the
        ``ALTER INDEX`` the reference stack lacks (Elasticsearch requires
        a full reindex to change shard count; Postgres re-runs
        ``to_tsvector`` inside ``REINDEX``). Operationally this is how a
        growing corpus re-tunes ``n_doc_buckets``/``n_term_buckets`` as it
        scales (docs/SCALE.md sizes P at docs/P ≈ 10^7 — P must grow with
        the crawl) or adjusts BM25 ``k1``/``b`` after relevance review.

        Cost model at scale: stage 1 becomes ONE JVM-only pass over the
        committed ``doc_features`` (recompute ``partition_id`` from the
        stable ``doc_id`` — map-only unless the partitioned layout is
        requested; the extract+tokenize pandas UDFs, the dominant build
        cost, never run); downstream stages rebuild as from a normal
        build but start from the materialized tf_maps. Content is
        bit-identical to a from-scratch build under ``new_cfg`` (pinned
        by test) because ids, text and tf_maps are carried, and the
        stage-1 fingerprint is wired exactly as :meth:`build` writes it —
        a later ``build()`` under ``new_cfg`` resume-skips every stage.

        Only fields in :data:`MIGRATABLE_FIELDS` may differ; the builder
        must be bound to the index's persisted config (guards migrating
        from a config the index was never built with). Auxiliary indexes
        that exist are refreshed too: positions (inside the downstream
        run), hashed embeddings (``dim`` recovered from the committed
        table) and the SymSpell deletes (``max_edit`` recovered likewise).
        Dual-field indexes migrate per field — primary ``"text"`` first,
        so the secondary's fingerprint chains on the migrated base.

        Returns a fresh :class:`IndexBuilder` bound to ``new_cfg``.
        """
        import dataclasses
        import json as _json

        sfx = "" if field == "text" else f"_{field}"
        if not self.store.exists(f"doc_features{sfx}"):
            raise ValueError(
                f"no committed doc_features{sfx} — nothing to migrate")
        persisted = _json.loads(
            self.store.read(f"engine_config{sfx}")
            .collect()[0]["config_json"])
        mine = dataclasses.asdict(self.cfg)
        if persisted != mine:
            diff = sorted(k for k in mine if persisted.get(k) != mine[k])
            raise ValueError(
                "builder config differs from the index's persisted "
                f"config on {diff}; bind the builder to the persisted "
                "config before migrating")
        new = dataclasses.asdict(new_cfg)
        changed = sorted(k for k in mine if mine[k] != new[k])
        illegal = [k for k in changed if k not in self.MIGRATABLE_FIELDS]
        if illegal:
            raise ValueError(
                f"non-layout config fields changed: {illegal} — these "
                "change stage-1 content (extraction/tokenization); "
                "rebuild from the source corpus instead")

        nb = IndexBuilder(self.spark, self.store, new_cfg)
        runner = StageRunner(self.store,
                             new_cfg.fingerprint() + f"/{field}",
                             run_id=run_id)
        df_layout = (["partition_id"]
                     if new_cfg.partition_doc_features else None)

        def _rebucket() -> DataFrame:
            # store.write stages into a fresh snapshot dir before the
            # atomic manifest flip, so this reads the OLD snapshot while
            # writing the new one (same CoW pattern as merge_by_key)
            src = self.store.read(f"doc_features{sfx}")
            out = (src.drop("partition_id")
                   .withColumn("partition_id",
                               doc_bucket_expr("doc_id",
                                               new_cfg.n_doc_buckets)))
            if new_cfg.partition_doc_features:
                # align write tasks with the partitioned layout (one file
                # per bucket, not tasks × buckets)
                out = out.repartition(new_cfg.n_doc_buckets,
                                      "partition_id")
            # keep the source's own column set/order (fields differ in
            # which content column they carry: text vs anchor)
            return out.select(*src.columns)

        # fingerprint wiring mirrors build() exactly, so resume composes:
        # primary field chains on input_version, secondary on the base
        # table's (migrated) data identity
        if sfx:
            runner.run(f"doc_features{sfx}", f"doc_features{sfx}",
                       ["doc_features"], _rebucket,
                       partition_by=df_layout,
                       partition_col="partition_id",
                       n_partitions=new_cfg.n_doc_buckets)
        elif new_cfg.dedup != "none":
            # dedup-enabled index: the raw/ledger/filtered chain re-buckets
            # with the SAME stage names and fingerprint formulas as
            # build()'s dedup branch, so a later build() resume-skips.
            # All three are pure-JVM bucket recomputations: the drop
            # DECISIONS (sha groups, minhash clusters, keepers) never
            # depend on partition_id, so re-bucketing the committed ledger
            # is content-identical to re-deriving it from re-bucketed raw.
            raw_runner = StageRunner(self.store,
                                     new_cfg.fingerprint_no_dedup()
                                     + f"/{field}",
                                     run_id=runner.run_id)

            def _rebucket_tbl(table):
                def fn() -> DataFrame:
                    src = self.store.read(table)
                    out = (src.drop("partition_id")
                           .withColumn("partition_id",
                                       doc_bucket_expr(
                                           "doc_id",
                                           new_cfg.n_doc_buckets)))
                    if (new_cfg.partition_doc_features
                            and table != "dedup_drops"):
                        out = out.repartition(new_cfg.n_doc_buckets,
                                              "partition_id")
                    return out.select(*src.columns)
                return fn

            raw_runner.run("doc_features_raw", "doc_features_raw", [],
                           _rebucket_tbl("doc_features_raw"),
                           partition_by=df_layout,
                           partition_col="partition_id",
                           n_partitions=new_cfg.n_doc_buckets,
                           extra_key=input_version)
            runner.metrics.extend(raw_runner.metrics)
            runner.run("dedup_drops", "dedup_drops",
                       ["doc_features_raw"],
                       _rebucket_tbl("dedup_drops"),
                       partition_col="partition_id",
                       n_partitions=new_cfg.n_doc_buckets)
            runner.run("doc_features", "doc_features",
                       ["doc_features_raw", "dedup_drops"], _rebucket,
                       partition_by=df_layout,
                       partition_col="partition_id",
                       n_partitions=new_cfg.n_doc_buckets)
        else:
            runner.run("doc_features", "doc_features", [], _rebucket,
                       partition_by=df_layout,
                       partition_col="partition_id",
                       n_partitions=new_cfg.n_doc_buckets,
                       extra_key=input_version)
        nb._run_downstream(runner, sfx)
        nb._persist_config(sfx)
        runner.commit_lineage(self.spark)

        # refresh opt-in derivatives whose layout is bucket-keyed,
        # recovering their build parameters from the committed tables
        if self.store.exists(f"doc_embeddings{sfx}"):
            dim = int(self.store.read(f"doc_embeddings{sfx}")
                      .select(F.size("emb").alias("d")).first()["d"])
            nb.build_embeddings(field, dim=dim, run_id=run_id)
        if self.store.exists(f"term_deletes{sfx}"):
            me = int(self.store.read(f"term_deletes{sfx}")
                     .agg(F.max(F.length("term") - F.length("variant"))
                          .alias("me")).first()["me"])
            nb.build_fuzzy(field, max_edit=me, run_id=run_id)
        return nb

    # ------------------------------------------------------------------
    def build_positions(self, field: str = "text",
                        run_id: str | None = None) -> StageRunner:
        """Opt-in positional index (plans/phrase.py) — the tsvector-style
        position payload behind phrase ("a <-> b") and proximity search,
        the capability Postgres layers on the GIN term index the
        reference creates (``data-pipeline/database.py:60``).

        A separate table, not a postings-schema change: BM25 top-k never
        reads positions, so the WAND scan stays as narrow as today, and
        corpora that never run phrase queries never pay the build. The
        stage chains on the doc_features data_uuid — a merge or delete
        invalidates it like every other derived stage. Same skew story
        as postings: (term, doc-range bucket) groups, order-preserving
        salt, streaming O(block) encoder, term_bucket pruning."""
        cfg = self.cfg
        sfx = "" if field == "text" else f"_{field}"
        if not self.store.exists(f"doc_features{sfx}"):
            raise ValueError(
                f"no doc_features{sfx} table — build the {field!r} index "
                "before its positional index")
        runner = StageRunner(self.store, cfg.fingerprint() + f"/{field}",
                             run_id=run_id)
        with _arrow_batch(self.spark, self._positions_batch(sfx)):
            runner.run(f"positions{sfx}", f"positions{sfx}",
                       [f"doc_features{sfx}"],
                       lambda: self._positions_df(sfx, field),
                       partition_by=["term_bucket"],
                       sort_within_partitions=["term", "partition_id",
                                               "block_id"],
                       partition_col="partition_id",
                       n_partitions=cfg.n_doc_buckets)
        runner.commit_lineage(self.spark)
        return runner

    def build_lm(self, field: str = "text",
                 run_id: str | None = None) -> StageRunner:
        """Opt-in bigram language model (operators/lm.py, X63) persisted
        as index side tables — the serving form behind the phrase
        suggester (X74, "did you mean") and standing CCNet-style quality
        gates, so query time never re-trains.

        Two stages, ALL JVM (no Python text pass):
        - ``lm_unigrams`` is FREE: unigram count c(w) == corpus term
          frequency, already aggregated in term_stats' ``cf`` (E6) — a
          projection, not a scan of text.
        - ``lm_bigrams`` is one doc_features scan: the simple analyzer's
          tokenizer is expressible exactly in Catalyst
          (``regexp_extract_all(lower(text)) + length filter``), adjacent
          pairs explode JVM-side, counts aggregate with map-side combine,
          and the denominator c(prev) pre-joins from the committed
          unigram table (Brants '07: no normalization pass).
        Both partitioned by term hash bucket, so the suggester's
        ``w IN``/``prev IN`` lookups prune directories
        (``term_bucket_lit`` int literal filters).

        Only ``analyzer="simple"`` is supported: a stemmed dictionary
        would make the LM suggest stems, not words — the same reason
        ES's phrase suggester runs on an unstemmed shingle field.
        """
        from ..functions.udfs import term_bucket_expr

        cfg = self.cfg
        if cfg.analyzer != "simple":
            raise NotImplementedError(
                "build_lm supports the simple analyzer only (a stemmed "
                "LM would suggest stems; ES's phrase suggester likewise "
                "runs on an unstemmed field)")
        sfx = "" if field == "text" else f"_{field}"
        for dep in (f"term_stats{sfx}", f"doc_features{sfx}"):
            if not self.store.exists(dep):
                raise ValueError(
                    f"no {dep} table — build the {field!r} index first")
        runner = StageRunner(self.store, cfg.fingerprint() + f"/{field}",
                             run_id=run_id)

        def _uni():
            return (self.store.read(f"term_stats{sfx}")
                    .select(F.col("term").alias("w"),
                            F.col("cf").alias("c"))
                    .withColumn("w_bucket",
                                term_bucket_expr("w", cfg.n_term_buckets))
                    .repartition(cfg.n_term_buckets, "w_bucket"))

        runner.run(f"lm_unigrams{sfx}", f"lm_unigrams{sfx}",
                   [f"term_stats{sfx}"], _uni,
                   partition_by=["w_bucket"],
                   sort_within_partitions=["w"])

        def _big():
            # the simple tokenizer, exactly, in Catalyst: lowercase
            # alnum runs filtered to the configured length band
            toks = F.filter(
                F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"),
                lambda t: (F.length(t) >= cfg.min_token_len)
                & (F.length(t) <= cfg.max_token_len))
            base = (self.store.read(f"doc_features{sfx}")
                    .filter(F.col("text").isNotNull())
                    .select(toks.alias("_t"))
                    .filter(F.size("_t") > 1))
            pairs = base.select(F.explode(F.arrays_zip(
                F.slice("_t", 1, F.size("_t") - 1).alias("prev"),
                F.slice("_t", 2, F.size("_t") - 1).alias("w"))).alias("p"))
            big = (pairs.select(F.col("p.prev").alias("prev"),
                                F.col("p.w").alias("w"))
                   .groupBy("prev", "w")
                   .agg(F.count(F.lit(1)).alias("c")))
            uni = (self.store.read(f"lm_unigrams{sfx}")
                   .select(F.col("w").alias("prev"),
                           F.col("c").alias("c_prev")))
            return (big.join(uni, "prev")
                    .withColumn("prev_bucket",
                                term_bucket_expr("prev",
                                                 cfg.n_term_buckets))
                    .repartition(cfg.n_term_buckets, "prev_bucket"))

        runner.run(f"lm_bigrams{sfx}", f"lm_bigrams{sfx}",
                   [f"doc_features{sfx}", f"lm_unigrams{sfx}"], _big,
                   partition_by=["prev_bucket"],
                   sort_within_partitions=["prev", "w"])
        runner.commit_lineage(self.spark)
        return runner

    # ------------------------------------------------------------------
    def build_fuzzy(self, field: str = "text", max_edit: int = 1,
                    run_id: str | None = None) -> StageRunner:
        """Opt-in SymSpell deletion index (operators/fuzzy.py) — typo
        tolerance the reference lacks (Postgres users bolt on pg_trgm).
        A static by-product of term_stats: every dictionary term explodes
        into its ≤ ``max_edit``-deletion variants, partitioned by
        variant hash bucket so a query term's ~L+1 variants prune to
        their buckets at lookup. Pure JVM generation (sequence/transform
        exprs), resumable like every stage, invalidated whenever
        term_stats changes (merge/delete reruns it)."""
        from ..functions.udfs import term_bucket_expr
        from ..operators.fuzzy import build_deletes_df

        cfg = self.cfg
        sfx = "" if field == "text" else f"_{field}"
        if not self.store.exists(f"term_stats{sfx}"):
            raise ValueError(
                f"no term_stats{sfx} table — build the {field!r} index "
                "before its fuzzy index")
        runner = StageRunner(self.store, cfg.fingerprint() + f"/{field}",
                             run_id=run_id)

        def _deletes():
            d = build_deletes_df(self.store.read(f"term_stats{sfx}"),
                                 max_edit=max_edit)
            return d.withColumn(
                "variant_bucket",
                term_bucket_expr("variant", cfg.n_term_buckets))

        runner.run(f"term_deletes{sfx}", f"term_deletes{sfx}",
                   [f"term_stats{sfx}"],
                   _deletes,
                   partition_by=["variant_bucket"],
                   extra_key=f"/me{max_edit}")
        runner.commit_lineage(self.spark)
        return runner

    # ------------------------------------------------------------------
    def build_suffix(self, field: str = "text",
                     run_id: str | None = None) -> StageRunner:
        """Opt-in reversed-term dictionary for leading-wildcard
        (``*word``) expansion — Lucene's ReverseStringFilter / the
        reverse-B-tree trick (IIR ch. 3.2): a ``term_rev`` side table
        keyed and SORTED by ``reverse(term)``, so a suffix pattern
        becomes a ``StartsWith`` on the sorted column and pushes to
        parquet as a min/max row-group range — the same pushdown shape
        the forward dictionary gives ``word*`` (X34). One tiny JVM-only
        pass over term_stats (|dictionary| rows, no text read);
        resumable; invalidated whenever term_stats changes (merge /
        delete / migrate reruns it). Without this table the query path
        falls back to one full-dictionary ``endswith`` scan — correct,
        priced at O(|dictionary|), exactly what Lucene pays when the
        reverse filter isn't configured."""
        from ..functions.udfs import term_bucket_expr

        cfg = self.cfg
        sfx = "" if field == "text" else f"_{field}"
        if not self.store.exists(f"term_stats{sfx}"):
            raise ValueError(
                f"no term_stats{sfx} table — build the {field!r} index "
                "before its suffix dictionary")
        runner = StageRunner(self.store, cfg.fingerprint() + f"/{field}",
                             run_id=run_id)

        def _rev():
            ts = self.store.read(f"term_stats{sfx}").select("term")
            return (ts.withColumn("term_rev", F.reverse(F.col("term")))
                    .withColumn("rev_bucket",
                                term_bucket_expr("term_rev",
                                                 cfg.n_term_buckets))
                    .repartition(cfg.n_term_buckets, "rev_bucket"))

        runner.run(f"term_rev{sfx}", f"term_rev{sfx}",
                   [f"term_stats{sfx}"],
                   _rev,
                   partition_by=["rev_bucket"],
                   sort_within_partitions=["term_rev"])
        runner.commit_lineage(self.spark)
        return runner

    # ------------------------------------------------------------------
    def build_trigram(self, field: str = "text",
                      run_id: str | None = None) -> StageRunner:
        """Opt-in trigram term dictionary for infix/contains wildcards
        (``*word*``) — pg_trgm's plan for ``LIKE '%word%'`` (its GIN
        index maps trigram -> matching values) and Lucene's
        NGramTokenFilter: a ``term_trigram`` side table of DISTINCT
        ``(trigram, term)`` rows. An infix stem expands by scanning the
        stem's own trigrams (``trigram IN (...)`` — pushed to parquet;
        the partition column is a pure function of the trigram's first
        byte, known to the PLANNER in Python, so the scan also prunes
        whole directories) and keeping terms that carry ALL of them,
        then verifying ``contains`` (trigram containment is necessary,
        not sufficient: it ignores order). One JVM-only pass over
        term_stats — ~``avg_len``x the dictionary in rows, still
        dictionary-scale, no text read; resumable; invalidated whenever
        term_stats changes. Without this table the query path falls
        back to one full-dictionary ``contains`` scan — correct, priced
        at O(|dictionary|), exactly the seq scan Postgres runs when the
        pg_trgm index is absent."""
        cfg = self.cfg
        sfx = "" if field == "text" else f"_{field}"
        if not self.store.exists(f"term_stats{sfx}"):
            raise ValueError(
                f"no term_stats{sfx} table — build the {field!r} index "
                "before its trigram dictionary")
        runner = StageRunner(self.store, cfg.fingerprint() + f"/{field}",
                             run_id=run_id)

        def _tri():
            ts = self.store.read(f"term_stats{sfx}").select("term")
            tri = F.transform(
                F.sequence(F.lit(1), F.length("term") - F.lit(2)),
                lambda i: F.col("term").substr(i, F.lit(3)))
            return (ts.filter(F.length("term") >= 3)
                    .withColumn("trigram", F.explode(F.array_distinct(tri)))
                    .withColumn("tri_bucket",
                                F.pmod(F.ascii("trigram"),
                                       F.lit(cfg.n_term_buckets)))
                    .repartition(cfg.n_term_buckets, "tri_bucket"))

        runner.run(f"term_trigram{sfx}", f"term_trigram{sfx}",
                   [f"term_stats{sfx}"],
                   _tri,
                   partition_by=["tri_bucket"],
                   sort_within_partitions=["trigram", "term"])
        runner.commit_lineage(self.spark)
        return runner

    # ------------------------------------------------------------------
    def build_embeddings(self, field: str = "text", dim: int = 64,
                         run_id: str | None = None,
                         embedder=None,
                         embedder_tag: str = "hash",
                         embedder_source: str = "tf_map") -> StageRunner:
        """Opt-in hashed document embeddings (operators/hybrid.py) — the
        semantic leg of hybrid retrieval (the reference's pgvector column,
        ``ProductRepository.java:66-93``, re-expressed with a public
        trained-model-free featurizer; swap the UDF for a model to get the
        reference's exact semantics — layout and query path are unchanged).

        One map-side pass over the committed ``doc_features`` table: the
        per-doc ``tf_map`` is already materialized, so no re-extraction,
        no re-tokenization and NO shuffle — the output writes under the
        same ``partition_id`` buckets it was read with. Resumable like
        every stage; invalidated when doc_features changes (merge/delete
        reruns it) or when ``dim`` changes (folded into the fingerprint).

        ``embedder``: optional replacement ``tf_map -> array<float>``
        pandas UDF — the model swap the hybrid module promises. Pass a
        distinct ``embedder_tag`` with it (folded into the resume
        fingerprint so hashed and trained embeddings never alias): e.g.
        the corpus-trained PPMI-SVD featurizer
        (``operators/embed_train.make_trained_embedding_udf``, X109).

        ``embedder_source``: which doc_features column feeds the UDF —
        ``"tf_map"`` (default; the hashed/PPMI featurizers) or a text
        column (``"text"``/``"title"``) for sentence-encoder adapters
        (``operators/neural.make_encoder_embedding_udf`` — the
        reference's ``model.encode`` shape, ``ml-model/app.py:70-74``).
        Folded into the fingerprint when non-default (existing tf_map
        checkpoints stay valid).
        """
        from ..operators.hybrid import make_hashed_embedding_udf

        cfg = self.cfg
        sfx = "" if field == "text" else f"_{field}"
        if not self.store.exists(f"doc_features{sfx}"):
            raise ValueError(
                f"no doc_features{sfx} table — build the {field!r} index "
                "before its embeddings")
        runner = StageRunner(self.store, cfg.fingerprint() + f"/{field}",
                             run_id=run_id)
        embed = embedder if embedder is not None \
            else make_hashed_embedding_udf(dim)

        def _emb():
            feats = self.store.read(f"doc_features{sfx}")
            # Width cap: same rationale as the extract stage — this is a
            # Python(Arrow) stage, and the configured cap bounds the number
            # of busy worker processes on hosts where that degrades.
            pyw = cfg.python_stage_parallelism
            if pyw and feats.rdd.getNumPartitions() > pyw:
                feats = feats.repartition(pyw)
            return feats.select(
                "doc_id", "partition_id",
                embed(F.col(embedder_source)).alias("emb"))

        runner.run(f"doc_embeddings{sfx}", f"doc_embeddings{sfx}",
                   [f"doc_features{sfx}"],
                   _emb,
                   partition_by=(["partition_id"]
                                 if cfg.partition_doc_features else None),
                   partition_col="partition_id",
                   n_partitions=cfg.n_doc_buckets,
                   extra_key=f"/dim{dim}/{embedder_tag}"
                   + ("" if embedder_source == "tf_map"
                      else f"/{embedder_source}"))
        runner.commit_lineage(self.spark)
        return runner

    def build_ann(self, field: str = "text", n_lists: int | None = None,
                  n_iters: int = 3, seed: int = 42) -> str:
        """Opt-in persisted IVF index over the committed
        ``doc_embeddings`` table — the reference's ivfflat accelerator
        (``data-pipeline/database.py:47-54``: ``CREATE INDEX ... USING
        ivfflat (embedding vector_cosine_ops)``) as a real index
        lifecycle: built once here, served from storage by
        ``QueryEngine.semantic_top_k_df(ann=...)`` with partition-pruned
        probes (assignments are partitioned by ``list_id``).

        Resume semantics match the other opt-in stages: the save records
        the source embeddings table's ``data_uuid`` plus the build
        parameters; a repeat call with an unchanged source and identical
        parameters is a no-op, and the serve path refuses (falls back to
        exact) when the recorded source_uuid no longer matches the
        embeddings table — a rebuilt corpus never serves a stale index.

        ``n_lists`` defaults to
        ``clamp(round(N / 4000), 8, min(round(sqrt(N)), 65536))`` —
        FAISS guidance (lists of ~1-10k vectors) bounded above by the
        classic ``sqrt(N)``. Bare ``sqrt(N)`` (the r4 default) gave
        316-vector lists at 100k docs, where per-query partition-listing
        overhead exceeded the scan it saved (VERDICT r4 #1/#3); the
        target-rows form keeps each probed list a real unit of work at
        every corpus size while ``sqrt(N)`` takes over once
        ``N > 16·10^6``; the 65536 ceiling bounds the driver-resident
        centroid matrix and the k-means sample — at 10^12 docs pass
        ``n_lists`` explicitly to trade further. Returns the index name
        for :func:`operators.ann.load_ivf`.
        """
        from ..operators.ann import (
            _IVF_ASSIGN_TBL,
            _IVF_CENTROID_TBL,
            IVFIndex,
            save_ivf,
        )

        sfx = "" if field == "text" else f"_{field}"
        emb_tbl = f"doc_embeddings{sfx}"
        if not self.store.exists(emb_tbl):
            raise ValueError(
                f"no {emb_tbl} table — build_embeddings() before its "
                "ANN index")
        src_uuid = (self.store.table_meta(emb_tbl) or {}).get("data_uuid")
        if n_lists is None:
            cs = self.store.read(f"corpus_stats{sfx}").collect()[0]
            n_lists = default_n_lists(int(cs["n_docs"]))
        name = f"doc_emb{sfx}"
        meta = self.store.table_meta(_IVF_ASSIGN_TBL.format(name=name)) or {}
        cmeta = self.store.table_meta(
            _IVF_CENTROID_TBL.format(name=name)) or {}
        if (meta.get("source_uuid") == src_uuid
                and int(meta.get("n_lists", 0)) == int(n_lists)
                and int(meta.get("ann_n_iters", -1)) == int(n_iters)
                and int(meta.get("ann_seed", -1)) == int(seed)
                # a torn re-save (assignments committed, centroids not) is
                # NOT a checkpoint hit — re-run to repair (code-review r4)
                and meta.get("save_id") is not None
                and meta.get("save_id") == cmeta.get("save_id")):
            return name  # checkpoint hit: same source, same parameters
        idx = IVFIndex.build(self.store.read(emb_tbl),
                             n_lists=n_lists, n_iters=n_iters, seed=seed,
                             key="doc_id", vec_col="emb")
        save_ivf(idx, self.store, name,
                 extra_meta={"source_uuid": src_uuid,
                             "ann_n_iters": int(n_iters),
                             "ann_seed": int(seed)})
        return name

    def build_champions(self, field: str = "text",
                        run_id: str | None = None) -> StageRunner:
        """Opt-in impact-ordered champion lists (plans/champions.py) —
        per term, the ``cfg.champions_m`` postings with the highest
        per-term BM25 contribution, the classic fancy-list sidecar
        (Anh & Moffat SIGIR '06) behind exact WAND theta bootstrapping
        and approximate impact-only retrieval.

        One decode pass over the committed postings table: a map-local
        per-(term, Arrow batch) top-m (numpy argpartition — the full
        posting lists are never re-shuffled) followed by a per-term
        window over the bounded ≤ m·ceil(blocks/batch) intermediate.
        Partitioned by ``term_bucket`` like term_stats so query-time
        reads prune to the query terms' buckets. Chains on the postings
        AND corpus_stats data_uuids (champion ordering bakes in avgdl),
        so any merge/delete/migration invalidates it like every other
        derived stage.
        """
        from pyspark.sql.window import Window

        from .champions import CHAMPIONS_SCHEMA, make_champion_scan

        cfg = self.cfg
        sfx = "" if field == "text" else f"_{field}"
        if not self.store.exists(f"postings{sfx}"):
            raise ValueError(
                f"no postings{sfx} table — build the {field!r} index "
                "before its champion lists")
        runner = StageRunner(self.store, cfg.fingerprint() + f"/{field}",
                             run_id=run_id)
        cs = self.store.read(f"corpus_stats{sfx}").collect()[0]
        avgdl = float(cs["avg_doc_len"] or 0.0)

        def _champ() -> DataFrame:
            blocks = self.store.read(f"postings{sfx}").select(
                "term", "term_bucket", "doc_ids_vb", "tfs_vb", "dls_vb")
            fn = make_champion_scan(cfg.champions_m, avgdl,
                                    float(cfg.k1), float(cfg.b))
            local = blocks.mapInPandas(fn, schema=CHAMPIONS_SCHEMA)
            w = (Window.partitionBy("term")
                 .orderBy(F.desc("tf_norm"), F.asc("doc_id")))
            return (local
                    .withColumn("rn", F.row_number().over(w))
                    .filter(F.col("rn") <= cfg.champions_m)
                    .select("term", "term_bucket", "doc_id", "tf", "dl")
                    .repartition(cfg.n_term_buckets, "term_bucket"))

        with _arrow_batch(self.spark, _ENCODE_ARROW_BATCH):
            runner.run(f"champions{sfx}", f"champions{sfx}",
                       [f"postings{sfx}", f"corpus_stats{sfx}"],
                       _champ,
                       partition_by=["term_bucket"],
                       sort_within_partitions=["term", "doc_id"])
        runner.commit_lineage(self.spark)
        return runner

    def _positions_batch(self, sfx: str) -> int:
        """Arrow batch size for the positions stage: the ENCODE size only
        when the stage is the pure-JVM pos_map fast path; the non-fused
        path's first UDF transfers full document text, where 20k-row
        batches would be ~900 MB of Arrow per in-flight task (code-review
        r4) — it gets the extract-sized batches instead."""
        feats = f"doc_features{sfx}"
        fused = (self.store.exists(feats)
                 and "pos_map" in self.store.read(feats).columns)
        return _ENCODE_ARROW_BATCH if fused else _EXTRACT_ARROW_BATCH

    def _positions_current(self, sfx: str, field: str) -> bool:
        """Positional-index analogue of :meth:`_postings_current`: may an
        incremental maintenance pass carry untouched buckets forward?"""
        from ..lineage import stage_fingerprint

        meta = self.store.table_meta(f"positions{sfx}") or {}
        if not meta:
            return False
        expected = stage_fingerprint(
            f"positions{sfx}", self.cfg.fingerprint() + f"/{field}",
            [(self.store.table_meta(f"doc_features{sfx}") or {})
             .get("data_uuid", "")])
        return meta.get("fingerprint", "") == expected

    def _positions_df(self, sfx: str, field: str,
                      changed_buckets: list[int] | None = None
                      ) -> DataFrame:
        """Position blocks from doc_features. With ``changed_buckets``,
        re-encodes only those doc-range buckets and carries every other
        bucket's rows from the previous snapshot BYTE-FOR-BYTE — unlike
        postings, position payloads bake in no corpus statistic (no
        avgdl), so the carry needs no metadata refresh at all.

        When doc_features carries the fused ``pos_map`` column
        (build(positions=True)), the stage is PURE JVM: a column-pruned
        scan + explode + the numpy block encoder — no second Python pass
        over raw text (VERDICT r3 #3). Output is identical either way
        (the fused UDF and ``make_token_positions_udf`` walk the same
        kept-token stream; pinned by test)."""
        from ..functions.udfs import make_token_positions_udf
        from .phrase import (
            POSITIONS_COLS,
            POSITIONS_SCHEMA,
            make_positions_encoder,
        )

        cfg = self.cfg
        col = "text" if field == "text" else field
        feats = self.store.read(f"doc_features{sfx}")
        fused_pos = "pos_map" in feats.columns
        src = feats.select("doc_id", "partition_id", "doc_len",
                           "pos_map" if fused_pos else col)
        incremental = (changed_buckets is not None
                       and self.store.exists(f"positions{sfx}"))
        if incremental:
            src = src.filter(F.col("partition_id").isin(changed_buckets))
        if fused_pos:
            pairs = src.select("partition_id", "doc_id",
                               F.col("doc_len").alias("dl"),
                               F.explode("pos_map").alias("term",
                                                          "positions"))
        else:
            pyw = cfg.python_stage_parallelism or cfg.shuffle_partitions
            if cfg.python_stage_parallelism:  # tokenize is a UDF stage
                src = src.repartition(pyw)
            pos_udf = make_token_positions_udf(cfg.max_token_len,
                                               cfg.min_token_len,
                                               cfg.analyzer)
            pairs = (src.withColumn("pmap", pos_udf(F.col(col)))
                     .select("partition_id", "doc_id",
                             F.col("doc_len").alias("dl"),
                             F.explode("pmap").alias("term", "positions")))
        # Encode at full width (same exemption as the postings encoder:
        # numpy stream + JVM sort, not an interpreter-bound text kernel)
        shuffled = (pairs.repartition(cfg.shuffle_partitions,
                                      "term", "partition_id")
                    .sortWithinPartitions("term", "partition_id",
                                          "doc_id"))
        blocks = shuffled.mapInPandas(
            make_positions_encoder(cfg.block_size),
            schema=POSITIONS_SCHEMA)
        if incremental:
            # reads the OLD snapshot: store.write materializes before the
            # manifest flips (same copy-on-write pattern as the postings
            # carry)
            carried = (self.store.read(f"positions{sfx}")
                       .filter(~F.col("partition_id")
                               .isin(changed_buckets))
                       .select(*POSITIONS_COLS))
            blocks = blocks.unionByName(carried)
        blocks = blocks.withColumn(
            "term_bucket", term_bucket_expr("term", cfg.n_term_buckets))
        return blocks.repartition(cfg.n_term_buckets, "term_bucket")

    # ------------------------------------------------------------------
    def ingest_updates(self, updates: DataFrame, field: str = "text",
                       run_id: str | None = None,
                       incremental: bool = True) -> StageRunner:
        """MERGE-style upsert into doc_features (ON CONFLICT analogue,
        ``data_ingestion.py:224-243``), then rebuild the derived stages.

        The merge carries the stage fingerprint forward with a fresh data
        identity, so the merged table is the new truth: a later
        ``build()`` with the unchanged source/config SKIPS doc_features
        (the merge survives), while downstream stages see the new
        data_uuid here and rebuild immediately.

        ``incremental`` (default): the postings stage re-encodes only the
        doc-range buckets the upsert touched (the upserted doc ids are
        url hashes, so a batch of U docs touches ≤ min(U, P) of the P
        buckets) and carries the rest forward with refreshed block-max
        metadata — bit-identical output to ``incremental=False`` (full
        downstream rebuild), at |touched|/P of the encode cost.
        """
        cfg = self.cfg
        sfx = "" if field == "text" else f"_{field}"
        # match the committed layout: a positions=True-built table carries
        # pos_map, so the upsert batch must too (merge unions by name)
        tgt = (f"doc_features_raw{sfx}"
               if cfg.dedup != "none"
               and self.store.exists(f"doc_features_raw{sfx}")
               else f"doc_features{sfx}")
        has_pos = (self.store.exists(tgt)
                   and "pos_map" in self.store.read(tgt).columns)
        ex = self._doc_features_df(updates, field,
                                   positions=has_pos).cache()
        changed: list[int] | None = None
        pos_changed: list[int] | None = None
        if incremental:
            # currency checks first (cheap manifest reads): when neither
            # postings nor positions can carry, skip the touched-buckets
            # job over the batch entirely — the fallback path must not
            # pay a scan it then discards
            post_ok = self._postings_current(sfx, field)
            pos_ok = self._positions_current(sfx, field)
            if post_ok or pos_ok:
                touched = sorted({int(r["partition_id"]) for r in
                                  ex.select("partition_id").distinct()
                                  .collect()})
                if post_ok:
                    changed = touched
                if pos_ok:
                    pos_changed = touched
        layout = (["partition_id"] if cfg.partition_doc_features else None)
        runner = StageRunner(self.store, cfg.fingerprint() + f"/{field}",
                             run_id=run_id)
        if cfg.dedup != "none" and self.store.exists(
                f"doc_features_raw{sfx}"):
            # Dedup-enabled index: the batch merges into the RAW crawl
            # table; the ledger + survivor stages re-derive (their
            # fingerprints chain on raw's fresh data identity), so a new
            # doc that duplicates EXISTING content is dropped, and an
            # update that changes a cluster's membership re-elects its
            # survivor — ≡ a full build over (old source ∪ batch), pinned
            # by test. Incremental postings carry widens the touched set
            # by the buckets whose DROP status flipped: the pre-merge
            # ledger snapshot (CoW — old files persist) diffed against
            # the re-derived one, a slim doc_id anti-join both ways.
            old_drops = self.store.read(f"dedup_drops{sfx}") \
                .select("doc_id", "partition_id", "keep_doc_id")
            self.store.merge_by_key(f"doc_features_raw{sfx}", ex,
                                    key="url", partition_by=layout)
            self._run_dedup_stages(runner, sfx)
            if changed is not None or pos_changed is not None:
                new_drops = self.store.read(f"dedup_drops{sfx}") \
                    .select("doc_id", "partition_id", "keep_doc_id")
                delta = (old_drops.join(new_drops.select("doc_id"),
                                        "doc_id", "left_anti")
                         .unionByName(
                             new_drops.join(old_drops.select("doc_id"),
                                            "doc_id", "left_anti")))
                delta_parts = sorted({int(r["partition_id"]) for r in
                                      delta.select("partition_id")
                                      .distinct().collect()})
                if changed is not None:
                    changed = sorted(set(changed) | set(delta_parts))
                if pos_changed is not None:
                    pos_changed = sorted(set(pos_changed)
                                         | set(delta_parts))
        else:
            self.store.merge_by_key(f"doc_features{sfx}", ex, key="url",
                                    partition_by=layout)
        ex.unpersist()
        self._run_downstream(runner, sfx, changed_buckets=changed,
                             pos_changed_buckets=pos_changed)
        runner.commit_lineage(self.spark)
        return runner

    # ------------------------------------------------------------------
    def expire_documents(self, older_than, field: str = "text",
                         run_id: str | None = None,
                         max_expire: int = 100_000) -> StageRunner | None:
        """Age-based retention (X78) — Elasticsearch ILM's delete phase
        as an engine operation: drop every document whose ``warc_ts`` is
        strictly before ``older_than`` and maintain the index through
        the SAME partition-pruned CoW + incremental-postings path as
        :meth:`delete_docs` (bit-identity to a rebuild over survivors is
        inherited from that path's pinned guarantee).

        The expiring set comes from ONE pruned doc_meta scan (a
        ``warc_ts <`` predicate — parquet row-group min/max makes this
        cheap on time-correlated data). Returns None when nothing
        expires. ``max_expire`` bounds the driver collect: age-expiry
        touching more urls than that is a MASS retention event — at
        10^12 docs old documents live in every doc bucket, so the
        incremental path degenerates to re-encoding all of them anyway;
        the honest plan for that regime is a filtered full rebuild
        (``build`` over ``doc_features.filter(warc_ts >= cutoff)``),
        and this method refuses rather than silently collecting 10^10
        urls (the time-PARTITIONED alternative — one index per crawl
        slice, expiry = dropping a whole federated member, X61 — is the
        zero-rewrite design SCALE.md recommends)."""
        sfx = "" if field == "text" else f"_{field}"
        meta = (self.store.read(f"doc_meta{sfx}")
                .filter(F.col("warc_ts") < F.lit(older_than))
                .select("url"))
        rows = meta.limit(max_expire + 1).collect()
        if not rows:
            return None
        if len(rows) > max_expire:
            raise ValueError(
                f"more than {max_expire} documents expire before "
                f"{older_than!r}: mass retention should be a filtered "
                "rebuild or a dropped time-partition (X61), not an "
                "incremental delete")
        return self.delete_docs([r["url"] for r in rows], field=field,
                                run_id=run_id)

    def delete_by_query(self, query: str, mode: str = "boolean",
                        field: str = "text", run_id: str | None = None,
                        max_delete: int = 100_000,
                        lang: str | None = None,
                        warc_ts_min=None, warc_ts_max=None
                        ) -> StageRunner | None:
        """Elasticsearch ``_delete_by_query``: resolve the match set with
        the QUERY engine (``mode="boolean"`` = full websearch semantics
        via :meth:`QueryEngine.boolean_matches_df`; ``mode="any"`` =
        contains ≥1 query term via the scoreless doc-id decode), narrow
        it with optional structured predicates, and feed the urls to the
        SAME partition-pruned incremental-delete path as
        :meth:`delete_docs` (bit-identity to a survivors-only rebuild
        inherited from that path's pinned guarantee). Returns None when
        nothing matches.

        ``max_delete`` is the X78 refusal: a query matching more urls
        than that is a mass rewrite — do a filtered rebuild instead of
        collecting 10^10 urls onto the driver. Takedowns and cleanup
        queries (this API's job) match thousands, not billions."""
        from .query import QueryEngine

        qe = QueryEngine(self.spark, self.store, self.cfg, field=field)
        sfx = "" if field == "text" else f"_{field}"
        meta = self.store.read(f"doc_meta{sfx}")
        if mode == "boolean":
            matched = (qe.boolean_matches_df(query)
                       .select("partition_id", "doc_id"))
            j = matched.join(meta, ["partition_id", "doc_id"])
        elif mode == "any":
            matched = qe.candidate_ids_df(query).select("doc_id")
            j = matched.join(meta, "doc_id")
        else:
            raise ValueError(f"unknown mode: {mode!r}")
        if lang is not None:
            j = j.filter(F.col("lang") == lang)
        if warc_ts_min is not None:
            j = j.filter(F.col("warc_ts") >= F.lit(warc_ts_min))
        if warc_ts_max is not None:
            j = j.filter(F.col("warc_ts") <= F.lit(warc_ts_max))
        rows = j.select("url").limit(max_delete + 1).collect()
        if not rows:
            return None
        if len(rows) > max_delete:
            raise ValueError(
                f"query {query!r} matches more than {max_delete} "
                "documents: mass deletion should be a filtered rebuild, "
                "not an incremental delete")
        return self.delete_docs(sorted(r["url"] for r in rows),
                                field=field, run_id=run_id)

    def delete_docs(self, urls: list[str], field: str = "text",
                    run_id: str | None = None,
                    incremental: bool = True) -> StageRunner:
        """Remove documents by url and maintain the index — the DELETE
        the reference gets for free from Postgres, as an explicit
        engine operation (web corpora need it: pages vanish, takedowns
        land, dedup survivors evict losers).

        The doc-range bucket is a pure function of the url hash, so the
        deleted urls name their buckets exactly: the doc_features delete
        is a partition-pruned CoW (only those buckets' directories
        rewritten, the rest hard-linked), and ``incremental`` postings
        maintenance re-encodes only those buckets — every other bucket's
        blocks carry over byte-for-byte with block-max refreshed under
        the post-delete avgdl. Bit-identical to a full rebuild over the
        surviving documents (pinned by test). Deleting urls that were
        never indexed is a no-op for their rows but still rebuilds stats.
        """
        from ..textproc import doc_bucket, doc_id_for_url

        cfg = self.cfg
        sfx = "" if field == "text" else f"_{field}"
        changed: list[int] | None = None
        pos_changed: list[int] | None = None
        if incremental:
            touched = sorted({doc_bucket(doc_id_for_url(u),
                                         cfg.n_doc_buckets)
                              for u in urls})
            if self._postings_current(sfx, field):
                changed = touched
            if self._positions_current(sfx, field):
                pos_changed = touched
        # (url, partition_id) key frame via the JVM id/bucket exprs
        keys = (self.spark.createDataFrame([(u,) for u in urls],
                                           "url string")
                .withColumn("doc_id", doc_id_expr("url"))
                .withColumn("partition_id",
                            doc_bucket_expr("doc_id", cfg.n_doc_buckets))
                .select("url", "partition_id"))
        layout = (["partition_id"] if cfg.partition_doc_features else None)
        runner = StageRunner(self.store, cfg.fingerprint() + f"/{field}",
                             run_id=run_id)
        if cfg.dedup != "none" and self.store.exists(
                f"doc_features_raw{sfx}"):
            # Dedup-enabled index: delete from the RAW crawl table and
            # re-derive the ledger + survivors — deleting a cluster's
            # SURVIVOR re-elects the next-smallest member, which
            # RESURRECTS into the index (ledger row disappears; its
            # bucket joins the touched set via the same pre/post ledger
            # diff as ingest_updates). ≡ a full build over the surviving
            # source rows, pinned by test.
            old_drops = self.store.read(f"dedup_drops{sfx}") \
                .select("doc_id", "partition_id")
            self.store.delete_by_key(f"doc_features_raw{sfx}", keys,
                                     key="url", partition_by=layout)
            self._run_dedup_stages(runner, sfx)
            if changed is not None or pos_changed is not None:
                new_drops = self.store.read(f"dedup_drops{sfx}") \
                    .select("doc_id", "partition_id")
                delta = (old_drops.join(new_drops.select("doc_id"),
                                        "doc_id", "left_anti")
                         .unionByName(
                             new_drops.join(old_drops.select("doc_id"),
                                            "doc_id", "left_anti")))
                delta_parts = sorted({int(r["partition_id"]) for r in
                                      delta.select("partition_id")
                                      .distinct().collect()})
                if changed is not None:
                    changed = sorted(set(changed) | set(delta_parts))
                if pos_changed is not None:
                    pos_changed = sorted(set(pos_changed)
                                         | set(delta_parts))
        else:
            self.store.delete_by_key(f"doc_features{sfx}", keys, key="url",
                                     partition_by=layout)
        self._run_downstream(runner, sfx, changed_buckets=changed,
                             pos_changed_buckets=pos_changed)
        runner.commit_lineage(self.spark)
        return runner
