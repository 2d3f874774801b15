"""Driver-contract query registry: Spark queries + DuckDB oracle SQL.

One entry per implemented operator from SURVEY.md §2 (plus the
training-data-pipeline extras: dedup, text stats, similarity). Each Spark
callable takes ``(spark, sf_dir)`` and returns a DataFrame whose column
names/types match the paired ANSI-SQL oracle exactly (the driver compares
row-count + schema + order-insensitive value hash at sf=0.01).

Float policy: any column produced by arithmetic is ``round(x, 4)`` on BOTH
sides; ordering keys use raw values with a deterministic integer tie-break.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Tokenization rule — identical in Spark, DuckDB, and textproc.tokenize.
TOK_SPARK = "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"
TOK_SQL = "regexp_extract_all(lower(text), '[a-z0-9]+')"

BM25_K1, BM25_B = 1.2, 0.75
BM25_QUERY_TERMS = ["join", "spark", "window"]  # present in driver vocab

STOPWORDS = ["the", "a", "of", "and", "to", "in"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Full-text engine operators over `documents` (E3, E5, E6, E14, Q1-Q10)
# ---------------------------------------------------------------------------

def _toks(spark, sf_dir) -> DataFrame:
    return (_t(spark, sf_dir, "documents")
            .select("doc_id", F.explode(F.expr(TOK_SPARK)).alias("term")))


def q_doclen(spark, sf_dir):
    """E3: tokenization + doc length."""
    return (_toks(spark, sf_dir).groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("doc_len")))


SQL_DOCLEN = f"""
SELECT doc_id, count(*) AS doc_len
FROM (SELECT doc_id, unnest({TOK_SQL}) AS term FROM documents)
GROUP BY doc_id
"""


def q_corpus_stats(spark, sf_dir):
    """E6: corpus statistics as pure aggregations."""
    return (q_doclen(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("doc_len"), 4).alias("avg_doc_len"),
        F.sum("doc_len").alias("total_tokens")))


SQL_CORPUS_STATS = f"""
SELECT count(*) AS n_docs, round(avg(doc_len), 4) AS avg_doc_len,
       CAST(sum(doc_len) AS BIGINT) AS total_tokens
FROM ({SQL_DOCLEN})
"""


def q_term_stats(spark, sf_dir):
    """E6: per-term document frequency + collection frequency."""
    return (_toks(spark, sf_dir)
            .groupBy("term")
            .agg(F.countDistinct("doc_id").alias("df"),
                 F.count(F.lit(1)).alias("cf")))


SQL_TERM_STATS = f"""
SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf
FROM (SELECT doc_id, unnest({TOK_SQL}) AS term FROM documents)
GROUP BY term
"""


def _bm25_scores(spark, sf_dir) -> DataFrame:
    """Exhaustive DataFrame BM25 (E14/Q1): tf, df, dl, avgdl all as Spark
    aggregations; idf weights joined via broadcast."""
    toks = _toks(spark, sf_dir)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   F.avg("dl").alias("avgdl"))
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    q = spark.createDataFrame([(t,) for t in BM25_QUERY_TERMS], "term string")
    return (
        tf.join(F.broadcast(q), "term")
        .join(F.broadcast(dft), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5)
                  / (F.col("df") + 0.5))
            * F.col("tf")
            / (F.col("tf") + BM25_K1
               * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))))
        .groupBy("doc_id").agg(F.sum("contrib").alias("raw_score")))


_SQL_BM25_SCORED = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOK_SQL}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
q AS (SELECT unnest({BM25_QUERY_TERMS!r}) AS term),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1 + (stats.n_docs - dft.df + 0.5) / (dft.df + 0.5))
             * tf.tf
             / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                + {BM25_B} * dl.dl / stats.avgdl))) AS raw_score
  FROM tf
  JOIN q USING (term)
  JOIN dft USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
"""


def q_bm25_topk(spark, sf_dir):
    """Q1+Q8+Q9: scored top-k, deterministic tie-break (score DESC, doc_id)."""
    return (_bm25_scores(spark, sf_dir)
            .orderBy(F.desc("raw_score"), F.asc("doc_id")).limit(10)
            .select("doc_id", F.round("raw_score", 4).alias("score")))


SQL_BM25_TOPK = _SQL_BM25_SCORED + """
SELECT doc_id, round(raw_score, 4) AS score
FROM scored ORDER BY raw_score DESC, doc_id LIMIT 10
"""


def q_bm25_all_scores(spark, sf_dir):
    """Q1: full scored candidate set (limit-free — robust hash compare)."""
    return (_bm25_scores(spark, sf_dir)
            .select("doc_id", F.round("raw_score", 4).alias("score")))


SQL_BM25_ALL = _SQL_BM25_SCORED + \
    "SELECT doc_id, round(raw_score, 4) AS score FROM scored"


def q_bm25_filtered_count(spark, sf_dir):
    """Q2+Q3+Q10: score threshold + structured filter + totalCount."""
    scores = _bm25_scores(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return (scores.join(docs, "doc_id")
            .filter((F.col("raw_score") >= 0.5) & (F.col("lang") == "en"))
            .agg(F.count(F.lit(1)).alias("total_count")))


SQL_BM25_FILTERED_COUNT = _SQL_BM25_SCORED + """
SELECT count(*) AS total_count
FROM scored JOIN documents USING (doc_id)
WHERE raw_score >= 0.5 AND lang = 'en'
"""


def q_doc_id_assignment(spark, sf_dir):
    """E4: stable 60-bit hash doc id from a synthesized url."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("https://example.org/doc/"),
                 F.col("doc_id").cast("string")).alias("url"))
    return d.select(
        "doc_id", "url",
        F.conv(F.substring(F.sha2(F.col("url"), 256), 1, 15), 16, 10)
        .cast("long").alias("hashed_doc_id"))


SQL_DOC_ID_ASSIGNMENT = """
SELECT doc_id,
       concat('https://example.org/doc/', CAST(doc_id AS VARCHAR)) AS url,
       CAST(concat('0x', substr(sha256(
            concat('https://example.org/doc/', CAST(doc_id AS VARCHAR))
       ), 1, 15)) AS BIGINT) AS hashed_doc_id
FROM documents
"""


def _engine_warehouse(spark, sf_dir):
    """Build (or resume) the real inverted index over the driver's
    documents table into a /tmp warehouse keyed by sf_dir + format
    version; shared by both engine-gate entries."""
    import hashlib as _hl
    import os as _os

    from .config import EngineConfig
    from .plans.build_index import IndexBuilder
    from .plans.query import QueryEngine
    from .sources.store import HadoopTableStore

    docs = (_t(spark, sf_dir, "documents")
            .select(F.concat(F.lit("https://example.org/doc/"),
                             F.col("doc_id").cast("string")).alias("url"),
                    F.lit(None).cast("timestamp").alias("warc_ts"),
                    F.lit(None).cast("binary").alias("html"),
                    F.col("text"), F.col("lang")))
    cfg = EngineConfig(n_doc_buckets=8, n_term_buckets=8,
                       shuffle_partitions=8, block_size=32)
    from .lineage import ENGINE_FORMAT_VERSION
    wh = _os.path.join(
        "/tmp", f"sse_contract_wh_v{ENGINE_FORMAT_VERSION}_"
        + _hl.sha256(sf_dir.encode()).hexdigest()[:10])
    store = HadoopTableStore(spark, wh)
    b = IndexBuilder(spark, store, cfg)
    b.build(docs, input_version=sf_dir)
    b.build_suffix()  # reversed-term dictionary: '*word' gate pushdown
    return store, QueryEngine(spark, store, cfg)


def _engine_ids_back(store, top: DataFrame, extra_cols: list[str]) -> DataFrame:
    """Map engine doc ids (url-hash) back to the driver's doc_id ints."""
    meta = store.read("doc_meta").select("doc_id", "url")
    return (top.withColumnRenamed("doc_id", "engine_doc_id")
            .join(meta.withColumnRenamed("doc_id", "engine_doc_id"),
                  "engine_doc_id")
            .select(*extra_cols,
                    F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long")
                    .alias("doc_id"),
                    F.round("score", 4).alias("score")))


def q_bm25_topk_engine_wand(spark, sf_dir):
    """THE ENGINE ITSELF vs the SQL oracle: build the inverted index
    (varbyte blocks, doc-bucket salting, checkpoint stages) over the
    driver's documents table, then answer via block-max WAND — and the
    result must equal the declarative BM25 SQL run by DuckDB.

    The warehouse is cached under /tmp keyed by sf_dir; reruns resume via
    stage fingerprints (which also exercises E13 inside the gate).
    """
    store, qe = _engine_warehouse(spark, sf_dir)
    top = qe.wand_top_k_df(" ".join(BM25_QUERY_TERMS), k=10)
    return _engine_ids_back(store, top, [])


def _sql_url_hash_id(col: str) -> str:
    """The engine's 60-bit url-hash doc id, recomputed in SQL for the given
    driver doc_id column — used as the rank tie-break in every engine-gate
    oracle. The engine breaks score ties on ITS doc_id (the url hash); a
    driver-doc_id tie-break in the oracle could pick a different member of
    an exact raw-score tie at the rank-k boundary (ADVICE r2) — ordering
    by the identical value on both sides makes the gates tie-proof."""
    return ("CAST(concat('0x', substr(sha256(concat("
            f"'https://example.org/doc/', CAST({col} AS VARCHAR))), "
            "1, 15)) AS BIGINT)")


# same BM25 SQL as SQL_BM25_TOPK, but the top-10 cut tie-breaks on the
# engine's url-hash id (identical on both sides — see _sql_url_hash_id)
SQL_BM25_TOPK_ENGINE = _SQL_BM25_SCORED + f"""
SELECT doc_id, round(raw_score, 4) AS score
FROM scored ORDER BY raw_score DESC, {_sql_url_hash_id('doc_id')} LIMIT 10
"""


def q_bm25_maxscore_engine(spark, sf_dir):
    """Engine gate for the MaxScore DAAT kernel (X108) + the adaptive
    WAND/MaxScore router (X113): answer the gate query via
    ``maxscore_top_k_df`` — a *different* pruning strategy over the same
    index — and require the identical top-10 as the declarative BM25 SQL
    (same oracle as the WAND gate: the kernels are rank-identical by
    construction, which is exactly what this row proves)."""
    store, qe = _engine_warehouse(spark, sf_dir)
    top = qe.maxscore_top_k_df(" ".join(BM25_QUERY_TERMS), k=10)
    return _engine_ids_back(store, top, [])


def q_bm25_filtered_engine_wand(spark, sf_dir):
    """Engine gate for the FILTERED fast path (E11): structured lang
    filter cogrouped into per-bucket WAND — top-10 among lang='de' docs
    only, vs the declarative BM25 SQL with the same WHERE. Exactness
    argument: the survivor set only shrinks candidates, so block-max
    pruning stays lossless."""
    store, qe = _engine_warehouse(spark, sf_dir)
    top = qe.wand_top_k_df(" ".join(BM25_QUERY_TERMS), k=10, lang="de")
    return _engine_ids_back(store, top, [])


SQL_BM25_FILTERED_ENGINE = _SQL_BM25_SCORED + f"""
SELECT s.doc_id, round(s.raw_score, 4) AS score
FROM scored s JOIN documents d USING (doc_id)
WHERE d.lang = 'de'
ORDER BY s.raw_score DESC, {_sql_url_hash_id('s.doc_id')} LIMIT 10
"""


#: Score threshold for the threshold-gate: sits in the gap between the
#: 5th (0.55442) and 6th (0.55178) raw scores of the gate query at
#: sf0.01, so exactly 5 docs pass (fewer than k — the threshold, not the
#: top-k cut, shapes the result) and no achieved score is within 1e-3 of
#: the boundary (no cross-system ulp risk on the >= compare).
THRESHOLD_MIN_SCORE = 0.553


def q_bm25_threshold_engine_wand(spark, sf_dir):
    """Engine gate for the THRESHOLD fast path (reference Q2,
    ``ProductRepository.java:74``: ``similarity >= ?``): min_score SEEDS
    block-max WAND's theta (plans/wand.py), so the threshold query runs
    the fast path with *stronger* pruning — and must equal the
    declarative BM25 SQL with the same inclusive WHERE."""
    store, qe = _engine_warehouse(spark, sf_dir)
    top = qe.wand_top_k_df(" ".join(BM25_QUERY_TERMS), k=10,
                           min_score=THRESHOLD_MIN_SCORE)
    return _engine_ids_back(store, top, [])


SQL_BM25_THRESHOLD_ENGINE = _SQL_BM25_SCORED + f"""
SELECT doc_id, round(raw_score, 4) AS score
FROM scored WHERE raw_score >= {THRESHOLD_MIN_SCORE}
ORDER BY raw_score DESC, {_sql_url_hash_id('doc_id')} LIMIT 10
"""


#: three queries for the batch gate: the standard gate query, a disjoint
#: vocab query, and a partially-absent-term query
BATCH_QUERIES = ["join spark window", "filter stream sort",
                 "absentterm9z scan"]


def q_bm25_batch_topk_engine(spark, sf_dir):
    """Engine gate for the MULTI-QUERY batch WAND path: all three
    ``BATCH_QUERIES`` answered in ONE Spark job
    (``QueryEngine.batch_wand_top_k_df``); per-query results must equal
    the per-query declarative BM25 SQL (QUALIFY top-10 per query_id).

    Reuses the cached engine warehouse of ``bm25_topk_engine_wand``.
    """
    store, qe = _engine_warehouse(spark, sf_dir)
    top = qe.batch_wand_top_k_df(BATCH_QUERIES, k=10)
    return _engine_ids_back(store, top, ["query_id"])


_BATCH_Q_SQL = " UNION ALL ".join(
    f"SELECT {i} AS query_id, unnest({sorted(set(q.split()))!r}) AS term"
    for i, q in enumerate(BATCH_QUERIES))

SQL_BM25_BATCH_TOPK_ENGINE = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOK_SQL}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
q AS ({_BATCH_Q_SQL}),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(ln(1 + (stats.n_docs - dft.df + 0.5) / (dft.df + 0.5))
             * tf.tf
             / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                + {BM25_B} * dl.dl / stats.avgdl))) AS raw_score
  FROM tf
  JOIN q USING (term)
  JOIN dft USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  GROUP BY q.query_id, tf.doc_id
)
SELECT query_id, doc_id, round(raw_score, 4) AS score
FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY raw_score DESC,
                                    {_sql_url_hash_id('doc_id')}) <= 10
"""


#: phrase for the positional-index gate: "table hash" occurs consecutively
#: in ~46 docs at sf0.01 (the driver corpus is seeded word soup, so common
#: bigrams exist at every sf)
PHRASE_GATE_TERMS = ("table", "hash")


def q_bm25_phrase_engine(spark, sf_dir):
    """Engine gate for the POSITIONAL index + phrase retrieval
    (plans/phrase.py — the tsvector position layer over the reference's
    GIN index, ``data-pipeline/database.py:60``): build the positions
    table into the cached warehouse (resume-skips on rerun), answer the
    phrase query via the per-bucket positional intersection path, and
    match the declarative DuckDB oracle that recomputes positions with
    parallel unnest and verifies adjacency with a self-join."""
    store, qe = _engine_warehouse(spark, sf_dir)
    from .plans.build_index import IndexBuilder
    IndexBuilder(spark, store, qe.cfg).build_positions()
    top = (qe.phrase_top_k_df(" ".join(PHRASE_GATE_TERMS), k=10,
                              mode="positions")
           .select("doc_id", "score", "n_matches"))
    return _engine_ids_back(store, top, ["n_matches"])


SQL_BM25_PHRASE_ENGINE = f"""
WITH t AS (
  SELECT doc_id, {TOK_SQL} AS ts FROM documents
),
pos AS (
  SELECT doc_id, unnest(ts) AS term,
         unnest(generate_series(1, len(ts))) AS p
  FROM t
),
matches AS (
  SELECT a.doc_id, count(*) AS n_matches
  FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1
  WHERE a.term = '{PHRASE_GATE_TERMS[0]}'
    AND b.term = '{PHRASE_GATE_TERMS[1]}'
  GROUP BY a.doc_id
),
toks AS (SELECT doc_id, unnest(ts) AS term FROM t),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
q AS (SELECT unnest({sorted(set(PHRASE_GATE_TERMS))!r}) AS term),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1 + (stats.n_docs - dft.df + 0.5) / (dft.df + 0.5))
             * tf.tf
             / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                + {BM25_B} * dl.dl / stats.avgdl))) AS raw_score
  FROM tf
  JOIN q USING (term)
  JOIN dft USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT m.n_matches, s.doc_id, round(s.raw_score, 4) AS score
FROM scored s JOIN matches m USING (doc_id)
ORDER BY s.raw_score DESC, {_sql_url_hash_id('s.doc_id')} LIMIT 10
"""


#: Websearch-boolean gate query: prefix expansion (s* → scan/slow/small/
#: sort/spark/stream in the driver vocabulary), suffix expansion
#: (*er → customer/filter/order via the reversed-term dictionary), AND,
#: OR, and NOT in one DNF. Score = BM25 over the distinct positive terms
#: present per doc (plans/boolean.py documents the semantics).
BOOLEAN_GATE_QUERY = "s* window OR merge -slow OR *er -batch"


def q_bm25_boolean_engine(spark, sf_dir):
    """Engine gate for websearch-style BOOLEAN retrieval
    (plans/boolean.py — the ``websearch_to_tsquery`` surface users type
    against the Postgres GIN index the reference creates,
    ``data-pipeline/database.py:60``): parse → DNF → one per-bucket
    intersection kernel over the term-pruned postings scan, vs a
    declarative DuckDB oracle that evaluates the same clauses with
    EXISTS / NOT EXISTS / LIKE-prefix subqueries."""
    store, qe = _engine_warehouse(spark, sf_dir)
    top = qe.boolean_top_k_df(BOOLEAN_GATE_QUERY, k=10)
    return _engine_ids_back(store, top, [])


SQL_BM25_BOOLEAN_ENGINE = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOK_SQL}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
matched AS (
  SELECT dl.doc_id FROM dl
  WHERE (EXISTS (SELECT 1 FROM tf WHERE tf.doc_id = dl.doc_id
                 AND tf.term = 'window')
         AND EXISTS (SELECT 1 FROM tf WHERE tf.doc_id = dl.doc_id
                     AND tf.term LIKE 's%'))
     OR (EXISTS (SELECT 1 FROM tf WHERE tf.doc_id = dl.doc_id
                 AND tf.term = 'merge')
         AND NOT EXISTS (SELECT 1 FROM tf WHERE tf.doc_id = dl.doc_id
                         AND tf.term = 'slow'))
     OR (EXISTS (SELECT 1 FROM tf WHERE tf.doc_id = dl.doc_id
                 AND tf.term LIKE '%er')
         AND NOT EXISTS (SELECT 1 FROM tf WHERE tf.doc_id = dl.doc_id
                         AND tf.term = 'batch'))
),
pos_terms AS (
  SELECT term FROM dft
  WHERE term IN ('window', 'merge') OR term LIKE 's%' OR term LIKE '%er'
),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1 + (stats.n_docs - dft.df + 0.5) / (dft.df + 0.5))
             * tf.tf
             / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                + {BM25_B} * dl.dl / stats.avgdl))) AS raw_score
  FROM tf
  JOIN pos_terms USING (term)
  JOIN dft USING (term)
  JOIN dl USING (doc_id)
  JOIN matched USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(raw_score, 4) AS score
FROM scored ORDER BY raw_score DESC, {_sql_url_hash_id('doc_id')} LIMIT 10
"""


def q_facet_counts_engine(spark, sf_dir):
    """Engine gate for FACETED counts (the aggregation a search UI
    renders beside results — the reference's category sidebar over its
    ``category`` column): disjunctive match set → doc_meta join →
    two-level count by facet value."""
    _store, qe = _engine_warehouse(spark, sf_dir)
    return (qe.facet_counts(" ".join(BM25_QUERY_TERMS), by="lang")
            .select("lang", "n_docs"))


SQL_FACET_COUNTS = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOK_SQL}) AS term FROM documents
)
SELECT d.lang AS lang, count(*) AS n_docs
FROM documents d
WHERE EXISTS (SELECT 1 FROM toks
              WHERE toks.doc_id = d.doc_id
                AND toks.term IN ('join', 'spark', 'window'))
GROUP BY d.lang
"""


# ---------------------------------------------------------------------------
# Relational operators (Q2–Q12, S-series) over the TPC-H-ish tables
# ---------------------------------------------------------------------------

def q_agg_pushdown(spark, sf_dir):
    """TPC-H Q1 shape: filtered scan → partial-agg groupBy (map-side combine)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= F.lit("1997-06-01").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.avg("l_discount"), 4).alias("avg_disc"),
                 F.count(F.lit(1)).alias("count_order")))


SQL_AGG_PUSHDOWN = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1997-06-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_topk_orderby_limit(spark, sf_dir):
    """Q8/Q9: ORDER BY DESC + LIMIT → TakeOrderedAndProject."""
    return (_t(spark, sf_dir, "orders")
            .select("o_orderkey", "o_totalprice")
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).limit(10))


SQL_TOPK = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def q_pagination_offset(spark, sf_dir):
    """Q9 OFFSET via row_number window (rows 11–20 of the ranking)."""
    w = Window.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (_t(spark, sf_dir, "orders")
            .select("o_orderkey", "o_totalprice",
                    F.row_number().over(w).alias("rn"))
            .filter((F.col("rn") > 10) & (F.col("rn") <= 20)))


SQL_PAGINATION = """
SELECT o_orderkey, o_totalprice, rn FROM (
  SELECT o_orderkey, o_totalprice,
         row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn > 10 AND rn <= 20
"""


def q_filter_range_count(spark, sf_dir):
    """Q5/Q6/Q10: independent range bounds + threshold + count."""
    return (_t(spark, sf_dir, "lineitem")
            .filter(F.col("l_extendedprice").between(1000.0, 5000.0)
                    & (F.col("l_quantity") >= 25.0))
            .agg(F.count(F.lit(1)).alias("cnt")))


SQL_FILTER_RANGE_COUNT = """
SELECT count(*) AS cnt FROM lineitem
WHERE l_extendedprice BETWEEN 1000.0 AND 5000.0 AND l_quantity >= 25.0
"""


def q_substring_ci_filter(spark, sf_dir):
    """Q4: case-insensitive substring filter."""
    return (_t(spark, sf_dir, "orders")
            .filter(F.lower(F.col("o_orderpriority")).contains("urgent"))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("cnt")))


SQL_SUBSTRING_CI = """
SELECT o_orderpriority, count(*) AS cnt FROM orders
WHERE lower(o_orderpriority) LIKE '%urgent%'
GROUP BY o_orderpriority
"""


def q_array_contains(spark, sf_dir):
    """Q3: array membership over the tokenized text column."""
    return (_t(spark, sf_dir, "documents")
            .select("doc_id", F.expr(TOK_SPARK).alias("toks"))
            .filter(F.array_contains("toks", "spark"))
            .select("doc_id"))


SQL_ARRAY_CONTAINS = f"""
SELECT doc_id FROM documents
WHERE list_contains({TOK_SQL}, 'spark')
"""


def q_join_agg_broadcast(spark, sf_dir):
    """Dim joins (broadcast) + group agg — orders × customer × nation."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
            .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
            .groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("sum_price")))


SQL_JOIN_AGG = """
SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_price
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_semi_anti_join(spark, sf_dir):
    """LEFT SEMI / LEFT ANTI joins: customers with vs without orders."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    semi = (c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi")
            .withColumn("kind", F.lit("with_orders")))
    anti = (c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
            .withColumn("kind", F.lit("without_orders")))
    return (semi.unionByName(anti).groupBy("kind")
            .agg(F.count(F.lit(1)).alias("n_customers")))


SQL_SEMI_ANTI = """
SELECT kind, count(*) AS n_customers FROM (
  SELECT c_custkey, 'with_orders' AS kind FROM customer
  WHERE c_custkey IN (SELECT o_custkey FROM orders)
  UNION ALL
  SELECT c_custkey, 'without_orders' FROM customer
  WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
) GROUP BY kind
"""


def q_having_filter(spark, sf_dir):
    """GROUP BY ... HAVING: parts appearing on many lineitems."""
    return (_t(spark, sf_dir, "lineitem")
            .groupBy("l_partkey")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.round(F.sum("l_quantity"), 2).alias("total_qty"))
            .filter(F.col("n_lines") >= 8))


SQL_HAVING = """
SELECT l_partkey, count(*) AS n_lines,
       round(sum(l_quantity), 2) AS total_qty
FROM lineitem GROUP BY l_partkey HAVING count(*) >= 8
"""


def q_exists_subquery(spark, sf_dir):
    """Correlated-EXISTS shape: suppliers whose nation has customers with
    an above-average account balance (expressed as joins in Spark)."""
    c = _t(spark, sf_dir, "customer")
    avg_bal = c.agg(F.avg("c_acctbal").alias("ab"))
    rich_nations = (c.crossJoin(F.broadcast(avg_bal))
                    .filter(F.col("c_acctbal") > F.col("ab"))
                    .select("c_nationkey").distinct())
    s = _t(spark, sf_dir, "supplier")
    return (s.join(F.broadcast(rich_nations),
                   s["s_nationkey"] == rich_nations["c_nationkey"],
                   "left_semi")
            .select("s_suppkey", "s_nationkey"))


SQL_EXISTS_SUBQUERY = """
SELECT s_suppkey, s_nationkey FROM supplier s
WHERE EXISTS (
  SELECT 1 FROM customer c
  WHERE c.c_nationkey = s.s_nationkey
    AND c.c_acctbal > (SELECT avg(c_acctbal) FROM customer)
)
"""


def q_having_exists(spark, sf_dir):
    """Combined relational entry (r3 registry fold): the correlated-
    EXISTS shape (``q_exists_subquery``) feeding a GROUP BY ... HAVING
    (``q_having_filter``) — suppliers in rich nations, counted per
    nation, nations with >= 2 such suppliers. Both retired single-facet
    entries stay pinned in tests/test_driver_contract.py."""
    c = _t(spark, sf_dir, "customer")
    avg_bal = c.agg(F.avg("c_acctbal").alias("ab"))
    rich_nations = (c.crossJoin(F.broadcast(avg_bal))
                    .filter(F.col("c_acctbal") > F.col("ab"))
                    .select("c_nationkey").distinct())
    s = _t(spark, sf_dir, "supplier")
    return (s.join(F.broadcast(rich_nations),
                   s["s_nationkey"] == rich_nations["c_nationkey"],
                   "left_semi")
            .groupBy("s_nationkey")
            .agg(F.count(F.lit(1)).alias("n_suppliers"))
            .filter(F.col("n_suppliers") >= 2))


SQL_HAVING_EXISTS = """
SELECT s_nationkey, count(*) AS n_suppliers
FROM supplier s
WHERE EXISTS (
  SELECT 1 FROM customer c
  WHERE c.c_nationkey = s.s_nationkey
    AND c.c_acctbal > (SELECT avg(c_acctbal) FROM customer)
)
GROUP BY s_nationkey HAVING count(*) >= 2
"""


def q_merge_latest(spark, sf_dir):
    """S4 upsert keep-latest semantics: arg-max row per key."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (_t(spark, sf_dir, "orders")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("o_custkey", F.col("o_orderkey").alias("latest_orderkey")))


SQL_MERGE_LATEST = """
SELECT o_custkey, o_orderkey AS latest_orderkey FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Ingest normalization parsers (P2, P4, P5, P6) — data_ingestion.py analogues
# ---------------------------------------------------------------------------

def q_parse_price(spark, sf_dir):
    """P2 (data_ingestion.py:119-129): strip non-numeric chars → double."""
    p = _t(spark, sf_dir, "part").withColumn(
        "raw", F.concat(F.lit("USD "), F.col("p_size").cast("string"),
                        F.lit(".99 approx")))
    return p.select(
        "p_partkey",
        F.regexp_replace("raw", r"[^0-9.]", "").cast("double")
        .alias("price_parsed"))


SQL_PARSE_PRICE = """
SELECT p_partkey,
       CAST(regexp_replace(
            concat('USD ', CAST(p_size AS VARCHAR), '.99 approx'),
            '[^0-9.]', '', 'g') AS DOUBLE) AS price_parsed
FROM part
"""


def q_parse_reviewcount(spark, sf_dir):
    """P5 (data_ingestion.py:162-177): '12K' → 12000, '3M' → 3000000."""
    p = _t(spark, sf_dir, "part").withColumn(
        "raw", F.when(F.col("p_partkey") % 2 == 0,
                      F.concat(F.col("p_size").cast("string"), F.lit("K")))
               .otherwise(F.concat(F.col("p_size").cast("string"), F.lit("M"))))
    num = F.regexp_replace("raw", "[KM]", "").cast("double")
    return p.select(
        "p_partkey",
        F.when(F.upper("raw").contains("K"), num * 1000)
        .when(F.upper("raw").contains("M"), num * 1000000)
        .otherwise(num).cast("long").alias("review_count"))


SQL_PARSE_REVIEWCOUNT = """
SELECT p_partkey,
       CAST(CASE
         WHEN raw LIKE '%K' THEN CAST(regexp_replace(raw, '[KM]', '', 'g') AS DOUBLE) * 1000
         WHEN raw LIKE '%M' THEN CAST(regexp_replace(raw, '[KM]', '', 'g') AS DOUBLE) * 1000000
         ELSE CAST(regexp_replace(raw, '[KM]', '', 'g') AS DOUBLE)
       END AS BIGINT) AS review_count
FROM (
  SELECT p_partkey,
         CASE WHEN p_partkey % 2 = 0
              THEN concat(CAST(p_size AS VARCHAR), 'K')
              ELSE concat(CAST(p_size AS VARCHAR), 'M') END AS raw
  FROM part
)
"""


def q_parse_price_reviewcount(spark, sf_dir):
    """P2+P5 in one verified entry (registry window economy, VERDICT r2
    #1 discipline): both ingest parsers over the same `part` scan."""
    price = q_parse_price(spark, sf_dir)
    rc = q_parse_reviewcount(spark, sf_dir)
    return price.join(rc, "p_partkey")


SQL_PARSE_PRICE_REVIEWCOUNT = f"""
SELECT p.p_partkey, p.price_parsed, r.review_count
FROM ({SQL_PARSE_PRICE}) p JOIN ({SQL_PARSE_REVIEWCOUNT}) r
USING (p_partkey)
"""


def q_rating_clamp(spark, sf_dir):
    """P4 (data_ingestion.py:150-160): clamp to [0, 5]."""
    return (_t(spark, sf_dir, "events")
            .select("event_id",
                    F.least(F.greatest(F.col("value"), F.lit(0.0)),
                            F.lit(5.0)).alias("rating_clamped")))


SQL_RATING_CLAMP = """
SELECT event_id, least(greatest(value, 0.0), 5.0) AS rating_clamped
FROM events
"""


def q_json_extract(spark, sf_dir):
    """JSON prop decode (test-shim analogue TestProductRepository.java:36-44)."""
    return (_t(spark, sf_dir, "events")
            .select("event_id",
                    F.get_json_object("props", "$.k").cast("long").alias("k")))


SQL_JSON_EXTRACT = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events
"""


def q_null_normalization(spark, sf_dir):
    """P6 (data_ingestion.py:81-98): trim/empty→default normalization."""
    return (_t(spark, sf_dir, "part")
            .select("p_partkey",
                    F.coalesce(F.nullif(F.trim(F.col("p_brand")), F.lit("")),
                               F.lit("unknown")).alias("brand_norm")))


SQL_NULL_NORMALIZATION = """
SELECT p_partkey,
       coalesce(nullif(trim(p_brand), ''), 'unknown') AS brand_norm
FROM part
"""


def q_parse_category(spark, sf_dir):
    """P3 (data_ingestion.py:131-148): delimited category string -> array.

    Reference semantics: normalize '|' and '>' delimiters to ',', split,
    trim each segment, drop empties, truncate to the first 5. The array is
    built as a real array<string> column; for the driver's value-hash the
    result is projected to a canonical join + size (scalar columns hash
    identically across Spark/DuckDB, arrays do not round-trip stably
    through the harness).
    """
    p = _t(spark, sf_dir, "part").withColumn(
        "raw", F.concat(F.col("p_brand"), F.lit(" | "), F.col("p_type"),
                        F.lit(" > a ,b,, c , d , e")))
    parts = F.split(F.regexp_replace(F.col("raw"), r"[|>]", ","), ",")
    cats = F.slice(
        F.filter(F.transform(parts, lambda c: F.trim(c)),
                 lambda c: c != F.lit("")),
        1, 5)
    return p.select(
        "p_partkey",
        F.array_join(cats, "||").alias("categories_joined"),
        F.size(cats).alias("n_categories"))


SQL_PARSE_CATEGORY = """
SELECT p_partkey,
       array_to_string(cats, '||') AS categories_joined,
       CAST(len(cats) AS INTEGER) AS n_categories
FROM (
  SELECT p_partkey,
         list_slice(
           list_filter(
             list_transform(
               string_split(regexp_replace(raw, '[|>]', ',', 'g'), ','),
               c -> trim(c)),
             c -> c <> ''),
           1, 5) AS cats
  FROM (
    SELECT p_partkey,
           concat(p_brand, ' | ', p_type, ' > a ,b,, c , d , e') AS raw
    FROM part
  )
)
"""


# ---------------------------------------------------------------------------
# Training-data pipeline extras: dedup, text analysis, similarity
# ---------------------------------------------------------------------------

def q_dedup_fingerprint_groups(spark, sf_dir):
    """X1 in one verified entry: per-doc content fingerprint PLUS its
    group's survivor/cardinality via a window over the fingerprint —
    covers both the hash and the groupBy-dedup semantics at once."""
    from pyspark.sql.window import Window

    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    w = Window.partitionBy("fingerprint")
    return (_t(spark, sf_dir, "documents")
            .select("doc_id", F.md5(norm.cast("binary")).alias("fingerprint"))
            .withColumn("keep_doc_id", F.min("doc_id").over(w))
            .withColumn("n_dups", F.count(F.lit(1)).over(w)))


SQL_DEDUP_FINGERPRINT_GROUPS = """
SELECT doc_id,
       md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fingerprint,
       min(doc_id) OVER w AS keep_doc_id,
       count(*) OVER w AS n_dups
FROM documents
WINDOW w AS (PARTITION BY md5(regexp_replace(lower(text), '\\s+', ' ', 'g')))
"""


def q_minhash_signature(spark, sf_dir):
    """MinHash (2 permutations via keyed md5) over distinct token sets."""
    toks = _toks(spark, sf_dir).distinct()
    return toks.groupBy("doc_id").agg(
        F.min(F.md5(F.concat(F.col("term"), F.lit(":s1")).cast("binary")))
        .alias("mh1"),
        F.min(F.md5(F.concat(F.col("term"), F.lit(":s2")).cast("binary")))
        .alias("mh2"))


SQL_MINHASH = f"""
SELECT doc_id,
       min(md5(concat(term, ':s1'))) AS mh1,
       min(md5(concat(term, ':s2'))) AS mh2
FROM (SELECT DISTINCT doc_id, unnest({TOK_SQL}) AS term FROM documents)
GROUP BY doc_id
"""


def _adjacent_jaccard(units, out_col: str):
    """Jaccard between doc d and d+1 over distinct set elements (column
    ``u``), for doc_id < 99 — shared by the unigram and bigram variants."""
    a = units.alias("a")
    b = units.select((F.col("doc_id") - 1).alias("doc_id"),
                     F.col("u")).alias("b")
    inter = (a.join(b, ["doc_id", "u"])
             .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_inter")))
    sizes = units.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sz_b = sizes.select((F.col("doc_id") - 1).alias("doc_id"),
                        F.col("n").alias("n_next"))
    return (sizes.join(sz_b, "doc_id").join(inter, "doc_id", "left")
            .filter(F.col("doc_id") < 99)
            .select("doc_id",
                    F.round(F.coalesce(F.col("n_inter"), F.lit(0))
                            / (F.col("n") + F.col("n_next")
                               - F.coalesce(F.col("n_inter"), F.lit(0))), 4)
                    .alias(out_col)))


def q_jaccard_pairs(spark, sf_dir):
    """n-gram (1-gram) Jaccard similarity between adjacent doc pairs."""
    toks = (_toks(spark, sf_dir).distinct().filter(F.col("doc_id") < 100)
            .withColumnRenamed("term", "u"))
    return _adjacent_jaccard(toks, "jaccard")


SQL_JACCARD = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest({TOK_SQL}) AS term
  FROM documents WHERE doc_id < 100
),
sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
inter AS (
  SELECT a.doc_id, count(*) AS n_inter
  FROM toks a JOIN toks b ON b.doc_id = a.doc_id + 1 AND b.term = a.term
  GROUP BY a.doc_id
)
SELECT s.doc_id,
       round(coalesce(i.n_inter, 0)
             / (s.n + s2.n - coalesce(i.n_inter, 0)), 4) AS jaccard
FROM sizes s
JOIN sizes s2 ON s2.doc_id = s.doc_id + 1
LEFT JOIN inter i ON i.doc_id = s.doc_id
WHERE s.doc_id < 99
"""


def q_jaccard_bigram_pairs(spark, sf_dir):
    """Token-BIGRAM Jaccard between adjacent doc pairs — the n>1 n-gram
    dedup variant (unigram version: ``jaccard_pairs``). Bigrams preserve
    word order, so shuffled near-dups that fool unigram Jaccard score low
    here."""
    d = (_t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
         .withColumn("toks", F.expr(TOK_SPARK)))
    grams = d.select(
        "doc_id",
        F.explode(F.when(
            F.size("toks") >= 2,
            F.zip_with(F.expr("slice(toks, 1, size(toks)-1)"),
                       F.expr("slice(toks, 2, size(toks)-1)"),
                       lambda a, b: F.concat(a, F.lit(" "), b)))
            .otherwise(F.array().cast("array<string>"))).alias("u")
    ).distinct()
    return _adjacent_jaccard(grams, "jaccard_bigram")


SQL_JACCARD_BIGRAM = f"""
WITH t AS (
  SELECT doc_id, {TOK_SQL} AS toks FROM documents WHERE doc_id < 100
),
grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS gram
  FROM t
),
sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id, count(*) AS n_inter
  FROM grams a JOIN grams b ON b.doc_id = a.doc_id + 1 AND b.gram = a.gram
  GROUP BY a.doc_id
)
SELECT s.doc_id,
       round(coalesce(i.n_inter, 0)
             / (s.n + nx.n - coalesce(i.n_inter, 0)), 4) AS jaccard_bigram
FROM sizes s
JOIN (SELECT doc_id - 1 AS doc_id, n FROM sizes) nx ON nx.doc_id = s.doc_id
LEFT JOIN inter i ON i.doc_id = s.doc_id
WHERE s.doc_id < 99
"""


def q_jaccard_pair_metrics(spark, sf_dir):
    """Unigram + bigram Jaccard between adjacent doc pairs as ONE entry
    (each remains fully column-verified; folded so the phrase engine gate
    fits the driver's 50-entry window — same consolidation pattern as
    text_quality_metrics, VERDICT r2 #1)."""
    return (q_jaccard_pairs(spark, sf_dir)
            .join(q_jaccard_bigram_pairs(spark, sf_dir), "doc_id"))


SQL_JACCARD_METRICS = f"""
SELECT u.doc_id, u.jaccard, g.jaccard_bigram
FROM ({SQL_JACCARD}) u JOIN ({SQL_JACCARD_BIGRAM}) g USING (doc_id)
"""


def q_binary_payload_stats(spark, sf_dir):
    """Multimodal binary-column gate (sources/multimodal.py), two layers:

    * metadata WITHOUT decode: byte length + content hash of an opaque
      payload (utf-8 bytes of the text column standing in for blobs);
    * a REAL codec round-trip (round 4 — X7 no longer partial): per doc,
      a deterministic int16 signal (a pure function of doc_id, so DuckDB
      can mirror it arithmetically) is encoded to genuine RIFF/WAVE PCM
      bytes by the stdlib ``wave`` writer and decoded back by the
      engine's manual RIFF parser (``decode_media(codec="real")``); the
      emitted integer aggregates (n_samples, sample_sum, sample_peak)
      match the oracle's closed-form only if every byte of the container
      was written and parsed correctly.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("n_samples bigint, sample_sum bigint, sample_peak bigint")
    def wav_roundtrip(doc_id: pd.Series) -> pd.DataFrame:
        from semantic_search_engine_spark.sources.multimodal import (
            decode_media, encode_wav_pcm16)
        ns, ss, pk = [], [], []
        for d in doc_id:
            d = int(d)
            m = d % 65536
            n = d % 17 + 3
            vals = np.array([(m * 31 + k * 7) % 65536 - 32768
                             for k in range(n)], dtype=np.int16)
            x = decode_media(encode_wav_pcm16(vals), "audio", codec="real")
            # int16/32768 is exactly representable in float32: recover
            # the integers losslessly and aggregate hash-exact
            ints = np.rint(x.astype(np.float64) * 32768.0).astype(np.int64)
            ns.append(len(ints))
            ss.append(int(ints.sum()))
            pk.append(int(np.abs(ints).max()))
        return pd.DataFrame({"n_samples": ns, "sample_sum": ss,
                             "sample_peak": pk})

    d = _t(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return (d.select("doc_id",
                     F.length(payload).alias("n_bytes"),
                     F.md5(payload).alias("payload_md5"),
                     wav_roundtrip(F.col("doc_id")).alias("w"))
            .select("doc_id", "n_bytes", "payload_md5",
                    F.col("w.n_samples").alias("n_samples"),
                    F.col("w.sample_sum").alias("sample_sum"),
                    F.col("w.sample_peak").alias("sample_peak")))


SQL_BINARY_PAYLOAD = """
WITH s AS (
  SELECT doc_id,
         unnest(generate_series(0, CAST(doc_id % 17 AS INTEGER) + 2)) AS k
  FROM documents),
sig AS (
  SELECT doc_id, ((doc_id % 65536) * 31 + k * 7) % 65536 - 32768 AS v
  FROM s),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
         CAST(sum(v) AS BIGINT) AS sample_sum,
         CAST(max(abs(v)) AS BIGINT) AS sample_peak
  FROM sig GROUP BY doc_id)
SELECT d.doc_id,
       CAST(octet_length(encode(d.text)) AS INTEGER) AS n_bytes,
       md5(d.text) AS payload_md5,
       a.n_samples, a.sample_sum, a.sample_peak
FROM documents d JOIN agg a USING (doc_id)
"""


def q_langid_heuristic(spark, sf_dir):
    """Language-ID heuristic: function-word ratio → 'en' / 'other'."""
    toks = _toks(spark, sf_dir)
    agg = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("term").isin(STOPWORDS), 1).otherwise(0))
        .alias("n_stop"))
    return agg.select(
        "doc_id",
        F.when(F.col("n_stop") / F.col("n") >= 0.03, "en")
        .otherwise("other").alias("pred_lang"))


SQL_LANGID = f"""
SELECT doc_id,
       CASE WHEN n_stop * 1.0 / n >= 0.03 THEN 'en' ELSE 'other' END
         AS pred_lang
FROM (
  SELECT doc_id, count(*) AS n,
         sum(CASE WHEN term IN ({', '.join(repr(s) for s in STOPWORDS)})
                  THEN 1 ELSE 0 END) AS n_stop
  FROM (SELECT doc_id, unnest({TOK_SQL}) AS term FROM documents)
  GROUP BY doc_id
)
"""


def q_quality_score(spark, sf_dir):
    """Quality features: token count, type-token ratio, mean token length.

    Driver-verified via the combined ``text_quality_metrics`` entry (the
    registry is capped at the driver's 50-entry verification window —
    VERDICT r2 #1); every column is still hash-compared there."""
    toks = _toks(spark, sf_dir)
    return (toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.countDistinct("term") / F.count(F.lit(1)), 4).alias("ttr"),
        F.round(F.avg(F.length("term")), 4).alias("avg_token_len")))


SQL_QUALITY = f"""
SELECT doc_id, count(*) AS n_tokens,
       round(count(DISTINCT term) * 1.0 / count(*), 4) AS ttr,
       round(avg(length(term)), 4) AS avg_token_len
FROM (SELECT doc_id, unnest({TOK_SQL}) AS term FROM documents)
GROUP BY doc_id
"""


def q_text_quality_metrics(spark, sf_dir):
    """Combined per-doc text-quality panel: the token-level features
    (``q_quality_score``), the character-class ratios
    (``q_punct_quality``), the stopword density (``q_stopword_ratio``),
    and — since the r3 registry fold — the three corpus-size estimators
    (``q_token_counts``: whitespace / alnum-run / BPE-ish tokens),
    joined on doc_id: one driver entry verifying all eleven columns of
    the web-corpus quality-filter feature set. The retired
    ``token_counts`` entry stays pinned in tests."""
    return (q_quality_score(spark, sf_dir)
            .join(q_punct_quality(spark, sf_dir), "doc_id")
            .join(q_stopword_ratio(spark, sf_dir), "doc_id")
            .join(q_token_counts(spark, sf_dir), "doc_id"))


# SQL composed from the same single-facet oracles
def _sql_text_quality_metrics() -> str:
    return f"""
SELECT q.doc_id, q.n_tokens, q.ttr, q.avg_token_len,
       p.n_chars, p.alnum_ratio, p.punct_ratio, s.stopword_ratio,
       tc.ws_tokens, tc.alnum_tokens, tc.bpe_tokens
FROM ({SQL_QUALITY}) q
JOIN ({SQL_PUNCT_QUALITY}) p ON q.doc_id = p.doc_id
JOIN ({SQL_STOPWORD_RATIO}) s ON q.doc_id = s.doc_id
JOIN ({_sql_token_counts()}) tc ON q.doc_id = tc.doc_id
"""


def q_token_count(spark, sf_dir):
    """Token counting: whitespace tokens vs alnum-run tokens per doc.
    Driver-verified via the combined ``token_counts`` entry."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).alias("ws_tokens"),
        F.size(F.expr(TOK_SPARK)).alias("alnum_tokens"))


SQL_TOKEN_COUNT = f"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
       len({TOK_SQL}) AS alnum_tokens
FROM documents
"""


def q_token_counts(spark, sf_dir):
    """All three corpus-size estimators in one driver entry: whitespace
    tokens, alnum-run tokens (the index tokenizer), and BPE-ish
    pre-tokenizer tokens — the standard set for training-data
    budgeting."""
    return (q_token_count(spark, sf_dir)
            .join(q_bpe_token_count(spark, sf_dir)
                  .select("doc_id", "bpe_tokens"), "doc_id"))


def _sql_token_counts() -> str:
    return f"""
SELECT t.doc_id, t.ws_tokens, t.alnum_tokens, b.bpe_tokens
FROM ({SQL_TOKEN_COUNT}) t
JOIN ({SQL_BPE_TOKEN_COUNT}) b ON t.doc_id = b.doc_id
"""


# GPT-2-style pre-tokenizer pattern (public), lowercase variant: English
# contractions, letter runs, digit runs, punctuation runs — each with an
# optional leading space (the BPE word-boundary convention).
BPE_PATTERN = (
    r"'s|'t|'re|'ve|'m|'ll|'d| ?[a-z]+| ?[0-9]+| ?[^\sa-z0-9]+|\s+")


def q_bpe_token_count(spark, sf_dir):
    """BPE-ish token counting next to whitespace counting — the two
    standard corpus-size estimators for training-data budgeting."""
    d = _t(spark, sf_dir, "documents")
    bpe = f"regexp_extract_all(lower(text), \"{BPE_PATTERN}\", 0)"
    return d.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).alias("ws_tokens"),
        F.expr(f"size(filter({bpe}, x -> x not rlike '^\\\\s+$'))")
        .alias("bpe_tokens"))


SQL_BPE_TOKEN_COUNT = f"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
       len(list_filter(
            regexp_extract_all(lower(text), '{BPE_PATTERN.replace("'", "''")}'),
            x -> NOT regexp_matches(x, '^\\s+$'))) AS bpe_tokens
FROM documents
"""


def q_embedding_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 vs vec_id=0 (ANN baseline; E-similarity).

    Dot/norm via zip_with + aggregate — JVM-side, no Python.
    """
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    probe = e.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("p"))
    dot = F.aggregate(F.zip_with("v", "p", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    nv = F.sqrt(F.aggregate(F.zip_with("v", "v", lambda x, y: x * y),
                            F.lit(0.0), lambda acc, x: acc + x))
    np_ = F.sqrt(F.aggregate(F.zip_with("p", "p", lambda x, y: x * y),
                             F.lit(0.0), lambda acc, x: acc + x))
    return (e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(probe))
            .select("vec_id", (dot / (nv * np_)).alias("raw_cos"))
            .orderBy(F.desc("raw_cos"), F.asc("vec_id")).limit(10)
            .select("vec_id", F.round("raw_cos", 4).alias("cosine")))


SQL_EMBEDDING_COSINE = """
WITH exploded AS (
  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
         unnest(generate_series(1, len(embedding))) AS i
  FROM embeddings
),
probe AS (SELECT i, x AS y FROM exploded WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         sum(e.x * p.y) / (sqrt(sum(e.x * e.x)) * sqrt(sum(p.y * p.y)))
           AS raw_cos
  FROM exploded e JOIN probe p USING (i)
  WHERE e.vec_id != 0
  GROUP BY e.vec_id
)
SELECT vec_id, round(raw_cos, 4) AS cosine
FROM scored ORDER BY raw_cos DESC, vec_id LIMIT 10
"""


#: list count for the IVF probe gate — small corpus (500 vectors at
#: sf0.01), so the sizing floor; the gate probes ALL of them (bit-equal
#: regime), making the oracle independent of the k-means outcome
ANN_IVF_GATE_LISTS = 8


def q_ann_ivf_probe_topk(spark, sf_dir):
    """THE DEFAULT SEMANTIC SERVE PLAN under the driver oracle (VERDICT
    r4 #2): the persisted-IVF lifecycle end-to-end — ``build_ann`` over
    a committed ``doc_embeddings`` table (k-means centroids + list-
    partitioned assignments, save/resume via source_uuid), then
    ``QueryEngine.semantic_top_k_df(ann='ivf')`` serving the probe from
    storage with partition-pruned ``list_id`` probes. At
    ``n_probe = n_lists`` every list is scanned, so the result must be
    EXACTLY the brute cosine top-10 the SQL oracle computes — the same
    bit-equal pin as ``tests/test_ann_serve.py``, now driver-verified.

    The reference's analogue is its pgvector ivfflat accelerator
    (``data-pipeline/database.py:47-54``) serving
    ``ProductRepository.java:72``'s cosine ranking.
    """
    import hashlib as _hl
    import os as _os

    from .config import EngineConfig
    from .lineage import ENGINE_FORMAT_VERSION
    from .plans.build_index import IndexBuilder
    from .plans.query import QueryEngine
    from .sources.store import HadoopTableStore

    wh = _os.path.join(
        "/tmp", f"sse_contract_annwh_v{ENGINE_FORMAT_VERSION}_"
        + _hl.sha256(sf_dir.encode()).hexdigest()[:10])
    store = HadoopTableStore(spark, wh)
    meta = store.table_meta("doc_embeddings") if store.exists(
        "doc_embeddings") else None
    if not meta or meta.get("input_version") != sf_dir:
        # vec 0 is the probe, not a candidate (mirrors the oracle's
        # vec_id != 0) — keep it out of the served table
        e = (_t(spark, sf_dir, "embeddings")
             .filter(F.col("vec_id") != 0)
             .select(F.col("vec_id").alias("doc_id"),
                     F.col("embedding").alias("emb")))
        store.write("doc_embeddings", e, meta={"input_version": sf_dir})
    cfg = EngineConfig(n_doc_buckets=8, n_term_buckets=8,
                       shuffle_partitions=8, block_size=32)
    IndexBuilder(spark, store, cfg).build_ann(
        n_lists=ANN_IVF_GATE_LISTS, n_iters=3)  # resume no-op on rerun
    probe = [float(x) for x in
             _t(spark, sf_dir, "embeddings")
             .filter(F.col("vec_id") == 0)
             .select("embedding").collect()[0]["embedding"]]
    qe = QueryEngine(spark, store, cfg)
    top = qe.semantic_top_k_df("", k=10, probe=probe, ann="ivf",
                               n_probe=ANN_IVF_GATE_LISTS)
    return top.select(F.col("doc_id").alias("vec_id"),
                      F.round("cosine", 4).alias("cosine"))


#: exact brute cosine vs vec 0 — identical to SQL_EMBEDDING_COSINE: at
#: full probe the IVF plan must reproduce it exactly
SQL_ANN_IVF_PROBE = SQL_EMBEDDING_COSINE


def q_simhash(spark, sf_dir):
    """SimHash (16-bit, md5-derived bit weights) per document.

    Per-occurrence weighting (tf counts); bit b of the signature is the sign
    of Σ_tokens (±1 by bit b of the 60-bit token hash).
    """
    toks = _toks(spark, sf_dir)
    h = F.conv(F.substring(F.md5(F.col("term").cast("binary")), 1, 15),
               16, 10).cast("long")
    bits = (toks.select("doc_id", h.alias("h"))
            .select("doc_id", "h",
                    F.explode(F.sequence(F.lit(0), F.lit(15))).alias("bit")))
    contrib = F.when(
        F.expr("shiftright(h, bit)").bitwiseAND(F.lit(1)) == 1,
        F.lit(1)).otherwise(F.lit(-1))
    per_bit = (bits.groupBy("doc_id", "bit")
               .agg(F.sum(contrib).alias("s")))
    return (per_bit.groupBy("doc_id")
            .agg(F.sum(F.when(F.col("s") > 0,
                              F.expr("shiftleft(CAST(1 AS BIGINT), bit)"))
                       .otherwise(F.lit(0))).alias("simhash16")))


SQL_SIMHASH = f"""
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
            AS BIGINT) AS simhash16
FROM (
  SELECT doc_id, bit,
         sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM (
    SELECT doc_id,
           CAST(concat('0x', substr(md5(term), 1, 15)) AS BIGINT) AS h
    FROM (SELECT doc_id, unnest({TOK_SQL}) AS term FROM documents)
  ), (SELECT unnest(generate_series(0, 15)) AS bit)
  GROUP BY doc_id, bit
)
GROUP BY doc_id
"""


def q_simhash_neardup_pairs(spark, sf_dir):
    """SimHash near-dup: doc pairs with hamming distance <= 3 on the 16-bit
    signature (doc_id < 150 cap keeps the pair space bounded)."""
    sig = q_simhash(spark, sf_dir).filter(F.col("doc_id") < 150)
    a, b2 = sig.alias("a"), sig.alias("b")
    return (a.join(b2, F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.bit_count(F.col("a.simhash16")
                                .bitwiseXOR(F.col("b.simhash16")))
                    .alias("hamming"))
            .filter(F.col("hamming") <= 3))


SQL_SIMHASH_NEARDUP = f"""
WITH sig AS (
  SELECT * FROM ({SQL_SIMHASH}) WHERE doc_id < 150
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash16, b.simhash16)) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash16, b.simhash16)) <= 3
"""


def q_simhash_banded_pairs(spark, sf_dir):
    """Banded SimHash near-dup — the SCALE path for simhash_neardup_pairs.

    Pigeonhole: hamming(a, b) <= 3 over a 16-bit signature means at least
    one of 4 disjoint 4-bit bands is identical, so candidate pairs come
    from equality buckets on (band_idx, band_value) — Σ bucket² work
    instead of n² — then an exact hamming check filters false positives.
    Recall is exactly 100% for the <= 3 radius (not probabilistic like
    MinHash banding). The DuckDB oracle is deliberately the ALL-PAIRS
    computation over every document: the match proves banding loses no
    pair. At web scale the same shape runs on a 64-bit signature with
    4x16-bit bands (bucket fan-out 2^16 per band).
    """
    sig = q_simhash(spark, sf_dir)
    bands = (sig.select(
        "doc_id", "simhash16",
        F.explode(F.array(*[F.struct(
            F.lit(i).alias("band"),
            F.shiftright("simhash16", i * 4).bitwiseAND(F.lit(15))
            .alias("val")) for i in range(4)])).alias("bv"))
        .select("doc_id", "simhash16",
                F.col("bv.band").alias("band"), F.col("bv.val").alias("val")))
    a, b2 = bands.alias("a"), bands.alias("b")
    cand = (a.join(b2, ["band", "val"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.col("a.simhash16").alias("sa"),
                    F.col("b.simhash16").alias("sb"))
            .distinct())
    return (cand
            .select("doc_a", "doc_b",
                    F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
                    .alias("hamming"))
            .filter(F.col("hamming") <= 3))


SQL_SIMHASH_BANDED = f"""
WITH sig AS ({SQL_SIMHASH})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash16, b.simhash16)) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash16, b.simhash16)) <= 3
"""


def q_lsh_band_pairs(spark, sf_dir):
    """MinHash→LSH banding: 2 single-hash bands; docs sharing a band bucket
    become candidate pairs (the shingle→minhash→band→bucket-join shape)."""
    toks = _toks(spark, sf_dir).distinct().filter(F.col("doc_id") < 150)
    mh = lambda salt: F.min(
        F.md5(F.concat(F.col("term"), F.lit(salt)).cast("binary")))
    sig = toks.groupBy("doc_id").agg(mh(":b1").alias("band1"),
                                     mh(":b2").alias("band2"))
    pairs = None
    for band in ["band1", "band2"]:
        a, b2 = sig.alias("a"), sig.alias("b")
        p = (a.join(b2, (F.col(f"a.{band}") == F.col(f"b.{band}"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b")))
        pairs = p if pairs is None else pairs.unionByName(p)
    return (pairs.distinct()
            .groupBy("doc_a")
            .agg(F.count(F.lit(1)).alias("n_candidates")))


SQL_LSH_BAND_PAIRS = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest({TOK_SQL}) AS term
  FROM documents WHERE doc_id < 150
),
sig AS (
  SELECT doc_id, min(md5(concat(term, ':b1'))) AS band1,
         min(md5(concat(term, ':b2'))) AS band2
  FROM toks GROUP BY doc_id
),
pairs AS (
  SELECT DISTINCT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sig a JOIN sig b ON a.band1 = b.band1 AND a.doc_id < b.doc_id
    UNION ALL
    SELECT a.doc_id, b.doc_id
    FROM sig a JOIN sig b ON a.band2 = b.band2 AND a.doc_id < b.doc_id
  )
)
SELECT doc_a, count(*) AS n_candidates FROM pairs GROUP BY doc_a
"""


def q_shingle3_stats(spark, sf_dir):
    """3-gram shingling per doc: shingle count + distinct-shingle count +
    winnowing-style document fingerprint (min shingle hash)."""
    d = (_t(spark, sf_dir, "documents")
         .select("doc_id", F.expr(TOK_SPARK).alias("toks"))
         .filter(F.size("toks") >= 3))
    shingles = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 3),
        lambda i: F.concat_ws(" ", F.element_at("toks", i + 1),
                              F.element_at("toks", i + 2),
                              F.element_at("toks", i + 3)))
    return (d.select("doc_id", F.explode(shingles).alias("sh"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 F.countDistinct("sh").alias("n_distinct_shingles"),
                 F.min(F.md5(F.col("sh").cast("binary")))
                 .alias("fingerprint")))


SQL_SHINGLE3 = f"""
WITH t AS (
  SELECT doc_id, {TOK_SQL} AS toks FROM documents
  WHERE len({TOK_SQL}) >= 3
),
sh AS (
  SELECT doc_id,
         concat(toks[i+1], ' ', toks[i+2], ' ', toks[i+3]) AS sh
  FROM t, (SELECT unnest(generate_series(0, 100000)) AS i)
  WHERE i <= len(toks) - 3
)
SELECT doc_id, count(*) AS n_shingles,
       count(DISTINCT sh) AS n_distinct_shingles,
       min(md5(sh)) AS fingerprint
FROM sh GROUP BY doc_id
"""


def q_embedding_neardup_pairs(spark, sf_dir):
    """Embedding-cosine near-dup: all pairs with cosine >= 0.3
    (vec_id < 120 cap bounds the O(n²) candidate space)."""
    e = (_t(spark, sf_dir, "embeddings")
         .filter(F.col("vec_id") < 120)
         .select("vec_id", F.col("embedding").cast("array<double>")
                 .alias("v")))
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    b2 = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.zip_with("va", "va", lambda x, y: x * y),
                            F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.zip_with("vb", "vb", lambda x, y: x * y),
                            F.lit(0.0), lambda acc, x: acc + x))
    return (a.join(b2, F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b", (dot / (na * nb)).alias("raw"))
            .filter(F.col("raw") >= 0.3)
            .select("vec_a", "vec_b", F.round("raw", 4).alias("cosine")))


SQL_EMBEDDING_NEARDUP = """
WITH e AS (
  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
         unnest(generate_series(1, len(embedding))) AS i
  FROM embeddings WHERE vec_id < 120
),
p AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         sum(a.x * b.x)
           / (sqrt(sum(a.x * a.x)) * sqrt(sum(b.x * b.x))) AS raw
  FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT vec_a, vec_b, round(raw, 4) AS cosine FROM p WHERE raw >= 0.3
"""


def q_ann_lsh_bucket_topk(spark, sf_dir):
    """LSH-bucketed ANN (the scale path next to brute-force cosine): bucket
    every vector by sign of its dot product with two anchor vectors
    (vec_id 0 and 1), then search only the probe's bucket (probe vec_id 5).
    """
    e = (_t(spark, sf_dir, "embeddings")
         .select("vec_id", F.col("embedding").cast("array<double>")
                 .alias("v")))
    anchors = e.filter(F.col("vec_id").isin([0, 1])).select(
        F.col("vec_id").alias("aid"), F.col("v").alias("av"))
    dot_av = F.aggregate(F.zip_with("v", "av", lambda x, y: x * y),
                         F.lit(0.0), lambda acc, x: acc + x)
    bucketed = (e.crossJoin(F.broadcast(anchors))
                .select("vec_id", "v",
                        (F.when(dot_av > 0, 1).otherwise(0)
                         * F.when(F.col("aid") == 0, 1).otherwise(2))
                        .alias("bitval"))
                .groupBy("vec_id")
                .agg(F.sum("bitval").alias("bucket")))
    vecs = e.join(bucketed, "vec_id")
    probe = (vecs.filter(F.col("vec_id") == 5)
             .select(F.col("v").alias("p"), F.col("bucket").alias("pb")))
    dot = F.aggregate(F.zip_with("v", "p", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    nv = F.sqrt(F.aggregate(F.zip_with("v", "v", lambda x, y: x * y),
                            F.lit(0.0), lambda acc, x: acc + x))
    np_ = F.sqrt(F.aggregate(F.zip_with("p", "p", lambda x, y: x * y),
                             F.lit(0.0), lambda acc, x: acc + x))
    return (vecs.crossJoin(F.broadcast(probe))
            .filter((F.col("bucket") == F.col("pb"))
                    & (F.col("vec_id") != 5))
            .select("vec_id", (dot / (nv * np_)).alias("raw"))
            .orderBy(F.desc("raw"), F.asc("vec_id")).limit(5)
            .select("vec_id", F.round("raw", 4).alias("cosine")))


SQL_ANN_LSH_BUCKET = """
WITH e AS (
  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
         unnest(generate_series(1, len(embedding))) AS i
  FROM embeddings
),
sgns AS (
  SELECT e.vec_id, a.vec_id AS aid,
         CASE WHEN sum(e.x * a.x) > 0 THEN 1 ELSE 0 END AS sgn
  FROM e JOIN e a ON a.vec_id IN (0, 1) AND e.i = a.i
  GROUP BY e.vec_id, a.vec_id
),
buckets AS (
  SELECT vec_id,
         sum(CASE WHEN aid = 0 THEN sgn ELSE 2 * sgn END) AS bucket
  FROM sgns GROUP BY vec_id
),
probe AS (SELECT bucket AS pb FROM buckets WHERE vec_id = 5),
scored AS (
  SELECT e.vec_id,
         sum(e.x * p.x) / (sqrt(sum(e.x * e.x)) * sqrt(sum(p.x * p.x)))
           AS raw
  FROM e JOIN e p ON p.vec_id = 5 AND e.i = p.i
  JOIN buckets be ON be.vec_id = e.vec_id
  CROSS JOIN probe
  WHERE be.bucket = probe.pb AND e.vec_id != 5
  GROUP BY e.vec_id
)
SELECT vec_id, round(raw, 4) AS cosine
FROM scored ORDER BY raw DESC, vec_id LIMIT 5
"""


def q_punct_quality(spark, sf_dir):
    """Quality scoring on raw text: character-class ratios (the
    length/punct/stopword heuristics of web-corpus filtering)."""
    d = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    nonspace = F.length(F.regexp_replace("text", r"\s", ""))
    alnum = F.length(F.regexp_replace(F.lower("text"), r"[^a-z0-9]", ""))
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.round(alnum / nonspace, 4).alias("alnum_ratio"),
        F.round((nonspace - alnum) / nonspace, 4).alias("punct_ratio"))


SQL_PUNCT_QUALITY = """
SELECT doc_id, length(text) AS n_chars,
       round(alnum * 1.0 / nonspace, 4) AS alnum_ratio,
       round((nonspace - alnum) * 1.0 / nonspace, 4) AS punct_ratio
FROM (
  SELECT doc_id, text,
         length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
         length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS alnum
  FROM documents WHERE length(text) > 0
)
"""


def q_stopword_ratio(spark, sf_dir):
    """Stopword-density quality signal per doc."""
    toks = _toks(spark, sf_dir)
    return (toks.groupBy("doc_id").agg(
        F.round(F.sum(F.when(F.col("term").isin(STOPWORDS), 1).otherwise(0))
                / F.count(F.lit(1)), 4).alias("stopword_ratio")))


SQL_STOPWORD_RATIO = f"""
SELECT doc_id,
       round(sum(CASE WHEN term IN ({', '.join(repr(s) for s in STOPWORDS)})
                 THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS stopword_ratio
FROM (SELECT doc_id, unnest({TOK_SQL}) AS term FROM documents)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Event-stream analytics (search_logs analogue, database.py:63-69) + window /
# set / rollup relational completeness
# ---------------------------------------------------------------------------

def q_events_tumbling_window(spark, sf_dir):
    """Tumbling 1-hour window counts per event_type — the batch equivalent
    of the streaming query-analytics aggregation (streaming/analytics.py)."""
    e = _t(spark, sf_dir, "events")
    return (e.groupBy(F.date_trunc("hour", "ts").alias("window_start"),
                      "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


SQL_EVENTS_TUMBLING = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_events_hopping_window(spark, sf_dir):
    """Hopping (sliding) window: 1-hour windows every 30 minutes via the
    built-in ``F.window`` — each event lands in exactly two windows. The
    oracle materializes both window starts per event explicitly (Spark's
    window grid is aligned to epoch multiples of the slide)."""
    e = _t(spark, sf_dir, "events")
    return (e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"),
                      "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "sum_value"))


SQL_EVENTS_HOPPING = """
WITH g AS (
  SELECT event_type, value,
         CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800) AS TIMESTAMP)
           AS g0
  FROM events
),
w AS (
  SELECT event_type, value, g0 AS ws FROM g
  UNION ALL
  SELECT event_type, value, g0 - INTERVAL 30 MINUTE FROM g
)
SELECT ws AS window_start, event_type, count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM w GROUP BY 1, 2
"""


def q_events_windows(spark, sf_dir):
    """Windowed event analytics panel: tumbling (1h) and hopping
    (1h/30min) window aggregates union'd under a ``win_kind``
    discriminator — one driver entry verifying both window families."""
    tumb = (q_events_tumbling_window(spark, sf_dir)
            .withColumn("win_kind", F.lit("tumbling")))
    hop = (q_events_hopping_window(spark, sf_dir)
           .withColumn("win_kind", F.lit("hopping")))
    return tumb.unionByName(hop)


def _sql_events_windows() -> str:
    return f"""
SELECT *, 'tumbling' AS win_kind FROM ({SQL_EVENTS_TUMBLING})
UNION ALL
SELECT *, 'hopping' AS win_kind FROM ({SQL_EVENTS_HOPPING})
"""


def q_events_session_gap(spark, sf_dir):
    """Per-user session gaps via lag window: average seconds between
    consecutive events (deterministic order: ts, event_id)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp").cast("double")
    e = _t(spark, sf_dir, "events").withColumn(
        "gap", epoch - F.lag(epoch).over(w))
    return (e.filter(F.col("gap").isNotNull())
            .groupBy("user_id")
            .agg(F.round(F.avg("gap"), 2).alias("avg_gap_sec"),
                 F.count(F.lit(1)).alias("n_gaps")))


SQL_EVENTS_SESSION_GAP = """
SELECT user_id, round(avg(gap), 2) AS avg_gap_sec, count(*) AS n_gaps
FROM (
  SELECT user_id,
         epoch(ts) - lag(epoch(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
) WHERE gap IS NOT NULL
GROUP BY user_id
"""


def q_asof_join(spark, sf_dir):
    """As-of join (no native Spark operator): for every purchase event,
    the most recent prior-or-same-time view by the same user.

    Implementation: tag + union + window ``last(..., ignorenulls)`` over
    (user_id) ordered by (ts, tag, event_id) — views sort before purchases
    at equal ts, giving inclusive `view.ts <= purchase.ts` semantics with a
    deterministic tie-break (max event_id among equal-ts views).
    """
    e = _t(spark, sf_dir, "events")
    views = (e.filter(F.col("event_type") == "view")
             .select("user_id", "ts", "event_id")
             .withColumn("tag", F.lit(0)))
    buys = (e.filter(F.col("event_type") == "purchase")
            .select("user_id", "ts", "event_id")
            .withColumn("tag", F.lit(1)))
    u = views.unionByName(buys)
    w = (Window.partitionBy("user_id").orderBy("ts", "tag", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    marked = u.withColumn(
        "last_view_id",
        F.last(F.when(F.col("tag") == 0, F.col("event_id")),
               ignorenulls=True).over(w))
    return (marked.filter(F.col("tag") == 1)
            .select(F.col("event_id").alias("purchase_id"),
                    "user_id", "last_view_id"))


SQL_ASOF_JOIN = """
WITH u AS (
  SELECT user_id, ts, event_id, 0 AS tag FROM events
  WHERE event_type = 'view'
  UNION ALL
  SELECT user_id, ts, event_id, 1 FROM events
  WHERE event_type = 'purchase'
),
marked AS (
  SELECT user_id, ts, event_id, tag,
         last_value(CASE WHEN tag = 0 THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, tag, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS last_view_id
  FROM u
)
SELECT event_id AS purchase_id, user_id, last_view_id
FROM marked WHERE tag = 1
"""


def q_window_running_sum(spark, sf_dir):
    """Running revenue per customer (window aggregate beyond row_number)."""
    w = (Window.partitionBy("o_custkey")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (_t(spark, sf_dir, "orders")
            .filter(F.col("o_custkey") < 200)
            .select("o_custkey", "o_orderkey",
                    F.round(F.sum("o_totalprice").over(w), 2)
                    .alias("running_total")))


SQL_WINDOW_RUNNING_SUM = """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS running_total
FROM orders WHERE o_custkey < 200
"""


def q_rollup_agg(spark, sf_dir):
    """ROLLUP grouping (reference gap list SURVEY.md §2.1): order counts by
    (priority, status) with subtotals and a grand total."""
    return (_t(spark, sf_dir, "orders")
            .rollup("o_orderpriority", "o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"))
            .select(F.coalesce("o_orderpriority", F.lit("ALL"))
                    .alias("priority"),
                    F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
                    "n_orders"))


SQL_ROLLUP_AGG = """
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       coalesce(o_orderstatus, 'ALL') AS status,
       count(*) AS n_orders
FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""


def q_set_ops(spark, sf_dir):
    """INTERSECT / EXCEPT / UNION over key sets (reference gap list)."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("k"))
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("k"))
    both = c.intersect(s).withColumn("src", F.lit("both"))
    conly = c.distinct().exceptAll(s.distinct()).withColumn(
        "src", F.lit("customer_only"))
    allk = c.union(s).distinct().withColumn("src", F.lit("union"))
    return (both.unionByName(conly).unionByName(allk)
            .groupBy("src").agg(F.count(F.lit(1)).alias("n_keys")))


SQL_SET_OPS = """
WITH c AS (SELECT c_nationkey AS k FROM customer),
     s AS (SELECT s_nationkey AS k FROM supplier),
     labeled AS (
       SELECT k, 'both' AS src FROM (SELECT DISTINCT k FROM c INTERSECT
                                     SELECT DISTINCT k FROM s)
       UNION ALL
       SELECT k, 'customer_only' FROM (SELECT DISTINCT k FROM c EXCEPT
                                       SELECT DISTINCT k FROM s)
       UNION ALL
       SELECT k, 'union' FROM (SELECT DISTINCT k FROM (SELECT k FROM c
                               UNION ALL SELECT k FROM s))
     )
SELECT src, count(*) AS n_keys FROM labeled GROUP BY src
"""


def q_rollup_set_ops(spark, sf_dir):
    """Relational-completeness panel: ROLLUP grouping subtotals and
    INTERSECT/EXCEPT/UNION key-set cardinalities, aligned to one
    (group1, group2, n) schema so both operators get a driver row inside
    the 50-entry verification window (VERDICT r2 #1)."""
    rollup = q_rollup_agg(spark, sf_dir).select(
        F.concat(F.lit("rollup:"), F.col("priority")).alias("group1"),
        F.col("status").alias("group2"), F.col("n_orders").alias("n"))
    sets = q_set_ops(spark, sf_dir).select(
        F.concat(F.lit("set:"), F.col("src")).alias("group1"),
        F.lit("ALL").alias("group2"), F.col("n_keys").alias("n"))
    return rollup.unionByName(sets)


def _sql_rollup_set_ops() -> str:
    return f"""
SELECT concat('rollup:', priority) AS group1, status AS group2,
       n_orders AS n
FROM ({SQL_ROLLUP_AGG})
UNION ALL
SELECT concat('set:', src), 'ALL', n_keys FROM ({SQL_SET_OPS})
"""


def q_curate_token_budget(spark, sf_dir):
    """Token-budget prefix selection (operators/curate.py
    `select_token_budget`, SURVEY X62): keep docs in (n_chars DESC,
    doc_id ASC) order while the running alnum-token sum stays within 30%
    of the corpus total — the exact histogram+boundary-bin plan vs the
    oracle's full window walk."""
    import math

    from .operators.curate import select_token_budget

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = d.select("doc_id", F.size(F.expr(TOK_SPARK)).alias("n_tokens"),
                    "n_chars")
    total = int(toks.agg(F.sum("n_tokens")).collect()[0][0])
    budget = int(math.floor(total * 0.3))
    return (select_token_budget(toks, budget, priority_col="n_chars",
                                n_bins=16)
            .select("doc_id", "n_tokens"))


SQL_CURATE_TOKEN_BUDGET = f"""
WITH toks AS (
  SELECT doc_id, len({TOK_SQL}) AS n_tokens, n_chars
  FROM documents WHERE text IS NOT NULL),
tot AS (SELECT CAST(floor(sum(n_tokens) * 0.3) AS BIGINT) AS budget
        FROM toks)
SELECT doc_id, n_tokens
FROM toks, tot
QUALIFY sum(n_tokens) OVER (
  ORDER BY n_chars DESC, doc_id ASC ROWS UNBOUNDED PRECEDING) <= budget
"""


def q_lm_perplexity(spark, sf_dir):
    """Stupid-Backoff bigram LM perplexity (operators/lm.py, SURVEY X63 —
    the CCNet quality stage): train on the documents table, score every
    doc; logscore/ppl rounded to 4 decimals on BOTH sides (ln() and the
    aggregation order differ across engines by ~1e-14 relative — far
    inside the rounding, exactly the cast discipline the float entries
    use)."""
    from .operators.lm import score_docs, train_bigram_lm

    d = _t(spark, sf_dir, "documents")
    model = train_bigram_lm(d)
    return (score_docs(d, model)
            .select("doc_id", "n_tokens",
                    F.round("logscore", 4).alias("logscore_r"),
                    F.round("ppl", 4).alias("ppl_r")))


SQL_LM_PERPLEXITY = f"""
WITH t AS (
  SELECT doc_id, {TOK_SQL} AS ts FROM documents WHERE text IS NOT NULL),
flat AS (
  SELECT doc_id, unnest(ts) AS w,
         unnest(generate_series(1, len(ts))) AS p, ts
  FROM t WHERE len(ts) > 0),
fl AS (
  SELECT doc_id, p, w, CASE WHEN p > 1 THEN ts[p-1] END AS prev
  FROM flat),
uni AS (SELECT w, count(*) AS c FROM fl GROUP BY w),
big AS (SELECT prev, w, count(*) AS c FROM fl
        WHERE prev IS NOT NULL GROUP BY prev, w),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM uni),
scored AS (
  SELECT f.doc_id,
         CASE
           WHEN f.prev IS NULL
             THEN ln(CAST(coalesce(u.c, 1) AS DOUBLE) / tot.n)
           WHEN b.c IS NOT NULL
             THEN ln(CAST(b.c AS DOUBLE) / CAST(up.c AS DOUBLE))
           ELSE ln(0.4) + ln(CAST(coalesce(u.c, 1) AS DOUBLE) / tot.n)
         END AS lp
  FROM fl f
  LEFT JOIN big b ON b.prev = f.prev AND b.w = f.w
  LEFT JOIN uni u ON u.w = f.w
  LEFT JOIN uni up ON up.w = f.prev
  CROSS JOIN tot)
SELECT doc_id, count(*) AS n_tokens,
       round(sum(lp), 4) AS logscore_r,
       round(exp(-sum(lp) / count(*)), 4) AS ppl_r
FROM scored GROUP BY doc_id
"""


def q_rank_eval_metrics(spark, sf_dir):
    """Rank-evaluation harness (X66, operators/rank_eval.py) run
    end-to-end INSIDE the contract: deterministic synthetic retrieval
    (one "query" per language, docs ranked by (n_chars DESC, doc_id)) +
    deterministic graded judgments (doc_id % 3 == 0, grade doc_id % 5),
    scored to per-query precision/recall/MRR/AP/nDCG/ERR @10 — the full
    window+agg pipeline vs a DuckDB CTE mirror of the textbook metric
    definitions. Floats rounded to 4 decimals on BOTH sides (the
    float-heavy-entry discipline)."""
    from pyspark.sql import Window

    from .operators.rank_eval import rank_eval

    d = _t(spark, sf_dir, "documents")
    qid = (F.ascii(F.substring("lang", 1, 1)) * 256
           + F.ascii(F.substring("lang", 2, 1)))
    q = d.select("doc_id", "n_chars", qid.alias("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("n_chars"),
                                               F.asc("doc_id"))
    results = (q.withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= 20)
               .select("query_id", "doc_id", "rank"))
    judg = (q.filter(F.col("doc_id") % 3 == 0)
            .select("query_id", "doc_id",
                    (F.col("doc_id") % 5).cast("double").alias("grade")))
    m = rank_eval(results, judg, k=10, max_grade=4)
    return m.select(
        "query_id", "n_retrieved", "n_rel",
        *[F.round(c, 4).alias(c) for c in
          ("precision", "recall", "mrr", "ap", "ndcg", "err")])


SQL_RANK_EVAL = """
WITH q AS (
  SELECT doc_id, n_chars,
         ascii(substr(lang, 1, 1)) * 256 + ascii(substr(lang, 2, 1))
           AS query_id
  FROM documents),
results AS (
  SELECT * FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY n_chars DESC, doc_id) AS rank
    FROM q) WHERE rank <= 20),
judg AS (
  -- the max_grade cap applies HERE, where grade is never NULL:
  -- DuckDB's least() IGNORES NULLs (least(NULL, 4.0) = 4.0), so
  -- capping after the left join would grade unjudged docs 4
  SELECT query_id, doc_id, least(CAST(doc_id % 5 AS DOUBLE), 4.0)
           AS grade
  FROM q WHERE doc_id % 3 = 0),
ideal AS (
  SELECT query_id,
         sum(CASE WHEN irank <= 10
             THEN (pow(2, grade) - 1) / log2(irank + 1.0)
             ELSE 0 END) AS idcg,
         sum(CASE WHEN grade >= 1 THEN 1 ELSE 0 END) AS n_rel
  FROM (SELECT query_id, grade,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY grade DESC, doc_id) AS irank
        FROM judg)
  GROUP BY query_id),
g AS (
  SELECT r.query_id, r.doc_id, r.rank,
         coalesce(j.grade, 0.0) AS grade,
         CASE WHEN coalesce(j.grade, 0) >= 1 THEN 1 ELSE 0 END AS rel
  FROM results r
  LEFT JOIN judg j ON r.query_id = j.query_id AND r.doc_id = j.doc_id),
w AS (
  SELECT *,
         sum(rel) OVER (PARTITION BY query_id ORDER BY rank
                        ROWS UNBOUNDED PRECEDING) AS cum_rel,
         coalesce(sum(ln(1.0 - (pow(2, grade) - 1) / 16.0))
                  OVER (PARTITION BY query_id ORDER BY rank
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0.0) AS log_skip
  FROM g),
per AS (
  SELECT query_id,
    count(*) AS n_retrieved,
    sum(CASE WHEN rank <= 10 THEN rel ELSE 0 END) AS rel_at_k,
    min(CASE WHEN rank <= 10 AND rel = 1 THEN rank END) AS first_rel,
    sum(CASE WHEN rank <= 10 AND rel = 1
        THEN CAST(cum_rel AS DOUBLE) / rank ELSE 0 END) AS ap_sum,
    sum(CASE WHEN rank <= 10
        THEN (pow(2, grade) - 1) / log2(rank + 1.0) ELSE 0 END) AS dcg,
    sum(CASE WHEN rank <= 10
        THEN ((pow(2, grade) - 1) / 16.0) * exp(log_skip) / rank
        ELSE 0 END) AS err
  FROM w GROUP BY query_id)
SELECT p.query_id, p.n_retrieved,
  -- DuckDB's integer sum() returns HUGEINT which pandas widens to
  -- float64 (14.0 vs Spark's bigint 14) and the driver's value hash is
  -- type-sensitive — cast to BIGINT (the r1/r3 oracle-cast lesson).
  CAST(coalesce(i.n_rel, 0) AS BIGINT) AS n_rel,
  round(p.rel_at_k / 10.0, 4) AS precision,
  round(CASE WHEN coalesce(i.n_rel, 0) > 0
        THEN p.rel_at_k / CAST(i.n_rel AS DOUBLE) ELSE 0 END, 4)
    AS recall,
  round(coalesce(1.0 / p.first_rel, 0.0), 4) AS mrr,
  round(CASE WHEN coalesce(i.n_rel, 0) > 0
        THEN p.ap_sum / least(i.n_rel, 10) ELSE 0 END, 4) AS ap,
  round(CASE WHEN coalesce(i.idcg, 0) > 0
        THEN p.dcg / i.idcg ELSE 0 END, 4) AS ndcg,
  round(p.err, 4) AS err
FROM per p LEFT JOIN ideal i ON p.query_id = i.query_id
"""


def q_repeated_span_dedup(spark, sf_dir):
    """Repeated-span detection (X77, operators/spandup.py) end-to-end
    INSIDE the contract: maximal duplicated token spans (window n=8)
    over the documents table — JVM window hashing + one hash shuffle +
    gaps-and-islands merge, vs a DuckDB mirror that groups the window
    STRINGS themselves (hash-free: also a cross-check that xxhash64
    introduced no collision at this scale)."""
    from .operators.spandup import repeated_ngram_spans

    d = _t(spark, sf_dir, "documents")
    s = repeated_ngram_spans(d, n=8)
    return s.select("doc_id",
                    F.col("start").cast("long").alias("start"),
                    F.col("length").cast("long").alias("length"),
                    F.col("n_windows").cast("long").alias("n_windows"))


SQL_REPEATED_SPANS = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                     x -> len(x) <= 64) AS t
  FROM documents WHERE text IS NOT NULL),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i
  FROM toks WHERE len(t) >= 8),
wins AS (
  SELECT doc_id, i - 1 AS start, array_to_string(t[i:i+7], ' ') AS ng
  FROM idx),
dup AS (SELECT ng FROM wins GROUP BY ng HAVING count(*) >= 2),
d AS (SELECT w.doc_id, w.start FROM wins w JOIN dup USING (ng)),
runs AS (
  SELECT doc_id, start,
         start - row_number() OVER (PARTITION BY doc_id ORDER BY start)
           AS run
  FROM d)
SELECT doc_id, min(start) AS start, count(*) + 7 AS length,
       count(*) AS n_windows
FROM runs GROUP BY doc_id, run
"""


# ---------------------------------------------------------------------------
# Registry — HARD CAP 50 entries (the driver verifies at most 50; entries
# past the window get no CORRECTNESS row — VERDICT r2 #1). Single-facet
# queries folded into combined entries (text_quality_metrics — which
# since the late-r3 fold also carries the token_counts columns —
# rollup_set_ops, events_windows, having_exists) keep full column-level
# verification; tests/test_driver_contract.py pins the cap. Round 3 swaps:
# `simhash` (signatures — exercised transitively by BOTH simhash pair
# entries) and `shingle3_stats` (shingles — the substrate of the three
# minhash entries) moved to pytest-only pins (tests/test_operators.py) to
# make room for the curation/LM entries; late r3, `having_filter` +
# `exists_subquery` folded into `having_exists` and `token_counts` into
# `text_quality_metrics` (all three retired pairs stay pinned in
# tests/test_driver_contract.py) to admit `rank_eval_metrics` (X66) and
# `repeated_span_dedup` (X77); nothing lost column-wise.
# ---------------------------------------------------------------------------

DRIVER_VERIFY_WINDOW = 50

REGISTRY: dict[str, tuple] = {
    # full-text engine core
    "doclen": (q_doclen, SQL_DOCLEN),
    "corpus_stats": (q_corpus_stats, SQL_CORPUS_STATS),
    "term_stats": (q_term_stats, SQL_TERM_STATS),
    "bm25_topk": (q_bm25_topk, SQL_BM25_TOPK),
    "bm25_all_scores": (q_bm25_all_scores, SQL_BM25_ALL),
    "bm25_filtered_count": (q_bm25_filtered_count, SQL_BM25_FILTERED_COUNT),
    "doc_id_assignment": (q_doc_id_assignment, SQL_DOC_ID_ASSIGNMENT),
    "bm25_topk_engine_wand": (q_bm25_topk_engine_wand, SQL_BM25_TOPK_ENGINE),
    "bm25_maxscore_engine": (q_bm25_maxscore_engine, SQL_BM25_TOPK_ENGINE),
    "bm25_batch_topk_engine": (q_bm25_batch_topk_engine,
                               SQL_BM25_BATCH_TOPK_ENGINE),
    "bm25_filtered_engine_wand": (q_bm25_filtered_engine_wand,
                                  SQL_BM25_FILTERED_ENGINE),
    "bm25_threshold_engine_wand": (q_bm25_threshold_engine_wand,
                                   SQL_BM25_THRESHOLD_ENGINE),
    "bm25_phrase_engine": (q_bm25_phrase_engine, SQL_BM25_PHRASE_ENGINE),
    "bm25_boolean_engine": (q_bm25_boolean_engine, SQL_BM25_BOOLEAN_ENGINE),
    "facet_counts": (q_facet_counts_engine, SQL_FACET_COUNTS),
    # relational operators
    # agg_pushdown retired to tests/test_driver_contract.py pins in r5
    # (its aggregate shape is covered by rollup_set_ops +
    # join_agg_broadcast) to admit ann_ivf_probe_topk — the persisted-IVF
    # default serve plan — within the 50-entry window (VERDICT r4 #2);
    # topk_orderby_limit likewise retired in r4 (subsumed by
    # pagination_offset's ranking) to admit the MaxScore engine gate
    # (VERDICT r3 #5)
    "pagination_offset": (q_pagination_offset, SQL_PAGINATION),
    "filter_range_count": (q_filter_range_count, SQL_FILTER_RANGE_COUNT),
    "substring_ci_filter": (q_substring_ci_filter, SQL_SUBSTRING_CI),
    "array_contains": (q_array_contains, SQL_ARRAY_CONTAINS),
    "join_agg_broadcast": (q_join_agg_broadcast, SQL_JOIN_AGG),
    "merge_latest": (q_merge_latest, SQL_MERGE_LATEST),
    "semi_anti_join": (q_semi_anti_join, SQL_SEMI_ANTI),
    "having_exists": (q_having_exists, SQL_HAVING_EXISTS),
    # ingest parsers
    "parse_price_reviewcount": (q_parse_price_reviewcount,
                                SQL_PARSE_PRICE_REVIEWCOUNT),
    "parse_category": (q_parse_category, SQL_PARSE_CATEGORY),
    "rating_clamp": (q_rating_clamp, SQL_RATING_CLAMP),
    "json_extract": (q_json_extract, SQL_JSON_EXTRACT),
    "null_normalization": (q_null_normalization, SQL_NULL_NORMALIZATION),
    # training-data pipeline extras
    "dedup_fingerprint_groups": (q_dedup_fingerprint_groups,
                                 SQL_DEDUP_FINGERPRINT_GROUPS),
    "minhash_signature": (q_minhash_signature, SQL_MINHASH),
    "jaccard_pair_metrics": (q_jaccard_pair_metrics, SQL_JACCARD_METRICS),
    "binary_payload_stats": (q_binary_payload_stats, SQL_BINARY_PAYLOAD),
    "langid_heuristic": (q_langid_heuristic, SQL_LANGID),
    "text_quality_metrics": (q_text_quality_metrics,
                             _sql_text_quality_metrics()),
    "rank_eval_metrics": (q_rank_eval_metrics, SQL_RANK_EVAL),
    "repeated_span_dedup": (q_repeated_span_dedup, SQL_REPEATED_SPANS),
    "embedding_cosine_topk": (q_embedding_cosine_topk, SQL_EMBEDDING_COSINE),
    "simhash_neardup_pairs": (q_simhash_neardup_pairs, SQL_SIMHASH_NEARDUP),
    "simhash_banded_pairs": (q_simhash_banded_pairs, SQL_SIMHASH_BANDED),
    "lsh_band_pairs": (q_lsh_band_pairs, SQL_LSH_BAND_PAIRS),
    "curate_token_budget": (q_curate_token_budget, SQL_CURATE_TOKEN_BUDGET),
    "lm_perplexity": (q_lm_perplexity, SQL_LM_PERPLEXITY),
    "embedding_neardup_pairs": (q_embedding_neardup_pairs,
                                SQL_EMBEDDING_NEARDUP),
    "ann_lsh_bucket_topk": (q_ann_lsh_bucket_topk, SQL_ANN_LSH_BUCKET),
    "ann_ivf_probe_topk": (q_ann_ivf_probe_topk, SQL_ANN_IVF_PROBE),
    # event-stream analytics + relational completeness
    "events_windows": (q_events_windows, _sql_events_windows()),
    "events_session_gap": (q_events_session_gap, SQL_EVENTS_SESSION_GAP),
    "asof_join": (q_asof_join, SQL_ASOF_JOIN),
    "window_running_sum": (q_window_running_sum, SQL_WINDOW_RUNNING_SUM),
    "rollup_set_ops": (q_rollup_set_ops, _sql_rollup_set_ops()),
}

assert len(REGISTRY) <= DRIVER_VERIFY_WINDOW, (
    f"registry has {len(REGISTRY)} entries but the driver verifies only "
    f"the first {DRIVER_VERIFY_WINDOW} — consolidate before adding more")


def queries():
    return {name: fn for name, (fn, _sql) in REGISTRY.items()}


def oracle_sql():
    return {name: sql for name, (_fn, sql) in REGISTRY.items()
            if sql is not None}
