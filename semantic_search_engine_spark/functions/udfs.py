"""Arrow-vectorized pandas UDFs — the engine's only per-row Python.

BASELINE.json ``north_star`` permits exactly two text stages in Python
(extraction, tokenization), both Arrow-batched; every statistic downstream
is a Spark aggregation. These UDFs call the *same* ``textproc`` functions as
the single-node oracle, which is what makes the per-url byte-identity
invariant testable.

Reference analogue: the batched embedding UDF
(``data-pipeline/data_ingestion.py:179-218``, batch size 32 via
``config.py:19``) — replaced here by Arrow batching
(``spark.sql.execution.arrow.maxRecordsPerBatch``).
"""

from __future__ import annotations

import hashlib
from collections import Counter

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..textproc import (
    extract_html,
    term_bucket,
    token_positions,
    tokenize,
)

def make_extract_features_udf(prefer_provided: bool = True,
                              max_token_len: int = 64,
                              min_token_len: int = 1,
                              analyzer: str = "simple",
                              indexed: str = "text",
                              with_positions: bool = False):
    """(text, html) -> struct(title, text, extracted_sha256, tf_map
    [, pos_map]): the engine's two permitted Python text stages
    (extract, tokenize) FUSED into one Arrow pass.

    Why fused: as separate UDFs they run in two Python stages with the
    full document text crossing the JVM↔Python Arrow boundary twice and
    the second stage idle until the first's exchange completes. One pass
    halves the Arrow transfer, runs one Python worker per task instead
    of two, and leaves the url-dedup window downstream as a pure-JVM
    stage at full parallelism. Outputs are bit-identical to the split
    form (same ``textproc`` functions, same per-row policy); only rows
    that later lose the per-url dedup tokenize wastefully — recrawl
    duplicates, a small corpus fraction.

    Resolution policy: trust a non-NULL ``text`` column when the config
    says so, else extract from ``html`` (FIXTURES.md §1: 90% of rows need
    extraction). Rows with neither yield NULL text and are dropped by the
    validity filter (``data_ingestion.py:100-103`` analogue).

    ``indexed``: which resolved column feeds the tf map ("text"/"title").

    ``with_positions`` (VERDICT r3 #3): also emit the tsvector-style
    ``pos_map`` (term -> kept-token positions) from the SAME pass, so a
    positional index never pays a second corpus-wide Python pass over
    raw text. The tf map is derived as ``len(positions[t])`` from the
    single ``token_positions`` walk — identical to ``Counter(tokenize)``
    by construction (same kept-token stream; pinned by test), so every
    downstream statistic is unchanged.
    """
    out_schema = ("title string, text string, extracted_sha256 string, "
                  "tf_map map<string,int>")
    if with_positions:
        out_schema += ", pos_map map<string,array<int>>"

    @pandas_udf(out_schema)
    def resolve_extract_features(text: pd.Series,
                                 html: pd.Series) -> pd.DataFrame:
        titles, bodies, shas, maps = [], [], [], []
        pmaps = [] if with_positions else None
        for t, h in zip(text, html):
            hb = bytes(h) if h is not None else None
            title = ""
            if hb:
                title, extracted = extract_html(hb)
            else:
                extracted = None
            if prefer_provided and t is not None:
                body = t
            elif extracted is not None and hb:
                body = extracted
            else:
                body = t  # may be None → validity filter drops the row
            titles.append(title)
            bodies.append(body)
            shas.append(
                hashlib.sha256(body.encode("utf-8")).hexdigest()
                if body is not None else None)
            src = body if indexed == "text" else title
            if with_positions:
                pmap = (token_positions(src, max_token_len, min_token_len,
                                        analyzer) if src else {})
                pmaps.append(pmap)
                maps.append({t_: len(ps) for t_, ps in pmap.items()})
            else:
                maps.append(
                    dict(Counter(tokenize(src, max_token_len,
                                          min_token_len, analyzer)))
                    if src else {})
        out = {"title": titles, "text": bodies,
               "extracted_sha256": shas, "tf_map": maps}
        if with_positions:
            out["pos_map"] = pmaps
        return pd.DataFrame(out)

    return resolve_extract_features


def make_term_freqs_udf(max_token_len: int = 64, min_token_len: int = 1,
                        analyzer: str = "simple"):
    """text -> map<term, tf>. One tokenization pass per document.

    Emitting the per-doc tf map directly (instead of exploding raw tokens
    and running groupBy(doc_id, term)) removes an entire shuffle from the
    build: tf aggregation happens inside the Arrow batch, and doc_len is a
    JVM-side ``aggregate(map_values(...))`` afterwards.

    ``analyzer``: the build-time token normalization (EngineConfig.analyzer
    — "english" = Snowball stopwords + Porter stemming, the reference's
    to_tsvector('english') configuration).
    """

    @pandas_udf("map<string,int>")
    def term_freqs(text: pd.Series) -> pd.Series:
        return pd.Series(
            [dict(Counter(tokenize(t, max_token_len, min_token_len,
                                   analyzer)))
             if t else {} for t in text])

    return term_freqs


def make_token_positions_udf(max_token_len: int = 64,
                             min_token_len: int = 1,
                             analyzer: str = "simple"):
    """text -> map<term, array<int>> of kept-token positions — the
    tsvector payload behind the positional index (plans/phrase.py).
    Same tokenization pass as ``make_term_freqs_udf``; by construction
    ``len(positions[t]) == tf_map[t]`` for every term."""

    @pandas_udf("map<string,array<int>>")
    def term_positions(text: pd.Series) -> pd.Series:
        return pd.Series(
            [token_positions(t, max_token_len, min_token_len, analyzer)
             if t else {} for t in text])

    return term_positions


# --- JVM-side column expressions (no Python) --------------------------------

def doc_id_expr(url_col: str = "url"):
    """Stable 60-bit doc id — must match textproc.doc_id_for_url exactly.

    sha2 → first 15 hex chars → base-16 to base-10 via ``conv`` (string math,
    no double precision loss) → long. Replaces the reference's ``SERIAL`` id
    (``data-pipeline/database.py:27``) with a parallelism-independent key.
    """
    return F.conv(F.substring(F.sha2(F.col(url_col), 256), 1, 15), 16, 10) \
            .cast("long")


def doc_bucket_expr(doc_id_col: str, n_buckets: int):
    """Range bucket over the 60-bit id space (matches textproc.doc_bucket).

    Integer ``div`` (not ``/``) — double division would lose precision above
    2^53 and corrupt the bucket-order invariant.
    """
    divisor = (1 << 60) // n_buckets + 1
    return F.expr(f"{doc_id_col} div {divisor}L").cast("int")


def term_bucket_expr(term_col: str, n_buckets: int):
    """Hash bucket for the postings table partition layout — enables
    partition pruning for query-time ``term IN (...)`` scans."""
    return F.pmod(F.xxhash64(F.col(term_col)), F.lit(n_buckets)).cast("int")


def term_bucket_lit(term: str, n_buckets: int) -> int:
    """Bucket of a literal term as a plain int, computed in Python
    (``textproc.term_bucket``, equal to :func:`term_bucket_expr`), so
    `term_bucket IN (...)` filters built from these reach partition
    pruning with one literal per term and no JVM expression to fold."""
    return term_bucket(term, n_buckets)
