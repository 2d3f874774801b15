"""Seeded inputs for the benchmark: corpus, request streams, update batch.

Everything here is a pure function of ``seed``; the engine receives only
the generated rows and query strings.
"""

from __future__ import annotations

import datetime as dt
import random

from semantic_search_engine_spark.corpus import (
    N_ZIPF_HEADS,
    QUERY_CORPUS,
    VOCAB_SIZE,
    render_page,
)

# Tail terms w0300..w1979: df of a few to a few dozen docs per 3k docs.
TAIL_TERMS = [f"w{i:04d}" for i in range(300, VOCAB_SIZE - N_ZIPF_HEADS)]
HEAD_TERMS = [f"zipfhead{i}" for i in range(N_ZIPF_HEADS)]
# Planted phrases that actually occur in the corpus (interval > 0).
PLANTED = [pq.query for pq in QUERY_CORPUS if pq.interval]

SCHEMA_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def write_parquet(rows: list[dict], path: str, row_group: int = 512) -> None:
    """One parquet file, small row groups so the scan splits across cores."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path,
                   row_group_size=row_group)


def _zipf_weights(n: int, s: float = 1.0) -> list[float]:
    return [1.0 / (r ** s) for r in range(1, n + 1)]


def point_requests(seed: int, pool_size: int, search_every: int):
    """Endless stream of single requests ``(kind, query, lang)``.

    A pool of ``pool_size`` distinct queries (the planted phrases plus
    1-3 tail-term queries) gets Zipf popularity over a seeded order. Every
    ``search_every``-th request is ``search(lang=..., count_mode="none")``
    instead of ``top_k``, so each window holds the same mix.
    """
    rnd = random.Random(seed * 7919 + 1)
    pool = list(PLANTED)
    seen = set(pool)
    while len(pool) < pool_size:
        q = " ".join(rnd.sample(TAIL_TERMS, rnd.randint(1, 3)))
        if q not in seen:
            seen.add(q)
            pool.append(q)
    rnd.shuffle(pool)
    weights = _zipf_weights(len(pool))
    i = 0
    while True:
        i += 1
        q = rnd.choices(pool, weights)[0]
        if i % search_every == 0:
            yield "search", q, rnd.choice(("en", "en", "en", "de", "fr"))
        else:
            yield "top_k", q, None


def head_batches(seed: int, batch_size: int):
    """Endless stream of batches of ``batch_size`` distinct queries of the
    Zipf head terms: a third each with 2, 3 and 4 terms, so every batch
    carries the same amount of kernel work up to the terms drawn."""
    rnd = random.Random(seed * 7919 + 2)
    while True:
        batch: dict[str, None] = {}
        while len(batch) < batch_size:
            n_terms = 2 + len(batch) * 3 // batch_size
            terms = sorted(rnd.sample(HEAD_TERMS, n_terms))
            batch[" ".join(terms)] = None
        yield list(batch)


def update_batch(rows: list[dict], seed: int, n_recrawl: int, n_new: int
                 ) -> tuple[list[dict], str]:
    """A small upsert: ``n_recrawl`` existing urls re-crawled with new
    bodies (later ``warc_ts``, so the recrawl wins under both the engine's
    and the oracle's duplicate-url rule) plus ``n_new`` new urls.

    Returns the update rows and a query over terms the batch plants, so a
    fresh read must see the batch to answer it right.
    """
    rnd = random.Random(seed * 7919 + 3)
    fresh_terms = rnd.sample(TAIL_TERMS, 2)
    base = rnd.sample(range(10, len(rows)), n_recrawl)  # skip edge docs
    out = []
    for j, i in enumerate(base):
        words = rnd.choices(TAIL_TERMS, k=60) + fresh_terms * (1 + j % 3)
        out.append(_page(rows[i]["url"],
                         rows[i]["warc_ts"] + dt.timedelta(days=1), j,
                         words))
    for j in range(n_new):
        words = rnd.choices(TAIL_TERMS, k=60) + fresh_terms[:1 + j % 2]
        out.append(_page(f"https://fresh{seed % 97:04d}.example/page/{j:05d}",
                         dt.datetime(2026, 1, 1), n_recrawl + j, words))
    return out, " ".join(fresh_terms)


def _page(url: str, ts: dt.datetime, i: int, words: list[str]) -> dict:
    mid = len(words) // 2
    html = render_page(i, f"update {i}", " ".join(words[:mid]),
                       " ".join(words[mid:])).encode("utf-8")
    return dict(url=url, warc_ts=ts, html=html, text=None, lang="en")
