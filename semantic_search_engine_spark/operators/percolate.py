"""Percolation — reverse search (Elasticsearch's percolator: store
QUERIES, stream DOCUMENTS, emit which stored queries each document
matches — the saved-search / alerting / routing shape; Lucene implements
it as a per-doc MemoryIndex probed by pre-extracted query terms. The
reference has no analogue; a web-scale crawl pipeline uses exactly this
to route fresh pages to standing subscriptions).

Two halves, both plain DataFrames:

``compile_percolator(queries, term_stats=None)``
    (query_id, query) -> one row per DNF clause: (query_id, clause_id,
    anchor, req_terms, neg_terms, req_phrases, neg_phrases, error).
    Parsing runs INSIDE ``mapInPandas`` (the same ``parse_websearch``
    the boolean engine uses — percolation and search agree by
    construction), so a million stored queries compile distributed, not
    in a driver loop. A query that fails to parse (or uses wildcard /
    regex terms, unsupported here) compiles to a single error row
    instead of killing the job. The ``anchor`` is the clause's
    candidate-generation term — Lucene's term-extraction optimization: a
    conjunctive clause can only match a doc containing ALL its required
    terms, so ANY ONE of them prefilters losslessly; with ``term_stats``
    the RAREST (min df) is chosen, shrinking the candidate join by the
    ratio of rarest-to-commonest df.

``percolate(docs, compiled)``
    (doc_id, text) x compiled -> (doc_id, query_id) matches.
    Plan: ONE tokenize pass per doc (Arrow-batched ``mapInPandas`` —
    the engine tokenizer, positions preserved for phrases) ->
    exploded DISTINCT doc terms hash-join the anchor index on ``term``
    -> candidate (doc, clause) pairs -> verify with one vectorized
    batch kernel (req/neg term-set checks + ``phrase_match_count`` for
    phrase clauses) -> distinct (doc, query) (DNF: any clause suffices).

Scale notes (10^9 docs/day x 10^6 stored queries):
- The anchor join is the whole trick: candidates ~= sum over docs of
  the stored-query df of the doc's terms — a tiny fraction of
  |docs| x |queries| (the naive cross product this operator exists to
  avoid). Skewed anchors (a stored query anchored on a stopword-like
  term) are bounded by rarest-term selection; a clause whose RAREST
  term is still corpus-frequent is genuinely expensive in every
  percolator (Lucene included) and shows up as candidate fanout, not a
  shuffle explosion.
- ``compiled`` is usually broadcast-sized (queries, not documents);
  the anchor join broadcasts when Spark's threshold allows, else it is
  one hash shuffle keyed by term.
- Verification duplicates a doc's token array once per surviving
  candidate — bounded by candidate fanout, and the token array is the
  post-analyzer stream, ~doc_len strings, not the raw HTML.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..textproc import phrase_match_count, tokenize

__all__ = ["compile_percolator", "percolate"]

_COMPILED_SCHEMA = (
    "query_id long, clause_id int, anchor string, "
    "req_terms array<string>, neg_terms array<string>, "
    "req_phrases array<string>, neg_phrases array<string>, error string")


def compile_percolator(queries: DataFrame,
                       term_stats: DataFrame | None = None,
                       max_token_len: int = 64, min_token_len: int = 1,
                       analyzer: str = "simple") -> DataFrame:
    """Compile (query_id, query) rows to percolation clauses; see module
    docstring. Phrases are space-joined strings (split at verify time).
    Unsupported constructs (wildcards, regex terms) and parse failures
    become one ``error`` row per query (clause_id = -1)."""

    def _compile(iterator):
        import pandas as pd

        from ..plans.boolean import parse_websearch

        for pdf in iterator:
            out = []
            for qid, q in zip(pdf["query_id"], pdf["query"]):
                try:
                    clauses = parse_websearch(q, max_token_len,
                                              min_token_len, analyzer)
                    if not clauses:
                        raise ValueError("query tokenizes to nothing")
                    for c in clauses:
                        if c.req_wild or c.neg_wild:
                            raise ValueError(
                                "percolator clauses support terms, "
                                "phrases and negation only (no "
                                "wildcard/regex terms)")
                except ValueError as exc:
                    out.append((int(qid), -1, None, None, None, None,
                                None, str(exc)))
                    continue
                for ci, c in enumerate(clauses):
                    # req_terms is never empty: parse_websearch refuses
                    # clauses with no positive, and phrase terms fold
                    # into req_terms — so an anchor always exists
                    out.append((int(qid), ci, c.req_terms[0],
                                list(c.req_terms), list(c.neg_terms),
                                [" ".join(p) for p in c.req_phrases],
                                [" ".join(p) for p in c.neg_phrases],
                                None))
            yield pd.DataFrame(out, columns=[
                "query_id", "clause_id", "anchor", "req_terms",
                "neg_terms", "req_phrases", "neg_phrases", "error"])

    compiled = (queries.select(F.col("query_id").cast("long"), "query")
                .mapInPandas(_compile, schema=_COMPILED_SCHEMA))
    if term_stats is None:
        return compiled
    # rarest-required-term anchor: explode req_terms, take each term's
    # global df (terms absent from the index have df 0 — the BEST anchor:
    # no doc can produce a candidate), pick min (df, term) per clause
    ex = (compiled.filter(F.col("error").isNull())
          .select("query_id", "clause_id",
                  F.explode("req_terms").alias("term"))
          .join(F.broadcast(term_stats.select("term", "df")), "term",
                "left")
          .withColumn("df", F.coalesce("df", F.lit(0))))
    best = (ex.groupBy("query_id", "clause_id")
            .agg(F.min(F.struct("df", "term")).alias("b"))
            .select("query_id", "clause_id",
                    F.col("b.term").alias("rare_anchor")))
    return (compiled.join(best, ["query_id", "clause_id"], "left")
            .withColumn("anchor", F.coalesce("rare_anchor", "anchor"))
            .drop("rare_anchor"))


def percolate(docs: DataFrame, compiled: DataFrame,
              max_token_len: int = 64, min_token_len: int = 1,
              analyzer: str = "simple") -> DataFrame:
    """(doc_id, query_id) pairs where the doc matches the stored query;
    see module docstring. Error rows in ``compiled`` are ignored (the
    caller inspects them at compile time)."""
    live = compiled.filter(F.col("error").isNull())

    def _tok(iterator):
        import pandas as pd
        for pdf in iterator:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "tokens": [tokenize(t, max_token_len, min_token_len,
                                    analyzer) for t in pdf["text"]],
            })

    doc_tok = (docs.select(F.col("doc_id").cast("long"), "text")
               .mapInPandas(_tok, schema="doc_id long, "
                                         "tokens array<string>"))
    doc_terms = doc_tok.select(
        "doc_id", F.explode(F.array_distinct("tokens")).alias("term"))
    cand = (doc_terms
            .join(live.select(F.col("anchor").alias("term"), "query_id",
                              "clause_id"), "term")
            .select("doc_id", "query_id", "clause_id").distinct())
    spec = cand.join(live, ["query_id", "clause_id"]).join(doc_tok,
                                                           "doc_id")

    def _verify(iterator):
        import pandas as pd
        for pdf in iterator:
            keep_doc, keep_q = [], []
            for r in pdf.itertuples(index=False):
                toks = set(r.tokens)
                if not all(t in toks for t in r.req_terms):
                    continue
                if any(t in toks for t in r.neg_terms):
                    continue
                need_pos = (len(r.req_phrases) > 0
                            or len(r.neg_phrases) > 0)
                if need_pos:
                    pos: dict = {}
                    for i, t in enumerate(r.tokens):
                        pos.setdefault(t, []).append(i)
                    if not all(phrase_match_count(pos, p.split()) > 0
                               for p in r.req_phrases):
                        continue
                    if any(phrase_match_count(pos, p.split()) > 0
                           for p in r.neg_phrases):
                        continue
                keep_doc.append(r.doc_id)
                keep_q.append(r.query_id)
            yield pd.DataFrame({"doc_id": keep_doc, "query_id": keep_q})

    return (spec.mapInPandas(_verify, schema="doc_id long, query_id long")
            .distinct())
