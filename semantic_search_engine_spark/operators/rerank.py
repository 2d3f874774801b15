"""Injected cross-encoder rerank stage (X116) — retrieve → rerank.

The reference ranks with a bi-encoder served out-of-process
(``ml-model/app.py:59-90`` — SentenceTransformer ``model.encode``, the
shape X115 adapts). The standard production extension of that exact
stack is a SECOND stage that rescores the first stage's top-N with a
cross-encoder: a model that reads the (query, passage) PAIR jointly and
returns one relevance score — the public sentence-transformers
``CrossEncoder.predict(pairs) -> (n,) float`` API shape. Precision comes
from joint attention; tractability comes from only ever scoring the
bounded top-N window, never the corpus.

As with X115, this engine ships NO weights (public-knowledge rule).
This module adapts any ``pairs -> scores`` callable into the stage:

- :func:`make_cross_scorer_udf` wraps the callable as an Arrow-batched
  pandas UDF over (query, text) columns, used by
  ``QueryEngine.rerank_top_k_df``: first-stage block-max WAND top-N
  (ranked on the driver) → the N hit texts, read with a literal
  ``partition_id IN (…)`` of the hit buckets (``_in_hit_buckets``) from
  the doc-bucket partitioned ``doc_features`` and joined to the
  broadcast ≤ N hits → ONE scoring pass over ≤ N rows →
  re-sort. At 10^12 docs the stage costs O(first_k) model calls and
  reads |hit buckets|/P of the text table — independent of corpus size.
- The two injection forms match X115 exactly: a picklable ``scorer=``
  (pure functions, test fakes) or a zero-arg ``loader=`` factory called
  once per worker process and memoized (the load-model-per-executor
  pattern; a CrossEncoder handle is not picklable) —
  ``loader=lambda: CrossEncoder("ms-marco-MiniLM-L-6-v2").predict``.

A deterministic weights-free fake
(:func:`deterministic_fake_cross_scorer`) stands in for a model in
tests: trigram-cosine plus a joint token-overlap term, so its score is
NOT factorizable into independent query/text encodings — structurally a
cross- and not a bi-encoder score.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf

# one worker-level memo shared with the X115 embedder: keys are minted
# uuid4 per UDF instance, so the two adapter families can never collide
from .neural import _resolve


def _score_batched(sc: Callable, pairs: list[tuple[str, str]],
                   batch_size: int) -> list[float]:
    """Run the scorer in reference-sized sub-batches and validate the
    contract: (n,) float-convertible output, one score per pair."""
    out: list[float] = []
    for i in range(0, len(pairs), batch_size):
        chunk = pairs[i:i + batch_size]
        scores = np.asarray(sc(chunk), dtype=np.float64).reshape(-1)
        if scores.shape != (len(chunk),):
            raise ValueError(
                f"injected cross-scorer returned shape {scores.shape} "
                f"for {len(chunk)} pairs — expected ({len(chunk)},)")
        out.extend(float(s) for s in scores)
    return out


def make_cross_scorer_udf(scorer: Callable | None = None,
                          loader: Callable[[], Callable] | None = None,
                          batch_size: int = 32):
    """``(query, text) -> double`` pandas UDF around a
    ``CrossEncoder.predict``-shaped callable. Exactly one of ``scorer``
    (picklable callable) / ``loader`` (per-worker factory) must be
    given. NULL/empty text scores ``-inf`` — it sorts LAST under the
    rerank's ``DESC`` order (the no-signal convention; NaN would sort
    first, Spark treats NaN as the largest double)."""
    import uuid as _uuid

    if (scorer is None) == (loader is None):
        raise ValueError("pass exactly one of scorer= or loader=")
    memo_key = _uuid.uuid4().hex

    @pandas_udf("double")
    def score_pairs(query: pd.Series, text: pd.Series) -> pd.Series:
        sc = _resolve(scorer, loader, memo_key)
        idx = [i for i, t in enumerate(text) if t]
        scores = _score_batched(
            sc, [(query.iloc[i], text.iloc[i]) for i in idx], batch_size)
        out = [float("-inf")] * len(text)
        for i, s in zip(idx, scores):
            out[i] = s
        return pd.Series(out, dtype="float64")

    return score_pairs


def deterministic_fake_cross_scorer(dim: int = 64,
                                    seed: int = 11) -> Callable:
    """A weights-free stand-in with the ``CrossEncoder.predict`` shape:
    ``pairs -> (n,) float64``. Score = cosine of the X115 fake encoder's
    trigram vectors PLUS a joint query-token-coverage term (fraction of
    the query's whitespace tokens appearing verbatim in the text) — the
    overlap term depends on the pair jointly, so the fake is genuinely
    non-factorizable, like the model class it stands in for. Exceeding
    plain cosine on exact term matches also gives tests real rank
    movement between the two stages."""
    from .neural import deterministic_fake_encoder

    enc = deterministic_fake_encoder(dim, seed=seed)

    def predict(pairs) -> np.ndarray:
        pairs = list(pairs)
        out = np.zeros(len(pairs), dtype=np.float64)
        if not pairs:
            return out
        qs = [p[0] or "" for p in pairs]
        ts = [p[1] or "" for p in pairs]
        qv = np.asarray(enc(qs), dtype=np.float64)
        tv = np.asarray(enc(ts), dtype=np.float64)
        # enc output is L2-normalized (zero vector for empty text), so
        # the rowwise dot IS the cosine
        cos = np.einsum("ij,ij->i", qv, tv)
        for i, (q, t) in enumerate(zip(qs, ts)):
            qtok = [w for w in q.lower().split() if w]
            cover = (sum(1 for w in qtok if w in t.lower()) / len(qtok)
                     if qtok else 0.0)
            out[i] = cos[i] + cover
        return out

    return predict
