"""Kernel replay: re-run the serve path's per-bucket WAND on the driver.

The posting blocks of the traced queries are fetched through the store
outside any timed window; then ``plans.wand.wand_top_k`` runs per doc
bucket exactly as the engine's batch group function calls it (same term
order, weights, k and BM25 parameters) and is timed call by call. A
replay counts only if its merged top-k equals the served top-k.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from semantic_search_engine_spark.functions.varbyte import decode_block
from semantic_search_engine_spark.plans.wand import (
    bm25_idf,
    group_blocks_by_term,
    wand_top_k,
)
from semantic_search_engine_spark.textproc import tokenize

BLOCK_COLS = ["term", "partition_id", "block_id", "last_doc_id",
              "block_max_tf_norm", "doc_ids_vb", "tfs_vb", "dls_vb"]


class Replayer:
    def __init__(self, store, cfg, n_docs: int, avgdl: float, queries):
        self.cfg, self.n_docs, self.avgdl = cfg, n_docs, avgdl
        terms = sorted({t for q in queries for t in self.qterms(q)})
        pdf = (store.read("postings").filter(F.col("term").isin(terms))
               .select(*BLOCK_COLS).toPandas())
        self.buckets = {
            int(pid): g.sort_values(["term", "partition_id", "block_id"],
                                    kind="mergesort")
            for pid, g in pdf.groupby("partition_id")}
        self.df = {r["term"]: int(r["df"]) for r in
                   store.read("term_stats").filter(F.col("term").isin(terms))
                   .select("term", "df").collect()}

    def qterms(self, query: str) -> list[str]:
        c = self.cfg
        return sorted(set(tokenize(query, c.max_token_len, c.min_token_len,
                                   c.analyzer)))

    def run(self, query: str, k: int) -> dict:
        """Replay one query; returns its top-k and kernel/decoder figures."""
        c = self.cfg
        terms = self.qterms(query)
        kernel_s = decode_s = 0.0
        evaluated = decoded = total = 0
        hits = []
        for pid in sorted(self.buckets):
            g = self.buckets[pid]
            g = g[g["term"].isin(terms)]
            if not len(g):
                continue
            sub = group_blocks_by_term(g)
            weights = {t: bm25_idf(self.n_docs, self.df[t])
                       for t in terms if t in sub}
            sub = {t: sub[t] for t in weights}
            t0 = time.perf_counter()
            h, st = wand_top_k(sub, weights, k, float(c.k1), float(c.b),
                               self.avgdl)
            kernel_s += time.perf_counter() - t0
            hits.extend(h)
            evaluated += st["evaluated_docs"]
            decoded += st["decoded_blocks"]
            total += st["total_blocks"]
            blocks = [blk for bl in sub.values() for blk in bl]
            t0 = time.perf_counter()
            for blk in blocks:
                decode_block(blk["doc_ids_vb"], blk["tfs_vb"], blk["dls_vb"])
            decode_s += time.perf_counter() - t0
        top = sorted(hits, key=lambda h: (-h[1], h[0]))[:k]
        return {"top": top, "kernel_s": kernel_s, "decode_s": decode_s,
                "evaluated": evaluated, "decoded_blocks": decoded,
                "total_blocks": total}
