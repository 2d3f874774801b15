"""spark-submit entrypoint: audit a committed index's structural
invariants (the distributed ``fsck`` — see ``plans/audit.py``).

Usage:

    spark-submit --py-files sse_spark.zip scripts/audit_index.py \
        --warehouse <path-or-catalog> [--store hadoop|iceberg] \
        [--field text|title|anchor] [--sample-buckets 0,1,2] \
        [--compact-logs]

Prints one JSON line: {"ok": bool, "checks": [...]}; exit code 1 when any
check fails or, with --compact-logs, any table's compaction raised — wire
it into the maintenance schedule (full sweep after every layout
migration, a rotating --sample-buckets subset daily).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--warehouse", required=True)
    p.add_argument("--store", default="hadoop", choices=["hadoop", "iceberg"])
    p.add_argument("--field", default="text",
                   choices=["text", "title", "anchor"])
    p.add_argument("--sample-buckets", default=None,
                   help="comma-separated doc-bucket ids: restrict the "
                        "payload-decoding checks to this subset")
    p.add_argument("--compact-logs", action="store_true",
                   help="after the audit, fold every append-accumulated "
                        "table (multi-snapshot manifest path list: ingest "
                        "lineage, fetch logs) into one snapshot via "
                        "TableStore.compact — content- and data_uuid-"
                        "preserving, so it belongs in the same maintenance "
                        "schedule as the audit itself (hadoop store; an "
                        "Iceberg catalog runs its own rewrite_data_files "
                        "maintenance)")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    preexisting = SparkSession.getActiveSession() is not None

    from semantic_search_engine_spark.plans.audit import audit_report
    from semantic_search_engine_spark.sources.store import make_store

    spark = (SparkSession.builder.appName("sse-audit-index")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .getOrCreate())
    store = make_store(spark, args.warehouse, args.store)
    sample = ([int(x) for x in args.sample_buckets.split(",")]
              if args.sample_buckets else None)
    report = audit_report(spark, store, field=args.field,
                          sample_buckets=sample)
    if args.compact_logs:
        from semantic_search_engine_spark.sources.store import (
            HadoopTableStore,
        )

        if isinstance(store, HadoopTableStore):
            compacted, errors = [], {}
            for t in store.append_accumulated_tables():
                # a per-table failure (vanished snap dir, concurrent
                # writer) must not swallow the audit result itself
                try:
                    store.compact(t)
                    compacted.append(t)
                except Exception as e:  # noqa: BLE001 — reported, not hidden
                    errors[t] = f"{type(e).__name__}: {e}"
            report["compacted_logs"] = compacted
            if errors:
                # a failed compaction fails the run: the exit code is
                # what the maintenance schedule alerts on
                report["compact_errors"] = errors
                report["ok"] = False
        else:
            # loud, not a silent no-op: an Iceberg catalog schedules its
            # own rewrite_data_files maintenance (store.compact(table)
            # is available per-table programmatically)
            report["compacted_logs"] = None
            print("--compact-logs sweep supports the hadoop store only; "
                  "use Iceberg's table maintenance (rewrite_data_files) "
                  "or store.compact(table) per table", file=sys.stderr)
    print(json.dumps(report, default=str))
    if not preexisting:
        spark.stop()
    return 0 if report["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
