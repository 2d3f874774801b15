"""BM25 engine benchmark: cold index build, then one serving workload.

Run from the repository root::

    python3 perfbench/run.py --workload point-tail --seed 1 --seconds 15 --trace 0

Every run generates a seeded corpus, builds its oracle, starts a fresh
``local[nproc]`` Spark session with a fresh warehouse and local dir,
cold-builds the index, warms up, and then drives one client in a closed
loop for ``--seconds``. Every served result is checked against
``oracle.OracleIndex`` after the window. A human-readable report goes to
stderr; the last line of stdout is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics instead (see README.md in this directory).
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

N_DOCS = 3000
K = 10
POINT_POOL = 300          # distinct queries behind the point-tail stream
POINT_SEARCH_EVERY = 5    # every 5th point request is search(lang=...)
POINT_WARMUP = 5          # untimed requests (one full top_k/search cycle)
BATCH_SIZE = 20           # distinct head queries per batch_top_k call
BATCH_WARMUP = 2          # untimed batch calls before the window
UPDATE_RECRAWL, UPDATE_NEW = 4, 4  # traced ingest probe: urls re-crawled / new
EXTRACT_SAMPLE = 200      # docs in the one-process textproc sample
DRIVER_MEMORY = "2g"


def cpu_steal_s() -> float:
    """Host CPU time stolen from this VM so far (all CPUs), from
    /proc/stat; logged per run so contended runs can be told apart."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def start_spark(workdir: Path, cores: int):
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    tmp = workdir / "tmp"
    tmp.mkdir()
    os.environ["TMPDIR"] = tempfile.tempdir = str(tmp)
    # Python workers: serve large Arrow buffers from a retained heap
    # instead of mmap/munmap per batch, so freed pages are not handed
    # back to the kernel and faulted in again on the next batch.
    os.environ.update(MALLOC_MMAP_THRESHOLD_="33554432",
                      MALLOC_TRIM_THRESHOLD_="1073741824",
                      MALLOC_MMAP_MAX_="0")
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        # fixed, pre-touched heap: no page faults on heap growth mid-run
        .config("spark.driver.extraJavaOptions",
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", str(workdir / "spark-local"))
        .config("spark.sql.warehouse.dir", str(workdir / "spark-warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # rows carry ~45 KB of HTML: 512-row Arrow batches keep each
        # in-flight transfer near 23 MB
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for every child
    process of this one to exit."""
    from pyspark import SparkContext

    from probes import descendants

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - last resort, then reap
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


class Served:
    """One served call and what the check needs afterwards."""

    __slots__ = ("kind", "queries", "lang", "wall_s", "result", "error",
                 "trace")

    def __init__(self, kind, queries, lang=None):
        self.kind, self.queries, self.lang = kind, queries, lang
        self.wall_s = 0.0
        self.result = None  # list of (doc_id, score) per query
        self.error = None
        self.trace = None


def traced_call(counter, plan_fn, label: str) -> tuple[list, dict]:
    """Run ``plan_fn()`` (a ``*_df`` call) and collect it, each under its
    own job group; returns the rows and the per-phase figures."""
    g_plan = counter.group(f"{label}-plan")
    t0 = time.perf_counter()
    df = plan_fn()
    t1 = time.perf_counter()
    g_exec = counter.group(f"{label}-exec")
    rows = df.collect()
    t2 = time.perf_counter()
    ex = counter.counts(g_exec)
    return rows, {"plan_ms": (t1 - t0) * 1e3, "exec_ms": (t2 - t1) * 1e3,
                  "plan_jobs": counter.counts(g_plan)["jobs"],
                  "jobs": ex["jobs"], "stages": ex["stages"],
                  "tasks": ex["tasks"]}


class PointTail:
    """Single requests: ``top_k(k=10)``, or ``search(lang=...,
    count_mode="none")`` for every fifth, over a Zipf-popular pool of
    tail-term and planted-phrase queries."""

    name = "point-tail"
    warmup_calls = POINT_WARMUP

    def __init__(self, seed, eng, counter):
        from inputs import point_requests

        self.stream = point_requests(seed, POINT_POOL, POINT_SEARCH_EVERY)
        self.eng, self.counter = eng, counter

    def call(self, traced: bool) -> Served:
        kind, q, lang = next(self.stream)
        s = Served(kind, [q], lang)
        eng = self.eng
        t0 = time.perf_counter()
        try:
            if kind == "search":
                env = eng.search(q, k=K, lang=lang, count_mode="none")
                res = [(int(r["doc_id"]), float(r["score"]))
                       for r in env["results"]]
            elif traced:
                # top_k's own body, split at the action
                rows, s.trace = traced_call(
                    self.counter, lambda: eng.wand_top_k_df(q, k=K), "query")
                res = [(int(r["doc_id"]), float(r["score"])) for r in rows]
            else:
                res = eng.top_k(q, k=K)
            s.result = [res]
        except Exception:  # noqa: BLE001 - a failed request is a result
            s.error = traceback.format_exc()
        s.wall_s = time.perf_counter() - t0
        return s


class BatchHead:
    """``batch_top_k`` calls of BATCH_SIZE distinct queries, each 2-4 of
    the 20 Zipf head terms."""

    name = "batch-head"
    warmup_calls = BATCH_WARMUP

    def __init__(self, seed, eng, counter):
        from inputs import head_batches

        self.stream = head_batches(seed, BATCH_SIZE)
        self.eng, self.counter = eng, counter

    def call(self, traced: bool) -> Served:
        queries = next(self.stream)
        s = Served("batch", queries)
        eng = self.eng
        t0 = time.perf_counter()
        try:
            if traced:
                # batch_top_k's own body, split at the action
                rows, s.trace = traced_call(
                    self.counter,
                    lambda: eng.batch_wand_top_k_df(queries, k=K), "batch")
                by_qid: dict[int, list] = {}
                for r in rows:
                    by_qid.setdefault(int(r["query_id"]), []).append(
                        (int(r["doc_id"]), float(r["score"])))
                out = {q: sorted(by_qid.get(i, []),
                                 key=lambda h: (-h[1], h[0]))
                       for i, q in enumerate(queries)}
            else:
                out = eng.batch_top_k(queries, k=K)
            s.result = [out[q] for q in queries]
        except Exception:  # noqa: BLE001 - a failed call is a result
            s.error = traceback.format_exc()
        s.wall_s = time.perf_counter() - t0
        return s


WORKLOADS = {w.name: w for w in (PointTail, BatchHead)}


def expected(oracle, s: Served) -> list:
    if s.kind == "search":
        env = oracle.search(s.queries[0], k=K, lang=s.lang)
        return [[(h["doc_id"], h["score"]) for h in env["results"]]]
    return [oracle.top_k(q, K) for q in s.queries]


def check(oracle, calls: list[Served], log) -> tuple[int, int]:
    """(attempted, failed) queries; a failed call fails all its queries."""
    attempted = failed = 0
    for s in calls:
        attempted += len(s.queries)
        if s.error is not None:
            failed += len(s.queries)
            log(f"call failed ({s.kind} {s.queries[:3]}):\n{s.error}")
            continue
        for q, got, want in zip(s.queries, s.result, expected(oracle, s)):
            if got != want:
                failed += 1
                log(f"result differs from the oracle for {q!r}: "
                    f"{got[:3]} vs {want[:3]}")
    return attempted, failed


def layer_report(store, eng, calls, log) -> dict:
    """Kernel replay of every traced call; medians per serve call."""
    from replay import Replayer

    traced = [s for s in calls if s.trace is not None and s.error is None]
    stats = eng.corpus_stats()
    rep = Replayer(store, eng.cfg, stats["n_docs"], stats["avg_doc_len"],
                   [q for s in traced for q in s.queries])
    per_call = []
    matched = replayed = 0
    for s in traced:
        acc = dict(kernel_ms=0.0, decode_ms=0.0, evaluated=0, hits=0,
                   decoded=0, total=0)
        for q, served in zip(s.queries, s.result):
            r = rep.run(q, K)
            replayed += 1
            if r["top"] != served:
                log(f"replay of {q!r} differs from the served top-k; "
                    f"its kernel figures are dropped")
                continue
            matched += 1
            acc["kernel_ms"] += r["kernel_s"] * 1e3
            acc["decode_ms"] += r["decode_s"] * 1e3
            acc["evaluated"] += r["evaluated"]
            acc["hits"] += len(r["top"])
            acc["decoded"] += r["decoded_blocks"]
            acc["total"] += r["total_blocks"]
        per_call.append(acc)
    m = {f"serve.{key}": median([s.trace[key] for s in traced])
         for key in ("plan_ms", "exec_ms", "plan_jobs", "jobs", "stages",
                     "tasks")}
    m["wand.kernel_ms"] = median([a["kernel_ms"] for a in per_call])
    m["wand.evaluated_docs"] = median([a["evaluated"] for a in per_call])
    m["wand.evaluated_per_hit"] = median(
        [a["evaluated"] / a["hits"] for a in per_call if a["hits"]])
    m["wand.decoded_blocks_frac"] = median(
        [a["decoded"] / a["total"] for a in per_call if a["total"]])
    m["wand.replay_match_frac"] = matched / replayed if replayed else 0.0
    m["varbyte.decode_ms"] = median([a["decode_ms"] for a in per_call])
    kinds = {s.kind for s in traced}
    on = [s.wall_s for s in traced]
    off = [s.wall_s for s in calls if s.trace is None and s.kind in kinds
           and s.error is None]
    m["trace.overhead_frac"] = median(on) / median(off) - 1.0
    return m


def ingest_probe(spark, store, cfg, rows, seed, counter, log) -> tuple:
    """One traced upsert plus one traced read that must see it."""
    from inputs import SCHEMA_DDL, update_batch
    from probes import dir_usage

    from semantic_search_engine_spark.oracle import OracleIndex
    from semantic_search_engine_spark.plans.build_index import IndexBuilder
    from semantic_search_engine_spark.plans.query import QueryEngine
    from semantic_search_engine_spark.textproc import doc_bucket, doc_id_for_url

    upd, fresh_q = update_batch(rows, seed, UPDATE_RECRAWL, UPDATE_NEW)
    _b, _n, before = dir_usage(store.root)
    updates = spark.createDataFrame(upd, SCHEMA_DDL)
    gid = counter.group("ingest")
    t0 = time.perf_counter()
    runner = IndexBuilder(spark, store, cfg).ingest_updates(updates)
    wall = time.perf_counter() - t0
    m = {"ingest.wall_s": wall, "ingest.jobs": counter.counts(gid)["jobs"]}
    stage_s = {x["stage"]: x["wall_ms"] / 1e3 for x in runner.metrics
               if not x["skipped"]}
    for st in ("doc_meta", "corpus_stats", "postings", "term_stats"):
        m[f"ingest.{st}_s"] = stage_s.get(st, 0.0)
    m["ingest.merge_s"] = wall - sum(stage_s.values())
    buckets = {doc_bucket(doc_id_for_url(r["url"]), cfg.n_doc_buckets)
               for r in upd}
    m["ingest.buckets_touched_frac"] = len(buckets) / cfg.n_doc_buckets
    m["store.bytes_committed_per_ingest"] = sum(
        os.path.getsize(p) for p in dir_usage(store.root)[2] - before)

    eng = QueryEngine(spark, store, cfg=None)  # binds the new snapshot
    fresh = Served("top_k", [fresh_q])
    try:
        rs, fresh.trace = traced_call(
            counter, lambda: eng.wand_top_k_df(fresh_q, k=K), "fresh")
        fresh.result = [[(int(r["doc_id"]), float(r["score"])) for r in rs]]
        m["fresh.plan_ms"] = fresh.trace["plan_ms"]
        m["fresh.exec_ms"] = fresh.trace["exec_ms"]
    except Exception:  # noqa: BLE001 - reported through check()
        fresh.error = traceback.format_exc()
        m["fresh.plan_ms"] = m["fresh.exec_ms"] = float("nan")
    oracle = OracleIndex.build(rows + upd, cfg)
    return m, check(oracle, [fresh], log)


def extract_rate(rows) -> float:
    from semantic_search_engine_spark.textproc import extract_text, tokenize

    sample = [r["html"] for r in rows if r["html"]][:EXTRACT_SAMPLE]
    t0 = time.perf_counter()
    for h in sample:
        tokenize(extract_text(h))
    return len(sample) / (time.perf_counter() - t0)


def run(args, workdir: Path, log) -> dict:
    from inputs import write_parquet
    from probes import PeakRss, SparkCounter, dir_usage

    from semantic_search_engine_spark.config import EngineConfig
    from semantic_search_engine_spark.corpus import generate_rows
    from semantic_search_engine_spark.oracle import OracleIndex
    from semantic_search_engine_spark.plans.build_index import IndexBuilder
    from semantic_search_engine_spark.plans.query import QueryEngine
    from semantic_search_engine_spark.sources.store import HadoopTableStore

    steal0 = cpu_steal_s()
    cores = len(os.sched_getaffinity(0))
    cfg = EngineConfig(shuffle_partitions=cores,
                       python_stage_parallelism=cores)
    with PeakRss() as rss:
        # The JVM boots on its own thread while this one generates the
        # corpus and builds the oracle, so set-up counts only the boot's
        # own wall time and the oracle work stays off the critical path.
        boot: dict = {}

        def _boot():
            t = time.time()
            try:
                boot["spark"] = start_spark(workdir, cores)
            finally:
                boot["s"] = time.time() - t

        t_boot = time.time()
        booter = threading.Thread(target=_boot)
        booter.start()
        try:
            rows = list(generate_rows(N_DOCS, args.seed))
            corpus = workdir / "documents.parquet"
            write_parquet(rows, str(corpus))
            oracle = OracleIndex.build(rows, cfg)
        except BaseException:
            booter.join()
            if "spark" in boot:
                stop_spark(boot["spark"])
            raise
        log(f"[{time.time() - T_START:6.1f}s] corpus and oracle ready")
        booter.join()
        if "spark" not in boot:
            raise RuntimeError("the Spark session did not start")
        spark = boot["spark"]
        log(f"[{time.time() - T_START:6.1f}s] spark up ({boot['s']:.1f}s)")
        try:
            counter = SparkCounter(spark)
            store = HadoopTableStore(spark, str(workdir / "warehouse"))
            gid = counter.group("build")
            t_build = time.time()
            t0 = time.perf_counter()
            runner = IndexBuilder(spark, store, cfg).build(
                spark.read.parquet(str(corpus)))
            build_s = time.perf_counter() - t0
            build_counts = counter.counts(gid)
            log(f"[{time.time() - T_START:6.1f}s] built in {build_s:.1f}s")
            index_bytes, index_files, _ = dir_usage(store.root)
            engine = QueryEngine(spark, store, cfg=None)
            wl = WORKLOADS[args.workload](args.seed, engine, counter)
            calls = [wl.call(traced=False) for _ in range(wl.warmup_calls)]
            # imports + JVM boot + build + warm-up
            setup_s = (t_boot - T_START) + boot["s"] + (time.time() - t_build)
            log(f"[{time.time() - T_START:6.1f}s] warmed up")

            timed = []
            deadline = time.perf_counter() + args.seconds
            while time.perf_counter() < deadline:
                timed.append(wl.call(traced=bool(args.trace)
                                     and len(timed) % 2 == 0))
            calls += timed
            gc_ms = counter.gc_ms()  # JVM GC since start, through the window
            log(f"[{time.time() - T_START:6.1f}s] window closed: "
                + " ".join(f"{s.kind}:{s.wall_s * 1e3:.0f}" for s in timed))
            attempted, failed = check(oracle, calls, log)
            ok_walls = [s.wall_s for s in timed if s.error is None]
            log(f"{wl.name}: {len(timed)} timed calls "
                f"({len(calls) - len(timed)} warm-up), "
                f"{attempted} queries checked, {failed} failed")

            if args.trace:
                m = {"textproc.extract_docs_per_s": extract_rate(rows)}
                stage_s = {x["stage"]: x["wall_ms"] / 1e3
                           for x in runner.metrics}
                for st in ("doc_features", "doc_meta", "corpus_stats",
                           "postings", "term_stats"):
                    m[f"build.{st}_s"] = stage_s[st]
                m["build.jobs"] = build_counts["jobs"]
                m["build.tasks"] = build_counts["tasks"]
                m["store.index_bytes"] = index_bytes
                m["store.index_files"] = index_files
                m["jvm.gc_ms"] = gc_ms
                m.update(layer_report(store, engine, timed, log))
                probe_m, (a2, f2) = ingest_probe(spark, store, cfg, rows,
                                                 args.seed, counter, log)
                m.update(probe_m)
                attempted, failed = attempted + a2, failed + f2
            else:
                m = {"setup_s": setup_s,
                     "build_docs_per_s": N_DOCS / build_s,
                     "index_bytes_per_doc": index_bytes / N_DOCS,
                     "call_p50_ms": median(ok_walls) * 1e3}
        finally:
            log(f"[{time.time() - T_START:6.1f}s] stopping spark")
            stop_spark(spark)
    log(f"[{time.time() - T_START:6.1f}s] done; "
        f"{cpu_steal_s() - steal0:.1f} CPU-s stolen by the host")
    if not args.trace:
        m["peak_rss_mb"] = rss.peak / 2**20
    return {"attempted": attempted, "failed": failed, "metrics": m}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    def log(msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)

    sys.path.insert(0, str(ROOT))
    try:
        import semantic_search_engine_spark  # noqa: F401
    except ImportError:
        log("perfbench: the engine package is not next to perfbench/; "
            "run from a full checkout of the repository")
        return 2
    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; "
            f"choose from {sorted(WORKLOADS)}")
        return 2

    workdir = ROOT / ".perfbench_run" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(workdir, ignore_errors=True)
    workdir.mkdir(parents=True)
    try:
        out = run(args, workdir, log)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            workdir.parent.rmdir()
        except OSError:
            pass  # another run's directory is still there
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in spec}
    got = out["metrics"]
    bad = sorted(set(units) ^ set(got)) + sorted(
        k for k, v in got.items() if not math.isfinite(v))
    if bad:
        log(f"perfbench: metrics missing, unexpected or not finite: {bad}")
        return 1
    metrics = {k: {"value": got[k], "unit": u} for k, u in units.items()}
    for k, v in metrics.items():
        log(f"  {k:36s} {v['value']:>16.6g} {v['unit']}")
    print(json.dumps({"correct": out["failed"] == 0,
                      "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}),
          flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
