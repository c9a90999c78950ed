"""From-scratch, layer-attributed benchmark of city2graph_spark.

    python3 perfbench/run.py --workload proximity_uniform --seed 1 \\
        --seconds 12 --trace 0

Run from the root of a source checkout.  Set-up (library import, JVM and
session start, input generation, and untimed passes that warm the Python
workers and the JIT) is timed as ``setup_s``.  Timed passes then run until
``--seconds`` have elapsed; every operator call in a pass computes from
scratch (cache cleared and checked empty before it), is forced by
collecting its output, and has that output checked.  ``--trace 0`` prints
the end-to-end metrics; ``--trace 1`` splits the window into an untraced
and an event-logged half and prints the per-layer metrics (see README.md).
The last stdout line is the result JSON; the line before it records the
environment.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = min(len(os.sched_getaffinity(0)), 4)
SHUFFLE_PARTITIONS = 2 * CORES
DRIVER_MEM = "1g"
# untimed passes in set-up: the first pays Python worker start-up, code
# generation and the first JIT compiles; after it the next pass is still
# 10-25% slower than later ones, and the timed pass would sit on that slope
WARMUP_PASSES = 2

# per-call layer metrics reported in the traced run, for every call of
# the listed workloads (0 where the workload makes no such call); the
# single call of morphology_dag shows in the pass totals
CALLS = ("proximity.knn_graph", "proximity.gabriel_graph",
         "dedup.minhash_lsh_pairs", "dedup.simhash_neardup_pairs",
         "dedup.ngram_jaccard_pairs", "simsearch.cosine_topk",
         "tessellation.enclosed_tessellation")
CALL_METRICS = ("s", "driver.s", "spark.jobs", "spark.tasks",
                "spark.executor_run_s", "spark.max_task_ratio",
                "shuffle.write_mb", "shuffle.spill_mb", "python.sent_mb",
                "python.yield", "cache.persisted_rdds_after",
                "cache.cached_plans_after")
# pass-level totals: summed over calls, except these
RATIOS = ("spark.core_util", "spark.max_task_ratio", "python.yield")
LAST = ("cache.persisted_rdds_after", "cache.cached_plans_after")


END_TO_END_UNITS = {"wall_s": "s", "output_rows_per_s": "rows/s",
                    "setup_s": "s", "peak_rss_mb": "MB"}


def unit(metric: str) -> str:
    if metric in END_TO_END_UNITS:
        return END_TO_END_UNITS[metric]
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith((".s", "_s")) or metric == "s":
        return "s"
    if metric.endswith(("ratio", "util", "yield")):
        return "ratio"
    return "count"


def _environment(work: str) -> None:
    """Keep every file the run writes inside ``work``; one BLAS thread per
    Python worker; library importable by the Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell"])


class Bench:
    def __init__(self, workload: str, seed: int, work: str):
        self.workload, self.seed, self.work = workload, seed, work
        self.spark = None
        self.failures: list[str] = []

    # -- session ---------------------------------------------------------
    def start_session(self, event_log: str | None = None) -> None:
        from pyspark import SparkContext

        from city2graph_spark.session import get_spark
        if self.spark is not None:
            self.spark.stop()
        jvm = SparkContext._jvm
        if jvm is not None:       # a later session in the same JVM
            props = {"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{event_log}",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"}
            for k, v in props.items():
                if event_log:
                    jvm.System.setProperty(k, v)
                else:
                    jvm.System.clearProperty(k)
        elif event_log:
            raise RuntimeError("the first session of a run is never traced")
        self.spark = get_spark("perfbench", master=f"local[{CORES}]",
                               shuffle_partitions=str(SHUFFLE_PARTITIONS))
        self.spark.sparkContext.setLogLevel("ERROR")

    def alive(self) -> bool:
        try:
            return self.spark.range(1).count() == 1
        except Exception:                       # noqa: BLE001 - any JVM loss
            return False

    def shutdown(self) -> None:
        """Stop the session and the JVM; wait for every child process."""
        import procs
        from pyspark import SparkContext
        pids = procs.descendants()
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            self.spark = None
            gw = SparkContext._gateway
            if gw is not None:
                try:
                    gw.shutdown()
                except Exception:               # noqa: BLE001 - JVM already gone
                    pass
                finally:
                    proc = getattr(gw, "proc", None)
                    if proc is not None and proc.stdin is not None:
                        proc.stdin.close()   # the JVM exits on stdin EOF
                    SparkContext._gateway = SparkContext._jvm = None
            procs.wait_gone(pids)

    # -- from-scratch guard ----------------------------------------------
    def release(self) -> None:
        """Drop every cached plan and persisted RDD; fail if any survive.
        Full Python and JVM collections leave each call the same heap."""
        gc.collect()
        self.spark.catalog.clearCache()
        jsc = self.spark.sparkContext._jsc
        for rdd in list(jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        if not cm.isEmpty() or jsc.getPersistentRDDs().size():
            raise RuntimeError("cache not empty before a timed call")
        self.spark._jvm.System.gc()

    def cache_counts(self) -> tuple[int, int]:
        gc.collect()
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        return (int(self.spark.sparkContext._jsc.getPersistentRDDs().size()),
                0 if cm.isEmpty() else int(cm.cachedData().size()))

    # -- passes ----------------------------------------------------------
    def run_pass(self, wl, rss, tag: str | None = None) -> dict:
        calls, wall, rows, peak = [], 0.0, 0, 0
        sc = self.spark.sparkContext
        for call in wl.calls:
            self.release()
            group = f"{tag}|{call.name}" if tag else None
            if group:
                sc.setJobGroup(group, group)
            rss.window()
            start, t0 = time.time(), time.perf_counter()
            err, n = None, 0
            try:
                table = call.run(self.spark).toArrow()
                dt = time.perf_counter() - t0
                end = time.time()
                peak = max(peak, rss.window())
                n = table.num_rows
                err = call.check(table)
                del table
            except Exception as exc:            # noqa: BLE001 - counted, run goes on
                dt, end = time.perf_counter() - t0, time.time()
                err = f"{type(exc).__name__}: {str(exc).splitlines()[0][:300]}"
                traceback.print_exc(file=sys.stderr)
            if group:
                sc._jsc.clearJobGroup()
            if err is not None:
                self.failures.append(f"{call.name}: {err}")
                print(f"FAILED {call.name}: {err}", file=sys.stderr)
                if not self.alive():
                    self.start_session()
                    sc = self.spark.sparkContext
            else:
                rows += n
            persisted, cached = self.cache_counts()
            wall += dt
            calls.append({"group": group, "name": call.name, "s": dt,
                          "start": start, "end": end, "rows": n,
                          "ok": err is None, "persisted_rdds_after": persisted,
                          "cached_plans_after": cached})
        return {"wall_s": wall, "rows": rows, "peak_rss": peak, "calls": calls}

    def measure(self, wl, seconds: float, rss, tag: str | None = None) -> list[dict]:
        passes = []
        deadline = time.perf_counter() + seconds
        while True:
            passes.append(self.run_pass(
                wl, rss, f"{tag}{len(passes)}" if tag else None))
            if time.perf_counter() >= deadline:
                return passes

    def warm_up(self, wl) -> None:
        for call in wl.calls:
            try:
                call.run(self.spark).toArrow()
            except Exception:                   # noqa: BLE001 - reported, not counted
                traceback.print_exc(file=sys.stderr)
                if not self.alive():
                    self.start_session()

    def setup(self, warmups: int = WARMUP_PASSES):
        """Session start + input generation + ``warmups`` untimed, unchecked
        passes; returns the workload and the time set-up ended."""
        import workloads
        t0 = time.perf_counter()
        self.start_session()
        t1 = time.perf_counter()
        wl = workloads.build(self.workload, self.seed,
                             os.path.join(self.work, "inputs"), 2 * CORES)
        t2 = time.perf_counter()
        for _ in range(warmups):
            self.warm_up(wl)
        t3 = time.perf_counter()
        print(f"setup: session {t1 - t0:.2f} s, inputs {t2 - t1:.2f} s, "
              f"warm-up {t3 - t2:.2f} s", file=sys.stderr)
        return wl, t3


def traced_metrics(events, passes, cores) -> dict:
    import evlog
    calls = [c for p in passes for c in p["calls"]]
    per = evlog.layer_metrics(events, calls, cores)
    out = {}
    for name in CALLS:
        for m in CALL_METRICS:
            vals = [per[c["group"]][m] for c in calls if c["name"] == name]
            out[f"{name}.{m}"] = statistics.median(vals) if vals else 0.0
    totals = []
    for p in passes:
        rows = [per[c["group"]] for c in p["calls"]]
        tot = {m: sum(r[m] for r in rows) for m in rows[0]
               if m not in RATIOS and m not in LAST}
        tot.update({m: rows[-1][m] for m in LAST})
        tot["spark.max_task_ratio"] = max(r["spark.max_task_ratio"] for r in rows)
        tot["spark.core_util"] = tot["spark.executor_run_s"] / max(
            p["wall_s"] * cores, 1e-9)
        tot["python.yield"] = (tot["python.rows_out"] / tot["python.rows_in"]
                               if tot["python.rows_in"] else 0.0)
        del tot["s"]
        totals.append(tot)
    for m in totals[0]:
        out[m] = statistics.median(t[m] for t in totals)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    sys.path[:0] = [ROOT, HERE]
    try:
        import city2graph_spark  # noqa: F401
        import pyspark
    except ImportError as exc:
        print(f"perfbench: cannot import the program ({exc}); run from the "
              "root of a city2graph_spark checkout", file=sys.stderr)
        return 2
    import numpy as np

    import procs
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    procs.adopt_orphans()
    load1 = os.getloadavg()[0]
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)
    bench = Bench(args.workload, args.seed, work)
    try:
        with procs.PeakRss() as rss:
            # traced: each half adds its own warm-up pass after a session
            # restart, so the untraced half times the same pass as --trace 0
            wl, t_ready = bench.setup(WARMUP_PASSES - args.trace)
            setup_s = t_ready - t_start
            for call in wl.calls:               # oracles: untimed
                call.check.prepare()
            if args.trace:
                # both halves start from a fresh session and one warm-up
                # pass, so their difference is the tracing overhead
                bench.start_session()
                bench.warm_up(wl)
                plain = bench.measure(wl, args.seconds / 2, rss)
                log_dir = os.path.join(work, "eventlog")
                os.makedirs(log_dir, exist_ok=True)
                bench.start_session(event_log=log_dir)
                bench.warm_up(wl)
                traced = bench.measure(wl, args.seconds / 2, rss, tag="p")
                bench.spark.stop()
                bench.spark = None
                import evlog
                metrics = traced_metrics(evlog.read_events(log_dir), traced, CORES)
                metrics["trace.wall_s"] = statistics.median(
                    p["wall_s"] for p in traced)
                metrics["trace.overhead_s"] = metrics["trace.wall_s"] - \
                    statistics.median(p["wall_s"] for p in plain)
                passes = plain + traced
            else:
                passes = bench.measure(wl, args.seconds, rss)
                wall = statistics.median(p["wall_s"] for p in passes)
                metrics = {
                    "wall_s": wall,
                    "output_rows_per_s": statistics.median(
                        p["rows"] / p["wall_s"] for p in passes),
                    "setup_s": setup_s,
                    "peak_rss_mb": statistics.median(
                        p["peak_rss"] for p in passes) / 1e6,
                }
    finally:
        bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    attempted = sum(len(p["calls"]) for p in passes)
    failed = sum(1 for p in passes for c in p["calls"] if not c["ok"])
    env = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "cores": CORES,
        "master": f"local[{CORES}]", "shuffle_partitions": SHUFFLE_PARTITIONS,
        "driver_memory": DRIVER_MEM, "spark": pyspark.__version__,
        "python": platform.python_version(), "numpy": np.__version__,
        "loadavg_1m_before": load1, "inputs": wl.info,
        "setup_s": round(setup_s, 4),
        "pass_wall_s": [round(p["wall_s"], 4) for p in passes],
        "call_s": {c.name: [round(cc["s"], 4) for p in passes
                            for cc in p["calls"] if cc["name"] == c.name]
                   for c in wl.calls},
        "failures": bench.failures[:20],
    }
    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)}
                    for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
