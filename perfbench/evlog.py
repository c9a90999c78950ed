"""Per-layer metrics from a Spark event log.

The traced run tags every operator call with a Spark job group
(``<pass>|<call>``) and records the call's wall-clock interval.  After the
session stops, ``layer_metrics`` attributes jobs, stages and tasks to calls
through the group id, and SQL metrics to Python operators through the
physical plans the log carries."""

from __future__ import annotations

import glob
import json
import statistics

# physical operators that hand rows to Python workers
_PY_NODES = ("InPandas", "InArrow", "EvalPython", "PythonUDTF")


def _plan_python_accums(plan: dict, out_ids: set, in_ids: set) -> None:
    """Collect accumulator ids of rows leaving (``out_ids``) and entering
    (``in_ids``) every Python operator of a plan tree."""
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if any(k in plan["nodeName"] for k in _PY_NODES):
        if "number of output rows" in metrics:
            out_ids.add(metrics["number of output rows"])
        for child in plan.get("children", []):
            in_ids.update(_first_row_counters(child))
    for child in plan.get("children", []):
        _plan_python_accums(child, out_ids, in_ids)


def _first_row_counters(plan: dict) -> list[int]:
    """The nearest row counters at or below ``plan`` (operators such as
    Sort, Project and codegen wrappers pass rows through uncounted)."""
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    for name in ("number of output rows", "records read"):
        if name in metrics:
            return [metrics[name]]
    out = []
    for child in plan.get("children", []):
        out.extend(_first_row_counters(child))
    return out


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def read_events(log_dir: str) -> list[dict]:
    files = [f for f in glob.glob(f"{log_dir}/*") if not f.endswith(".crc")]
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def layer_metrics(events: list[dict], calls: list[dict], cores: int) -> dict:
    """Per-call metrics for every traced call.  ``calls`` holds one dict per
    call made: group id, name, start and end (epoch seconds), and the cache
    counts taken after it.  Returns {group: {metric: value}}."""
    job_group, job_span, stage_group = {}, {}, {}
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            g = e.get("Properties", {}).get("spark.jobGroup.id")
            job_group[e["Job ID"]] = g
            job_span[e["Job ID"]] = [e["Submission Time"], None]
            for s in e["Stage IDs"]:
                stage_group.setdefault(s, g)
        elif ev == "SparkListenerJobEnd" and e["Job ID"] in job_span:
            job_span[e["Job ID"]][1] = e["Completion Time"]

    py_out, py_in = set(), set()
    for e in events:
        if e["Event"].endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _plan_python_accums(e["sparkPlanInfo"], py_out, py_in)

    stats = {c["group"]: dict.fromkeys(
        ("stages", "tasks", "run_ms", "cpu_ns", "gc_ms", "scan_rows",
         "sw_bytes", "sr_bytes", "s_records", "fetch_ms", "spill_bytes",
         "py_sent", "py_recv", "py_in", "py_out"), 0) for c in calls}
    stage_tasks: dict[int, list[int]] = {}
    stage_len: dict[int, int] = {}
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            g = stage_group.get(info["Stage ID"])
            if g in stats and "Submission Time" in info:
                stats[g]["stages"] += 1
                stage_len[info["Stage ID"]] = (info.get("Completion Time", 0)
                                               - info["Submission Time"])
        elif ev == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"])
            if g not in stats:
                continue
            s, m, ti = stats[g], e.get("Task Metrics") or {}, e["Task Info"]
            s["tasks"] += 1
            stage_tasks.setdefault(e["Stage ID"], []).append(
                ti["Finish Time"] - ti["Launch Time"])
            s["run_ms"] += m.get("Executor Run Time", 0)
            s["cpu_ns"] += m.get("Executor CPU Time", 0)
            s["gc_ms"] += m.get("JVM GC Time", 0)
            s["scan_rows"] += m.get("Input Metrics", {}).get("Records Read", 0)
            sw = m.get("Shuffle Write Metrics", {})
            sr = m.get("Shuffle Read Metrics", {})
            s["sw_bytes"] += sw.get("Shuffle Bytes Written", 0)
            s["s_records"] += sw.get("Shuffle Records Written", 0)
            s["sr_bytes"] += (sr.get("Remote Bytes Read", 0)
                              + sr.get("Local Bytes Read", 0))
            s["fetch_ms"] += sr.get("Fetch Wait Time", 0)
            s["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            for a in ti.get("Accumulables", []):
                upd = a.get("Update")
                if upd is None:
                    continue
                name = a.get("Name")
                if name == "data sent to Python workers":
                    s["py_sent"] += int(upd)
                elif name == "data returned from Python workers":
                    s["py_recv"] += int(upd)
                elif a.get("ID") in py_out:
                    s["py_out"] += int(upd)
                elif a.get("ID") in py_in:
                    s["py_in"] += int(upd)

    out = {}
    for c in calls:
        g, s = c["group"], stats[c["group"]]
        wall_ms = (c["end"] - c["start"]) * 1000.0
        spans = []
        for j, grp in job_group.items():
            a, b = job_span[j]
            if grp == g and b is not None:
                spans.append((max(a, c["start"] * 1000.0),
                              min(b, c["end"] * 1000.0)))
        busy = _union_ms([sp for sp in spans if sp[1] > sp[0]])
        stages = [sid for sid, grp in stage_group.items()
                  if grp == g and sid in stage_tasks]
        ratio = 0.0
        if stages:
            longest = max(stages, key=lambda sid: stage_len.get(sid, 0))
            durs = stage_tasks[longest]
            ratio = max(durs) / max(statistics.median(durs), 1.0)
        out[g] = {
            "s": wall_ms / 1000.0,
            "driver.s": max(wall_ms - busy, 0.0) / 1000.0,
            "spark.jobs": sum(1 for grp in job_group.values() if grp == g),
            "spark.stages": s["stages"],
            "spark.tasks": s["tasks"],
            "spark.executor_run_s": s["run_ms"] / 1000.0,
            "spark.executor_cpu_s": s["cpu_ns"] / 1e9,
            "spark.gc_s": s["gc_ms"] / 1000.0,
            "spark.core_util": s["run_ms"] / max(wall_ms * cores, 1e-9),
            "spark.max_task_ratio": ratio,
            "scan.rows": s["scan_rows"],
            "shuffle.write_mb": s["sw_bytes"] / 1e6,
            "shuffle.read_mb": s["sr_bytes"] / 1e6,
            "shuffle.records": s["s_records"],
            "shuffle.fetch_wait_s": s["fetch_ms"] / 1000.0,
            "shuffle.spill_mb": s["spill_bytes"] / 1e6,
            "python.sent_mb": s["py_sent"] / 1e6,
            "python.recv_mb": s["py_recv"] / 1e6,
            "python.rows_in": s["py_in"],
            "python.rows_out": s["py_out"],
            "python.yield": s["py_out"] / s["py_in"] if s["py_in"] else 0.0,
            "cache.persisted_rdds_after": c["persisted_rdds_after"],
            "cache.cached_plans_after": c["cached_plans_after"],
        }
    return out
