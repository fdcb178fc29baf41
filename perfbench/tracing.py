"""Spans, the Spark event-log reducer and the summary statistics of the
crz-spark benchmark.

Spans are taken by the benchmark around its own calls into the package
(nothing inside ``crz_scraper_spark`` is instrumented). Spark work is
attributed to spans by time window: a job, stage or task belongs to the
innermost span whose interval holds its submission (or launch) time.
Operations run one at a time, so windows cannot overlap across operations,
and streaming micro-batch jobs, which run on threads that never see the
caller's job group, are attributed like any other job.
"""

from __future__ import annotations

import json
import math
import time
from contextlib import contextmanager

# Phases an operation's time is split into. Every span the benchmark opens
# inside an operation is of exactly one phase, so the phases tile the
# operation and must add up to its wall time.
BUILD, CATALYST, EXEC = "build", "catalyst", "exec"

PYTHON_BYTES_ACCUMULATORS = (
    "data sent to Python workers",
    "data returned from Python workers",
)


class Tracer:
    """In-memory span recorder; ``dump`` writes the spans out at the end."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op_id: str | None = None, phase: str | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "op_id": op_id,
            "phase": phase,
            "parent": parent,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# ---------------------------------------------------------------------------
# Event log


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse_event_log(lines) -> dict:
    """Reduce plain-JSON Spark event-log lines to jobs, stages and tasks,
    each with epoch-second timestamps."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple, dict] = {}
    tasks: list[dict] = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "id": ev["Job ID"],
                "submit": ev["Submission Time"] / 1000.0,
                "end": None,
            }
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            stages[key] = {
                "submit": _num(info.get("Submission Time")) / 1000.0,
                "first_launch": None,
                "tasks": info.get("Number of Tasks", 0),
            }
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            py_bytes = sum(
                _num(a.get("Update"))
                for a in info.get("Accumulables", [])
                if a.get("Name") in PYTHON_BYTES_ACCUMULATORS
            )
            launch = info["Launch Time"] / 1000.0
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            stage = stages.get(key)
            if stage is not None and (
                stage["first_launch"] is None or launch < stage["first_launch"]
            ):
                stage["first_launch"] = launch
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            tasks.append(
                {
                    "launch": launch,
                    "finish": info["Finish Time"] / 1000.0,
                    "run_s": _num(m.get("Executor Run Time")) / 1000.0,
                    "cpu_s": _num(m.get("Executor CPU Time")) / 1e9,
                    "gc_s": _num(m.get("JVM GC Time")) / 1000.0,
                    "shuffle_read_bytes": _num(sr.get("Remote Bytes Read"))
                    + _num(sr.get("Local Bytes Read")),
                    "shuffle_write_bytes": _num(sw.get("Shuffle Bytes Written")),
                    "spill_bytes": _num(m.get("Memory Bytes Spilled"))
                    + _num(m.get("Disk Bytes Spilled")),
                    "peak_exec_mem_bytes": _num(m.get("Peak Execution Memory")),
                    "python_bytes": py_bytes,
                    "failed": bool(info.get("Failed")) or reason != "Success",
                }
            )
    return {
        "jobs": sorted(jobs.values(), key=lambda j: j["submit"]),
        "stages": list(stages.values()),
        "tasks": tasks,
    }


def union_seconds(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_work_in(log: dict, start: float, end: float, cores: int) -> dict:
    """Sum the jobs, stages and tasks whose submission or launch time lies
    in ``[start, end)``."""

    def inside(t):
        return t is not None and start <= t < end

    jobs = [j for j in log["jobs"] if inside(j["submit"])]
    stages = [s for s in log["stages"] if inside(s["submit"])]
    tasks = [t for t in log["tasks"] if inside(t["launch"])]
    wall = max(end - start, 1e-9)
    run_s = sum(t["run_s"] for t in tasks)
    return {
        "jobs": len(jobs),
        "job_s": union_seconds((j["submit"], j["end"] or end) for j in jobs),
        "stages": len(stages),
        "tasks": len(tasks),
        "task_run_s": run_s,
        "task_cpu_s": sum(t["cpu_s"] for t in tasks),
        "gc_s": sum(t["gc_s"] for t in tasks),
        "sched_wait_s": sum(
            s["first_launch"] - s["submit"]
            for s in stages
            if s["first_launch"] is not None
        ),
        "core_busy_ratio": run_s / (wall * cores),
        "shuffle_read_bytes": sum(t["shuffle_read_bytes"] for t in tasks),
        "shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in tasks),
        "spill_bytes": sum(t["spill_bytes"] for t in tasks),
        "peak_exec_mem_bytes": max((t["peak_exec_mem_bytes"] for t in tasks), default=0),
        "python_bytes": sum(t["python_bytes"] for t in tasks),
        "failed_tasks": sum(1 for t in tasks if t["failed"]),
    }


# ---------------------------------------------------------------------------
# Per-layer metrics of a traced run

ADDITIVITY_TOLERANCE = 0.10
# Spans whose duration is a per-layer metric of its own (contracts_ingest).
SPAN_LAYERS = {
    "pipeline.build": "pipeline.build_s",
    "sources.csv_write": "sources.csv_write_s",
    "sources.csv_read": "sources.csv_read_s",
    "sources.store_write": "sources.store_write_s",
    "operators.upsert": "operators.upsert_s",
    "operators.compact": "operators.compact_s",
}
PER_LAYER = (
    "session.start_s",
    "catalog.first_scan_s",
    "plans.build_s",
    "plans.build_jobs",
    "plans.build_tasks",
    "plans.build_job_s",
    "plans.build_python_s",
    "catalyst.analysis_s",
    "catalyst.optimization_s",
    "catalyst.planning_s",
    "exec.s",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.task_run_s",
    "exec.task_cpu_s",
    "exec.gc_s",
    "exec.sched_wait_s",
    "exec.core_busy_ratio",
    "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes",
    "exec.spill_bytes",
    "exec.peak_exec_mem_bytes",
    "exec.python_bytes",
    "exec.failed_tasks",
    "pipeline.build_s",
    "sources.csv_write_s",
    "sources.csv_read_s",
    "sources.store_write_s",
    "sources.files_written",
    "sources.bytes_written_per_input_byte",
    "operators.upsert_s",
    "operators.compact_s",
    "operators.compact_files_before",
    "operators.compact_files_after",
    "streaming.op_s",
    "streaming.jobs",
    "memory.peak_rss_mb",
    "trace.pass_s",
    "trace.additivity_misses",
)
# Metrics of the whole run rather than of one operation execution.
_RUN_LEVEL = ("session.", "catalog.", "memory.", "trace.")
_EXEC_SUMS = (
    "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "sched_wait_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "python_bytes",
    "failed_tasks",
)


def layer_rows(spans: list, log: dict, cores: int, passes) -> tuple[list, list]:
    """One row of per-layer metrics per operation execution in ``passes``,
    and the executions whose layers do not add up to their wall time.

    The layers that must add up are the build phase (``plans.build_s``),
    the optimization and planning times Catalyst's QueryPlanningTracker
    reports for the final plan (analysis already ran inside the build) and
    the execution phase (``exec.s``)."""
    by_parent: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            by_parent.setdefault(s["parent"], []).append(s)
    rows, misses = [], []
    for op in spans:
        if op.get("pass") not in passes or op["phase"] is not None or op["op_id"] is None:
            continue
        wall = op["end"] - op["start"]
        row = {k: 0.0 for k in PER_LAYER if not k.startswith(_RUN_LEVEL)}
        build_s = exec_s = 0.0
        for child in by_parent.get(op["id"], []):
            dur = child["end"] - child["start"]
            work = spark_work_in(log, child["start"], child["end"], cores)
            if child["phase"] == BUILD:
                build_s += dur
                row["plans.build_jobs"] += work["jobs"]
                row["plans.build_tasks"] += work["tasks"]
                row["plans.build_job_s"] += work["job_s"]
            elif child["phase"] == CATALYST:
                for k, v in child["catalyst"].items():
                    row[f"catalyst.{k}_s"] += v
            else:
                exec_s += dur
                row["exec.jobs"] += work["jobs"]
                for k in _EXEC_SUMS:
                    row[f"exec.{k}"] += work[k]
                row["exec.peak_exec_mem_bytes"] = max(
                    row["exec.peak_exec_mem_bytes"], work["peak_exec_mem_bytes"]
                )
            layer = child["name"].split(".", 1)[1]
            if layer in SPAN_LAYERS:
                row[SPAN_LAYERS[layer]] += dur
            if "compaction" in child:
                row["operators.compact_files_before"] += child["compaction"]["files_before"]
                row["operators.compact_files_after"] += child["compaction"]["files_after"]
        if "written" in op:
            row["sources.files_written"] += op["written"][0]
            row["sources.bytes_written"] = op["written"][1]
        row["plans.build_s"] = build_s
        row["plans.build_python_s"] = build_s - row["plans.build_job_s"]
        row["exec.s"] = exec_s
        if op["op_id"].startswith("streaming_"):
            row["streaming.op_s"] = wall
            row["streaming.jobs"] = spark_work_in(log, op["start"], op["end"], cores)["jobs"]
        row["_op"] = op["op_id"]
        row["_wall"] = wall
        rows.append(row)
        layers = build_s + row["catalyst.optimization_s"] + row["catalyst.planning_s"] + exec_s
        if abs(layers - wall) > ADDITIVITY_TOLERANCE * wall:
            misses.append(
                {"op": op["op_id"], "pass": op["pass"], "wall_s": wall, "layers_s": layers}
            )
    return rows, misses


def workload_layers(rows: list, cores: int, input_bytes: int) -> dict:
    """Per-operation medians over the rows, summed over operations; the
    run-level metrics (session, catalog, memory, trace) are left out."""
    per_op: dict[str, list] = {}
    for r in rows:
        per_op.setdefault(r["_op"], []).append(r)
    out = {k: 0.0 for k in PER_LAYER if not k.startswith(_RUN_LEVEL)}
    written = 0.0
    for op_rows in per_op.values():
        for k in out:
            if k not in ("exec.core_busy_ratio", "exec.peak_exec_mem_bytes",
                         "sources.bytes_written_per_input_byte"):
                out[k] += median(r[k] for r in op_rows)
        out["exec.peak_exec_mem_bytes"] = max(
            out["exec.peak_exec_mem_bytes"], max(r["exec.peak_exec_mem_bytes"] for r in op_rows)
        )
        written += median(r.get("sources.bytes_written", 0.0) for r in op_rows)
    out["exec.core_busy_ratio"] = out["exec.task_run_s"] / max(out["exec.s"] * cores, 1e-9)
    out["sources.bytes_written_per_input_byte"] = written / input_bytes if input_bytes else 0.0
    return out


# ---------------------------------------------------------------------------
# Statistics


def median(values) -> float:
    v = sorted(values)
    n = len(v)
    if n == 0:
        raise ValueError("median of no samples")
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2


def best_times(passes: list[dict]) -> dict:
    """Each operation's shortest time over ``passes`` (dicts of operation
    name to seconds); an operation missing from a pass (it failed there)
    is judged on the passes it ran in."""
    best: dict[str, float] = {}
    for p in passes:
        for name, t in p.items():
            best[name] = min(t, best.get(name, t))
    return best


def tail_percentile(samples, beyond: int = 10) -> tuple[int, int, float]:
    """The highest whole percentile that has at least ``beyond`` samples
    above it (nearest-rank definition), as ``(percentile, n, value)``.

    With n samples the p-th percentile is the ceil(p*n/100)-th smallest;
    ``beyond`` samples lie above it when that rank is at most n - beyond.
    Fewer than ``beyond + 1`` samples leave no such percentile: ValueError.
    """
    v = sorted(samples)
    n = len(v)
    if n <= beyond:
        raise ValueError(f"{n} samples cannot have {beyond} beyond any percentile")
    p = (100 * (n - beyond)) // n
    while p < 99 and math.ceil((p + 1) * n / 100) <= n - beyond:
        p += 1
    rank = max(1, math.ceil(p * n / 100))
    return p, n, v[rank - 1]
