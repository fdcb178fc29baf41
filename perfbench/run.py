"""crz-spark benchmark: run one workload in a fresh process and print its
metrics.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout of the repository. One Spark session
(``local[nproc]``) is set up, one cold pass over the workload's operations
runs, then at least three warm passes, for at least ``--seconds`` seconds.
Each operation's time is its best over the warm passes. The outputs
of the cold pass are checked (DuckDB oracle hashes, planted tallies, row
counts) outside every timed window. The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones,
reduced from Spark's event log. The line before it carries the details
(environment stamp, per-operation samples, correctness problems).
Everything the run writes goes under ``.perfbench/`` in the checkout,
except the ``/tmp/crz_*_<pid>`` directories of the engine's streaming
sinks, which are removed at the end.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import resource
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from tracing import (  # noqa: E402
    PER_LAYER,
    Tracer,
    best_times,
    layer_rows,
    median,
    parse_event_log,
    tail_percentile,
    workload_layers,
)

WORKLOADS = ("corpus_dedup", "contracts_ingest")
# Warm passes run until ``--seconds`` have passed, and at least this many.
# Each operation's time is its best over the warm passes: the host's speed
# changes from one second to the next, and an operation only ever loses
# time to it, so its shortest run is the estimate other guests move least.
MIN_WARM_PASSES = 3
# No warm pass beyond the second starts after the process is this old, so
# that a run on a slowed host keeps the 48 runs of a comparison within
# their time limit. On an ordinary host the third warm pass starts at a
# process age of 46-64 s, so this cuts only runs that are already slow.
LAST_PASS_START_S = 70.0
DRIVER_MEMORY = "4g"


def unit_of(name: str) -> str:
    if name.endswith("_s") or name == "exec.s":
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("ratio") or name.endswith("per_input_byte"):
        return "ratio"
    return "count"


# ---------------------------------------------------------------------------
# Environment


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return -1


def _tree_bytes(paths) -> int:
    total = 0
    for root in paths:
        for dirpath, _dirs, files in os.walk(root, onerror=lambda e: None):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    pass
    return total


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def environment_stamp(nproc: int) -> dict:
    import pyspark

    return {
        "nproc": nproc,
        "mem_total_kb": _meminfo_kb("MemTotal"),
        "dirty_kb_before": _meminfo_kb("Dirty"),
        "orphan_blockmgr_bytes": _tree_bytes(glob.glob("/tmp/blockmgr-*")),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
    }


def make_inputs(workload: str, seed: int, run_dir: str) -> tuple[dict, int]:
    """Write the run's inputs; return the ctx the operations read and the
    number of input records a pass carries."""
    import pyarrow.parquet as pq

    import gen

    star = os.path.join(WORK, f"star-sf{gen.STAR_SF:g}-{gen.STAR_SEED}")
    if not os.path.exists(os.path.join(star, "_complete")):
        gen.make_star(star)  # once per checkout
        open(os.path.join(star, "_complete"), "w").close()
    ctx = {"star": star}
    if workload == "contracts_ingest":
        for key in ("dumps", "csv", "store", "compacted", "events"):
            ctx[key] = os.path.join(run_dir, key)
        ctx["plan"] = gen.make_contract_dumps(ctx["dumps"], seed)
        gen.make_events(ctx["events"], seed)
        return ctx, ctx["plan"]["expected_store_rows"]
    docs = pq.ParquetFile(os.path.join(star, "documents.parquet")).metadata.num_rows
    return ctx, docs


def event_log_lines(log_dir: str):
    """Lines of the plain-JSON event log(s) Spark wrote under ``log_dir``
    (a single file, or a rolling ``eventlog_v2_*`` directory of parts)."""
    for root, _dirs, files in os.walk(log_dir):
        for name in sorted(files, key=lambda f: (len(f), f)):
            if name.startswith((".", "appstatus")):
                continue
            with open(os.path.join(root, name)) as fh:
                yield from fh


def jvm_peak_rss_kb(spark) -> int:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def stop_spark(spark) -> None:
    """Stop the session and the driver JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# Passes


class Run:
    def __init__(self, args, spark, orders, ctx, tracer) -> None:
        self.args = args
        self.spark = spark
        self.orders = orders  # each pass's operation order, in turn
        self.ctx = ctx
        self.tracer = tracer
        self.problems: list[str] = []
        self.passes: list[dict[str, float]] = []
        self.steal: list[float] = []
        self.attempted = 0

    def run_pass(self, check: bool) -> None:
        from workloads import files_and_bytes

        index = len(self.passes)
        walls: dict[str, float] = {}
        steal0, total0 = cpu_ticks()
        for op in next(self.orders):
            self.attempted += 1
            try:
                op.prepare(self.spark, self.ctx)
                with self.tracer.span(op.name, op.name) as sp:
                    sp["pass"] = index
                    result = op.run(self.spark, self.tracer, self.ctx, self.args.trace, check)
                walls[op.name] = sp["end"] - sp["start"]
                if self.args.trace and op.writes:
                    sp["written"] = files_and_bytes(self.ctx[op.writes])
                if check:
                    self.problems += op.check(self.spark, self.ctx, result)
                result = None
            except Exception as exc:  # one failed operation must not end the run
                self.problems.append(f"pass {index} {op.name}: {type(exc).__name__}: {exc}"[:500])
            self.spark.catalog.clearCache()
            gc.collect()
        steal1, total1 = cpu_ticks()
        self.passes.append(walls)
        # CPU time the hypervisor gave to other guests during this pass.
        self.steal.append((steal1 - steal0) / max(total1 - total0, 1))

    def warm_passes(self, t_proc: float) -> list[int]:
        """Run warm passes for at least ``--seconds`` seconds and
        ``MIN_WARM_PASSES`` passes; return their indexes into ``passes``."""
        t0 = time.time()
        while len(self.passes) <= MIN_WARM_PASSES or time.time() - t0 < self.args.seconds:
            if len(self.passes) > 2 and time.time() - t_proc > LAST_PASS_START_S:
                break
            self.run_pass(check=False)
        return list(range(1, len(self.passes)))


# ---------------------------------------------------------------------------


def _terminate(signum, frame):
    sys.exit(128 + signum)  # runs the clean-up in main's finally


def main(argv=None) -> int:
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_proc = process_start_epoch()

    try:
        import crz_scraper_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable here: {exc}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        details, result = measure(args, t_proc, run_dir)
    finally:
        for path in glob.glob(f"/tmp/crz_*_{os.getpid()}"):
            shutil.rmtree(path, ignore_errors=True)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(details, default=str))
    print(json.dumps(result))
    return 0 if result["metrics"] else 1


def measure(args, t_proc: float, run_dir: str) -> tuple[dict, dict]:
    import workloads

    # Set-up is what the program pays before it can answer: the
    # interpreter and engine imports up to here, then the session start and
    # the first scan. The benchmark's own work in between (environment
    # stamp, input files, configuration) is not part of it.
    t_imported = time.time()
    nproc = len(os.sched_getaffinity(0))
    env = environment_stamp(nproc)
    steal0, total0 = cpu_ticks()
    ctx, records = make_inputs(args.workload, args.seed, run_dir)

    # Python workers import the engine, so they need the checkout on their
    # path; Spark's scratch space stays inside the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for sub in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    # The engine's default driver heap (48g) is larger than the memory of
    # the machines this runs on; the JVM grows into it and is killed. The
    # engine's own knob caps it instead.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir}/tmp"}
    if args.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            }
        )

    from crz_scraper_spark.catalog import load_table
    from crz_scraper_spark.session import get_spark

    tracer = Tracer()
    with tracer.span("session.start") as s_session:
        spark = get_spark("perfbench", cpus=nproc, extra_conf=conf)
    try:
        with tracer.span("catalog.first_scan") as s_scan:
            load_table(spark, ctx["star"], "lineitem").count()
        setup = {
            "imports": t_imported - t_proc,
            "session": s_session["end"] - s_session["start"],
            "first_scan": s_scan["end"] - s_scan["start"],
        }
        setup_s = sum(setup.values())
        env["cpus"] = nproc
        env["spark.driver.memory"] = spark.conf.get("spark.driver.memory", "default")
        env["spark.sql.shuffle.partitions"] = spark.conf.get("spark.sql.shuffle.partitions")

        ops = workloads.make_ops(args.workload)
        orders = workloads.pass_orders(args.workload, ops, args.seed)
        run = Run(args, spark, orders, ctx, tracer)
        run.run_pass(check=True)
        warm = run.warm_passes(t_proc)
        rss_kb = jvm_peak_rss_kb(spark) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    finally:
        stop_spark(spark)
    steal1, total1 = cpu_ticks()
    env["cpu_steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)

    best = best_times([run.passes[i] for i in warm])
    samples = [run.passes[i][name] for i in warm for name in run.passes[i]]
    failed = len(run.problems)
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "environment": env,
        "operations": [op.name for op in ops],  # passes_s keeps each pass's order
        "passes_s": run.passes,
        "pass_steal_share": run.steal,
        "warm_passes": warm,
        "best_s": best,
        "setup": setup,
        "cold_pass_s": sum(run.passes[0].values()),
        "peak_rss_mb": rss_kb / 1024.0,
        "problems": run.problems,
    }
    metrics: dict[str, dict] = {}
    try:
        details["op_tail"] = dict(zip(("percentile", "n", "value_s"), tail_percentile(samples)))
    except ValueError as exc:
        details["op_tail"] = str(exc)
    if len(best) == len(ops):
        # One warm pass at each operation's best warm time.
        pass_s = sum(best.values())
        if args.trace:
            log = parse_event_log(event_log_lines(os.path.join(run_dir, "eventlog")))
            rows, misses = layer_rows(tracer.spans, log, nproc, set(warm))
            input_bytes = _tree_bytes([ctx["dumps"]]) if "dumps" in ctx else 0
            values = workload_layers(rows, nproc, input_bytes)
            values.update(
                {
                    "session.start_s": setup["session"],
                    "catalog.first_scan_s": setup["first_scan"],
                    "memory.peak_rss_mb": rss_kb / 1024.0,
                    "trace.pass_s": pass_s,
                    "trace.additivity_misses": len(misses),
                }
            )
            details["additivity_misses"] = misses
            details["layers_by_execution"] = rows
            os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
            tracer.dump(
                os.path.join(WORK, "results", f"spans-{args.workload}-{args.seed}.json")
            )
            metrics = {k: {"value": values[k], "unit": unit_of(k)} for k in PER_LAYER}
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "pass_s": {"value": pass_s, "unit": "s"},
                "op_p50_s": {"value": median(best.values()), "unit": "s"},
                "records_per_s": {"value": records / pass_s, "unit": "1/s"},
                "ok_ratio": {"value": 1.0 - failed / run.attempted, "unit": "ratio"},
            }
    result = {
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return details, result


if __name__ == "__main__":
    sys.exit(main())
