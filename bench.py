"""Benchmark harness: runs every registry query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Round-1 lesson: the driver's stdout capture truncated a 129-query JSON line
mid-dict (BENCH_r01.json parsed: null). The stdout line therefore carries
the 50 headline queries (the registry's correctness window) and stays well
under 2 KB; the COMPLETE per-query timing map is always written to
./BENCH_RESULT.json next to this script.

Each query is fully materialized through the noop sink (computes everything,
writes nothing) — `count()` alone would let Spark skip projection work.

Timing discipline: warm once (Catalyst analysis + codegen JIT), then time
SPARK_GRAFT_BENCH_REPS executions (default 3) and record the MINIMUM —
per-rep samples land in the results file under "query_samples". See the
inline note at the reps loop for why single-shot timing was inadmissible
and why min beats median for this workload.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from crz_scraper_spark.plans.registry import _FIRST_WINDOW, REGISTRY  # noqa: E402
from crz_scraper_spark.session import get_spark  # noqa: E402


def _dirty_kb() -> int:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("Dirty:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return -1


def _environment_block() -> dict:
    """Pre-run disk/cache hygiene, automated (VERDICT r8 item 5): round 8
    proved the numbers are only comparable on a quiesced disk — a 22 GB
    orphan blockmgr dir from a killed session plus unsettled writeback
    skewed whole runs. Report any /tmp/blockmgr-*//tmp/spark-* leftovers
    (this runs BEFORE our own session exists, so anything present is an
    orphan), then sync and wait for dirty pages to drain (max 15 s), and
    stamp what was found into the artifact so a slow run is attributable."""
    import glob as _glob

    orphans = _glob.glob("/tmp/blockmgr-*") + _glob.glob("/tmp/spark-*")
    orphan_bytes = 0
    for root in orphans:
        for dirpath, _dirs, files in os.walk(root, onerror=lambda e: None):
            for fn in files:
                try:
                    orphan_bytes += os.path.getsize(os.path.join(dirpath, fn))
                except OSError:
                    pass
    t0 = time.time()
    dirty_before = _dirty_kb()
    try:
        os.sync()
    except OSError:
        pass
    # Writeback settle: sync() queues the flush; wait until the dirty-page
    # balance actually drains (or 15 s) so the first measured query does not
    # compete with a prior process's writeback.
    while _dirty_kb() > 65_536 and time.time() - t0 < 15:
        time.sleep(0.5)
    return {
        "blockmgr_orphans": len(orphans),
        "blockmgr_orphan_bytes": orphan_bytes,
        "dirty_kb_before_sync": dirty_before,
        "dirty_kb_after_settle": _dirty_kb(),
        "settle_seconds": round(time.time() - t0, 2),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    env_block = _environment_block()
    spark = get_spark("bench")
    # Warm the JVM + parquet footers so per-query numbers measure the plans,
    # not session startup.
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    # Warm-then-measure: the first execution of a plan pays Catalyst
    # analysis + whole-stage-codegen JIT, which at this SF rivals the data
    # work and varies ±3× run-to-run. Warming once and timing the second
    # execution reports the steady-state throughput a long-running cluster
    # sees. clearCache() between passes forces persisted intermediates
    # (LSH signatures) to REcompute in the measured pass — no query gets a
    # free ride from its warmup. SPARK_GRAFT_BENCH_WARMUP=0 restores
    # cold-plan timing.
    warmup = os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") != "0"
    import gc

    # SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the run to the named queries —
    # the standalone re-measure path for separating a query's inherent cost
    # from in-bench session churn (GC/cache pressure accumulated by the
    # preceding 150+ queries), without hand-writing a driver script.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    selected = (
        {q.strip() for q in only.split(",") if q.strip()} if only else None
    )
    if selected:
        unknown = selected - set(REGISTRY)
        if unknown:
            raise SystemExit(f"SPARK_GRAFT_BENCH_ONLY unknown: {sorted(unknown)}")
    # SPARK_GRAFT_BENCH_EXCLUDE drops named queries by configuration and
    # RECORDS the exclusion in the artifact (VERDICT r8 item 4): the two
    # documented-quadratic fuzzy cautionary tiers (fuzzy_name_pairs ~1833 s,
    # fuzzy_name_pairs_refined ~403 s at sf10) dominate any full-registry
    # sweep at sf>=3 — exclude them by config, not by hand, so the artifact
    # says what was dropped instead of silently reading as full coverage.
    # Documented sf>=3 cautionary set, applied BY DEFAULT at that scale so
    # slope sweeps don't re-litigate known-superlinear oracled twins
    # (VERDICT r9 item 3): the two quadratic fuzzy tiers (~1833 s / ~403 s
    # at sf10; production tier = fuzzy_name_pairs_banded, flat) and
    # semantic_dedup's fixed-cell tier (8.5x per 3x data BY CONSTRUCTION —
    # fixed cell count => within-cell pair work grows quadratically;
    # production tier = semantic_dedup_scaled, 1.5x). Setting
    # SPARK_GRAFT_BENCH_EXCLUDE explicitly (even to "") replaces this
    # default, so a full-coverage run at scale stays one env var away.
    # The sf0.01 correctness oracle is untouched — this is bench-only.
    _SF3_CAUTIONARY = "fuzzy_name_pairs,fuzzy_name_pairs_refined,semantic_dedup"
    excl_default = _SF3_CAUTIONARY if sf >= 3 else ""
    excl_env = os.environ.get("SPARK_GRAFT_BENCH_EXCLUDE", excl_default)
    excl_names = {q.strip() for q in excl_env.split(",") if q.strip()}
    # A misspelled exclusion must fail loudly, mirroring BENCH_ONLY: a
    # silent intersection would run the heavy query anyway AND record no
    # exclusion in the artifact — the worst of both (ADVICE r9).
    unknown_excl = excl_names - set(REGISTRY)
    if unknown_excl:
        raise SystemExit(
            f"SPARK_GRAFT_BENCH_EXCLUDE unknown: {sorted(unknown_excl)}"
        )
    excluded = sorted(excl_names)

    # Resolve the output file NOW and load its previous (committed) content
    # before this run can overwrite it: the end-of-run ratio report
    # (VERDICT r8 item 7) compares this run's min-of-N against the prior
    # artifact FOR THE SAME output target, so sf0.1 runs attribute vs the
    # committed headline and sf1/sf3 slope runs attribute vs their own
    # committed slope artifacts. SPARK_GRAFT_BENCH_OUT redirects the file
    # (a BENCH_ONLY-restricted run defaults to BENCH_RESULT_partial.json so
    # a 3-query re-measure can't clobber the full artifact; a non-headline
    # SF defaults to an SF-suffixed file for the same reason).
    if selected:
        default_out = "BENCH_RESULT_partial.json"
    elif sf == 0.1:
        default_out = "BENCH_RESULT.json"
    else:
        default_out = f"BENCH_RESULT_sf{sf:g}.json"
    out_name = os.environ.get("SPARK_GRAFT_BENCH_OUT", default_out)
    out_path = (
        out_name if os.path.isabs(out_name) else os.path.join(_HERE, out_name)
    )
    committed: dict = {}
    try:
        with open(out_path) as f:
            committed = json.load(f)
    except (OSError, json.JSONDecodeError):
        pass

    # Min-of-N timing (VERDICT r7 item 1): a single timed execution is
    # hostage to whatever GC pause / page-cache miss / ContextCleaner sweep
    # lands inside its window — the r7 artifacts carried single-query
    # spikes up to 14× over standalone cost, making every in-bench
    # per-query figure inadmissible without a manual standalone re-run.
    # Median-of-3 was tried first and absorbs ONE-OFF storm draws, but a
    # storm that spans 2 of 3 reps still captures the median (measured:
    # large_volume_orders [1.44, 7.05, 11.0] in-bench vs 1.19 s
    # standalone — median 7.05, min 1.44). Timing noise on a correct
    # plan is strictly ONE-SIDED — contention only ever adds time — so
    # the minimum is the unbiased estimator of inherent plan cost (the
    # same reason python timeit reports min). The full per-rep samples
    # land in the results file either way, so spread is auditable per
    # run; SPARK_GRAFT_BENCH_REPS=1 restores single-shot mode.
    reps = max(int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")), 1)

    # Per-query attribution notes: operators with a runtime path decision
    # (connected_components' driver-union-find vs iterative cutover) record
    # it in a module side-channel; the artifact carries it per query so an
    # anomalous timing is attributable without a re-run (VERDICT r8 item 2).
    from crz_scraper_spark.operators import dedup as _dedup_mod

    # SPARK_GRAFT_BENCH_RESTART_EVERY=N tears the SparkSession down and
    # builds a fresh one every N queries (0 = never, the default). At sf0.1
    # the r8 hygiene (clearCache + gc.collect per query) keeps in-bench
    # within ±20% of standalone, but at sf3 a single 2-hour session
    # accumulates JVM state min-of-N cannot absorb — measured on the first
    # r9 sf3 sweep: xml_ingest_flatten 23.2 s in-bench vs 1.5 s standalone,
    # bloom_decontaminate 42.6 vs 6.2, semantic_dedup 113 vs 25.4 (both
    # reps slow each time, so it is the session, not a storm draw).
    # Restarting bounds the churn window; the restart count is recorded in
    # the artifact's environment block.
    restart_every = int(os.environ.get("SPARK_GRAFT_BENCH_RESTART_EVERY", "0"))
    n_run = 0
    n_restarts = 0

    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    notes: dict[str, dict] = {}
    for name, (fn, _sql) in sorted(REGISTRY.items()):
        if selected and name not in selected:
            continue
        if name in excluded:
            continue
        if restart_every and n_run and n_run % restart_every == 0:
            spark.stop()
            spark = get_spark("bench")
            spark.read.parquet(
                os.path.join(sf_dir, "lineitem.parquet")
            ).count()
            n_restarts += 1
        n_run += 1
        if warmup:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
        # Clear AFTER warmup so the note reflects the measured reps only;
        # identical repeat decisions are deduped below to keep the stdout
        # artifact bounded (reps x same decision adds nothing).
        _dedup_mod.CC_DECISIONS.clear()
        # Timestamped stderr marker so engine WARNs in the captured log
        # (single-partition windows, broadcast sizes, state-store notes)
        # can be attributed to the query that emitted them.
        sys.stderr.write(
            f"[bench] {time.strftime('%H:%M:%S')} start {name}\n"
        )
        sys.stderr.flush()
        runs: list[float] = []
        for _ in range(reps):
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 3))
            # clearCache between reps: persisted intermediates (LSH
            # signatures, adjacency lists) must REcompute every measured
            # pass — no rep gets a free ride from the previous one.
            spark.catalog.clearCache()
            df = None
        samples[name] = runs
        timings[name] = min(runs)
        if _dedup_mod.CC_DECISIONS:
            # One entry per DISTINCT connected_components decision across
            # the measured reps (order-preserving dedupe): a query invoking
            # CC twice is fully attributed (ADVICE r9), while N identical
            # per-rep repeats collapse to one entry.
            distinct: list[dict] = []
            for d in _dedup_mod.CC_DECISIONS:
                if d not in distinct:
                    distinct.append(d)
            notes[name] = {"connected_components": distinct}
        # Drop py4j refs so Spark's ContextCleaner reclaims the session's
        # accumulated broadcasts/codegen state: without this, memory
        # pressure late in a 150-query run inflated individual timings
        # 3-10x over their standalone cost (measured 3s -> 37s).
        gc.collect()
        # (A per-query JVM System.gc() was tried against the ±30% churn
        # that read near_dup_clusters at 45 s in-bench vs 8.6 s warm
        # standalone: it made the TOTAL 13% worse — the forced full GC's
        # cost leaks into the next measured window. Not worth it; the
        # median-of-3 absorbs the one-off draws instead.)

    total = round(sum(timings.values()), 3)
    env_block["session_restart_every"] = restart_every
    env_block["session_restarts"] = n_restarts
    ratio_report = _ratio_vs_committed(timings, committed, sf)
    full = {
        "metric": "total_registry_query_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "query_samples": samples,
        "query_notes": notes,
        "environment": env_block,
        "excluded_queries": excluded,
        "reps": reps,
        "sf": sf,
    }
    if ratio_report is not None:
        full["ratio_vs_committed"] = ratio_report
    with open(out_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
        f.write("\n")
    headline = {
        n: round(timings[n], 2) for n in _FIRST_WINDOW if n in timings
    }
    compact = {
        "metric": "total_registry_query_seconds",
        "value": total,
        "unit": "sec",
        "queries": headline,
        "sf": sf,
        "n_queries_total": len(timings),
        "reps": reps,
        "full_results_file": os.path.basename(out_path),
    }
    # Cross-round comparability after a window rotation (VERDICT r6 item
    # 4): subtotal THIS run's timings over the queries shared with the
    # newest recorded bench from the same core count, so round-over-round
    # deltas compare identical work even when the headline window changes.
    shared = _shared_with_prev(timings, spark.sparkContext.defaultParallelism)
    if shared is not None:
        compact["shared_with_prev_window_seconds"] = shared["seconds"]
        compact["shared_with_prev_window_n"] = shared["n"]
        compact["prev_bench_file"] = shared["file"]
        compact["prev_bench_cpus"] = shared["cpus"]
    # Attribution lands on the stdout line too (the driver records only
    # stdout as BENCH_rN): disk-hygiene state, per-query >1.5x deltas vs
    # the committed run, and any runtime path decisions — all bounded-size.
    compact["environment"] = env_block
    if excluded:
        compact["excluded_queries"] = excluded
    if ratio_report is not None:
        compact["ratio_vs_committed"] = ratio_report
    if notes:
        compact["query_notes"] = notes
    print(_capped_line(compact))


# The driver's stdout capture has truncated the compact line twice
# (BENCH_r01 and BENCH_r09: `parsed: null`), losing the round's per-query
# comparability. The line must therefore be bounded no matter how many
# attribution entries a run accumulates — `query_notes` carries one
# ~200-byte dict per DISTINCT connected_components decision, so a run
# with many distinct decisions grows without bound (VERDICT r10 item 1).
# Everything dropped here remains in the full results file; the drop is
# recorded in the line itself ("line_dropped") so a reader knows to look.
_LINE_CAP_BYTES = 2048
# Drop order: bulkiest/most-optional first. The contract keys
# (metric/value/unit/queries/sf) are never dropped — the 50-query
# headline map serializes to ~1.4 KB, which is why the cap is 2 KB and
# not lower.
_LINE_DROP_ORDER = (
    ("query_notes",),
    ("ratio_vs_committed", "flagged_over_1p5x"),
    ("environment",),
    ("excluded_queries",),
    ("ratio_vs_committed",),
)


def _capped_line(compact: dict, cap: int = _LINE_CAP_BYTES) -> str:
    line = json.dumps(compact, separators=(",", ":"))
    dropped: list[str] = []
    for path in _LINE_DROP_ORDER:
        if len(line.encode()) <= cap:
            break
        node = compact
        for key in path[:-1]:
            node = node.get(key)
            if not isinstance(node, dict):
                node = None
                break
        if node is None or path[-1] not in node:
            continue
        del node[path[-1]]
        dropped.append(".".join(path))
        compact["line_dropped"] = dropped
        line = json.dumps(compact, separators=(",", ":"))
    return line


def _ratio_vs_committed(
    timings: dict[str, float], committed: dict, sf: float
) -> dict | None:
    """Per-query ratio of this run's min-of-N vs the committed
    BENCH_RESULT.json (read before this run overwrites it). The r8 driver
    run read +16% over the builder's committed run on the same tree with
    one unexplained 6x outlier — this report makes such deltas visible in
    the artifact itself: flags every query >1.5x its committed min (top 10
    by ratio), plus the median ratio so ambient-vs-specific is readable at
    a glance. Skipped when the committed artifact is for a different SF."""
    prev = committed.get("queries") or {}
    if not prev or committed.get("sf") != sf:
        return None
    ratios = {
        n: round(timings[n] / prev[n], 2)
        for n in timings
        if n in prev and prev[n] > 0
    }
    if not ratios:
        return None
    vals = sorted(ratios.values())
    flagged = dict(
        sorted(
            ((n, r) for n, r in ratios.items() if r > 1.5),
            key=lambda kv: -kv[1],
        )[:10]
    )
    return {
        "n_compared": len(ratios),
        "median_ratio": vals[len(vals) // 2],
        "committed_total": committed.get("value"),
        "flagged_over_1p5x": flagged,
    }


def _shared_with_prev(
    timings: dict[str, float], cpus: int, root: str = _HERE
) -> dict | None:
    """Subtotal of `timings` restricted to the query names of the newest
    recorded BENCH_r*.json whose `cpus` matches this run (newest =
    highest round `n`, then latest mtime). A run on another core count is
    never the comparison base: the lexically-last file is often the
    8-core `_c8` twin of a 32-core round. Files without a readable query
    map are skipped. None when no such file exists."""
    import glob

    best = None
    for path in glob.glob(os.path.join(root, "BENCH_r*.json")):
        try:
            with open(path) as fh:
                rec = json.load(fh)
        except (json.JSONDecodeError, OSError):
            continue
        if not isinstance(rec, dict) or rec.get("cpus") != cpus:
            continue
        # The driver wraps bench.py's stdout line under "parsed".
        prev = rec.get("parsed") if "parsed" in rec else rec
        names = set((prev or {}).get("queries") or {})
        if not names:
            continue
        key = (rec.get("n", -1), os.path.getmtime(path))
        if best is None or key > best[0]:
            best = (key, path, names)
    if best is None:
        return None
    _key, path, names = best
    both = names & set(timings)
    return {
        "seconds": round(sum(timings[n] for n in both), 3),
        "n": len(both),
        "file": os.path.basename(path),
        "cpus": cpus,
    }


if __name__ == "__main__":
    main()
