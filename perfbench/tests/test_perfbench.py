"""Tests of the benchmark's own pieces: input generators, the event-log
reducer, the additivity check, the best-time estimator and the
tail-percentile rule. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
from tracing import (  # noqa: E402
    BUILD,
    CATALYST,
    EXEC,
    best_times,
    layer_rows,
    parse_event_log,
    spark_work_in,
    tail_percentile,
    union_seconds,
)


def _files(path):
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            out[name] = fh.read()
    return out


def test_contract_dumps_deterministic_per_seed(tmp_path):
    a = gen.make_contract_dumps(str(tmp_path / "a"), seed=7)
    b = gen.make_contract_dumps(str(tmp_path / "b"), seed=7)
    c = gen.make_contract_dumps(str(tmp_path / "c"), seed=8)
    assert a == b
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert _files(tmp_path / "a") != _files(tmp_path / "c")
    assert a["updated_ids"] != c["updated_ids"]


def test_contract_dumps_plant_the_planned_tally(tmp_path):
    plan = gen.make_contract_dumps(str(tmp_path), seed=3, n_files=2, per_file=100)
    assert sum(plan["tally"].values()) == plan["records"] == 200
    text = "".join(b.decode() for b in _files(tmp_path).values())
    assert text.count("<contract>") == plan["records"]
    assert text.count("R&D ") == plan["tally"]["corrupt"]
    assert plan["expected_store_rows"] == plan["kept"] + len(plan["new_template_ids"])


def test_star_schema_fixed_and_seeded(tmp_path):
    a = gen.make_star(str(tmp_path / "a"), sf=0.001)
    gen.make_star(str(tmp_path / "b"), sf=0.001)
    gen.make_star(str(tmp_path / "c"), sf=0.001, seed=gen.STAR_SEED + 1)
    assert a["lineitem"] == 6000 and a["documents"] == 50
    for name in ("lineitem", "documents", "embeddings"):
        ta = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert ta.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
        assert not ta.equals(pq.read_table(tmp_path / "c" / f"{name}.parquet"))


def _task(stage, launch_ms, finish_ms, run_ms, ok=True, py=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Info": {
            "Launch Time": launch_ms,
            "Finish Time": finish_ms,
            "Failed": not ok,
            "Accumulables": [
                {"Name": "data sent to Python workers", "Update": py},
                {"Name": "number of output rows", "Update": 99},
            ],
        },
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 500_000,
            "JVM GC Time": 10,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Peak Execution Memory": 1000 + run_ms,
            "Shuffle Read Metrics": {"Remote Bytes Read": 5, "Local Bytes Read": 7},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
        },
    }


CANNED = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10_000},
    {
        "Event": "SparkListenerStageSubmitted",
        "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0, "Number of Tasks": 2,
                       "Submission Time": 10_100},
    },
    _task(0, 10_300, 10_900, 600, py=100),
    _task(0, 10_400, 11_000, 500, ok=False, spill=64),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 11_000},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 10_500},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 11_500},
    # outside the window below
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 20_000},
    {
        "Event": "SparkListenerStageSubmitted",
        "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0, "Number of Tasks": 1,
                       "Submission Time": 20_000},
    },
    _task(1, 20_100, 20_200, 100, py=1),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 20_300},
]


def test_event_log_reducer_totals():
    log = parse_event_log(json.dumps(e) + "\n" for e in CANNED)
    assert len(log["jobs"]) == 3 and len(log["tasks"]) == 3
    w = spark_work_in(log, 10.0, 12.0, cores=2)
    assert w["jobs"] == 2
    assert w["job_s"] == pytest.approx(1.5)  # union of [10.0, 11.0] and [10.5, 11.5]
    assert w["stages"] == 1 and w["tasks"] == 2
    assert w["task_run_s"] == pytest.approx(1.1)
    assert w["task_cpu_s"] == pytest.approx(0.55)
    assert w["gc_s"] == pytest.approx(0.02)
    assert w["sched_wait_s"] == pytest.approx(0.2)  # 10.1 submit -> 10.3 launch
    assert w["core_busy_ratio"] == pytest.approx(1.1 / (2.0 * 2))
    assert w["shuffle_read_bytes"] == 24 and w["shuffle_write_bytes"] == 22
    assert w["spill_bytes"] == 64
    assert w["peak_exec_mem_bytes"] == 1600
    assert w["python_bytes"] == 100
    assert w["failed_tasks"] == 1
    later = spark_work_in(log, 19.0, 21.0, cores=2)
    assert (later["jobs"], later["tasks"], later["python_bytes"]) == (1, 1, 1)


def _op_spans(first_id, name, wall, build, catalyst_span, tracker, pass_=2):
    """An operation span of ``wall`` seconds tiled by build, catalyst and
    exec child spans; ``tracker`` holds the Catalyst phase times."""
    op = {"id": first_id, "name": name, "op_id": name, "phase": None, "parent": None,
          "start": 100.0 * first_id, "end": 100.0 * first_id + wall, "pass": pass_}
    t = op["start"]
    children = []
    for k, (phase, dur) in enumerate(
        ((BUILD, build), (CATALYST, catalyst_span), (EXEC, wall - build - catalyst_span))
    ):
        child = {"id": first_id + 1 + k, "name": f"{name}.{phase}", "op_id": name,
                 "phase": phase, "parent": first_id, "start": t, "end": t + dur}
        if phase == CATALYST:
            child["catalyst"] = tracker
        children.append(child)
        t += dur
    return [op] + children


def test_additivity_reports_the_operation_that_does_not_add_up():
    # "fits": Catalyst reports 1.9 s of its 2 s span. "gap": Catalyst
    # reports 0.3 s of a 3 s span, so the layers leave 2.7 s of 10 s unexplained.
    spans = _op_spans(0, "fits", 10.0, 4.0, 2.0,
                      {"analysis": 0.5, "optimization": 1.5, "planning": 0.4})
    spans += _op_spans(4, "gap", 10.0, 4.0, 3.0,
                       {"analysis": 0.5, "optimization": 0.2, "planning": 0.1})
    spans += _op_spans(8, "cold", 10.0, 4.0, 3.0,
                       {"analysis": 0.5, "optimization": 0.2, "planning": 0.1}, pass_=0)
    rows, misses = layer_rows(spans, parse_event_log([]), cores=4, passes={2})
    assert [r["_op"] for r in rows] == ["fits", "gap"]  # pass 0 is not counted
    assert rows[0]["plans.build_s"] == pytest.approx(4.0)
    assert rows[0]["exec.s"] == pytest.approx(4.0)
    assert rows[0]["catalyst.analysis_s"] == 0.5
    assert [m["op"] for m in misses] == ["gap"]
    assert misses[0]["layers_s"] == pytest.approx(7.3)


def test_best_times_take_each_operations_shortest_run():
    passes = [{"a": 2.0, "b": 1.0}, {"a": 1.5, "b": 1.2}, {"a": 1.7}]
    assert best_times(passes) == {"a": 1.5, "b": 1.0}


def test_union_seconds():
    assert union_seconds([]) == 0
    assert union_seconds([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


@pytest.mark.parametrize(
    "n, percentile, rank",
    [(11, 9, 1), (12, 16, 2), (20, 50, 10), (40, 75, 30), (100, 90, 90), (1000, 99, 990)],
)
def test_tail_percentile_rule(n, percentile, rank):
    samples = [float(i) for i in range(n, 0, -1)]  # any order
    p, got_n, value = tail_percentile(samples)
    assert (p, got_n, value) == (percentile, n, float(rank))
    assert sum(1 for s in samples if s > value) >= 10
    # one percentile higher would leave fewer than ten samples beyond
    if p < 99:
        higher = sorted(samples)[-(-(p + 1) * n // 100) - 1]
        assert sum(1 for s in samples if s > higher) < 10


def test_tail_percentile_needs_eleven_samples():
    with pytest.raises(ValueError):
        tail_percentile([1.0] * 10)


def test_pass_orders_permute_per_pass_and_seed_but_keep_ingest_order():
    from workloads import pass_orders

    ops = ["a", "b", "c", "d", "e"]
    take = lambda gen_, n=4: [next(gen_) for _ in range(n)]  # noqa: E731
    corpus = take(pass_orders("corpus_dedup", ops, 1))
    assert corpus == take(pass_orders("corpus_dedup", ops, 1))
    assert corpus != take(pass_orders("corpus_dedup", ops, 2))
    assert all(sorted(o) == ops for o in corpus) and len({tuple(o) for o in corpus}) > 1
    assert take(pass_orders("contracts_ingest", ops, 1)) == [ops] * 4
