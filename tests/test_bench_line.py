"""The bench stdout line must stay under the capture cap no matter how
many attribution entries a run accumulates (VERDICT r10 item 1: the
driver's stdout capture truncated the line in r1 and r9, making
`parsed: null` and losing the round's per-query comparability)."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _fake_compact(n_notes: int) -> dict:
    # The REAL headline window (the driver checks exactly these names), with
    # worst-plausible 2-decimal values — the cap must hold for the actual
    # names bench.py prints, not synthetic short ones.
    queries = {name: 99.13 for name in bench._FIRST_WINDOW}
    notes = {
        f"curation_pipeline_audit_variant_{i:02d}": {
            "connected_components": [
                {
                    "path": "driver_union_find",
                    "n_pairs": 240 + i,
                    "driver_max_edges": 10737418,
                    "driver_memory": "48g",
                    "max_result_size": "1g",
                }
            ]
        }
        for i in range(n_notes)
    }
    return {
        "metric": "total_registry_query_seconds",
        "value": 149.441,
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "n_queries_total": 185,
        "reps": 3,
        "full_results_file": "BENCH_RESULT.json",
        "shared_with_prev_window_seconds": 123.456,
        "shared_with_prev_window_n": 50,
        "prev_bench_file": "BENCH_r10.json",
        "prev_bench_cpus": 32,
        "environment": {
            "blockmgr_orphans": 0,
            "blockmgr_orphan_bytes": 0,
            "dirty_kb_before_sync": 7788,
            "dirty_kb_after_settle": 0,
            "settle_seconds": 0.02,
            "session_restart_every": 0,
            "session_restarts": 0,
        },
        "ratio_vs_committed": {
            "n_compared": 185,
            "median_ratio": 0.83,
            "committed_total": 178.977,
            "flagged_over_1p5x": {"multimodal_resize_audit": 2.26},
        },
        "query_notes": notes,
    }


def test_fifty_cc_decisions_stay_under_cap_and_parse():
    # The VERDICT r10 scenario: 50 distinct CC decisions (~200 bytes each)
    # would have pushed the old unbounded line past 10 KB.
    line = bench._capped_line(_fake_compact(50))
    assert len(line.encode()) <= bench._LINE_CAP_BYTES
    parsed = json.loads(line)
    # The contract keys survive every drop.
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in parsed, key
    assert len(parsed["queries"]) == len(bench._FIRST_WINDOW)
    # query_notes is the first casualty and the drop is recorded.
    assert "query_notes" not in parsed
    assert "query_notes" in parsed["line_dropped"]


def test_real_window_queries_map_alone_fits_the_cap():
    # The contract keys are never dropped, so the ladder can only work if
    # the irreducible line (metric/value/unit/queries/sf + the bookkeeping
    # scalars) fits. Guard against future window names growing past it.
    compact = _fake_compact(0)
    for key in (
        "query_notes",
        "environment",
        "ratio_vs_committed",
        "excluded_queries",
    ):
        compact.pop(key, None)
    line = json.dumps(compact, separators=(",", ":"))
    assert len(line.encode()) <= bench._LINE_CAP_BYTES


def test_small_line_passes_through_unmodified():
    compact = _fake_compact(0)
    del compact["query_notes"]
    # Typical r10-shaped line (~2 KB with short names) — shrink the map to
    # guarantee under-cap so this asserts the no-drop path specifically.
    compact["queries"] = dict(list(compact["queries"].items())[:20])
    line = bench._capped_line(compact)
    parsed = json.loads(line)
    assert "line_dropped" not in parsed
    assert parsed["environment"]["session_restarts"] == 0
    assert parsed["ratio_vs_committed"]["flagged_over_1p5x"]


def test_drop_order_is_notes_then_flagged_then_environment():
    # Force repeated drops with a tiny cap; required keys always survive.
    compact = _fake_compact(50)
    line = bench._capped_line(compact, cap=100)
    parsed = json.loads(line)
    assert parsed["line_dropped"] == [
        "query_notes",
        "ratio_vs_committed.flagged_over_1p5x",
        "environment",
        "ratio_vs_committed",
    ]
    assert len(parsed["queries"]) == len(bench._FIRST_WINDOW)


def test_parsed_line_matches_driver_contract_keys():
    line = bench._capped_line(_fake_compact(50))
    parsed = json.loads(line)
    assert parsed["metric"] == "total_registry_query_seconds"
    assert parsed["unit"] == "sec"
    assert isinstance(parsed["value"], float)
    assert isinstance(parsed["sf"], float)
    assert all(isinstance(v, (int, float)) for v in parsed["queries"].values())


def _bench_record(path, n, cpus, queries):
    path.write_text(json.dumps({"n": n, "cpus": cpus, "parsed": {"queries": queries}}))


def test_shared_with_prev_picks_newest_file_with_matching_cpus(tmp_path):
    import os

    _bench_record(tmp_path / "BENCH_r10.json", 10, 32, {"a": 1.0})
    _bench_record(tmp_path / "BENCH_r11.json", 11, 32, {"a": 1.0, "b": 2.0})
    # The 8-core twin is lexically last AND has the newest mtime.
    c8 = tmp_path / "BENCH_r11_c8.json"
    _bench_record(c8, 11, 8, {"a": 1.0, "b": 2.0, "c": 3.0})
    later = os.path.getmtime(tmp_path / "BENCH_r11.json") + 60
    os.utime(c8, (later, later))
    # A record whose stdout line did not parse is never the base.
    (tmp_path / "BENCH_r12.json").write_text(
        json.dumps({"n": 12, "cpus": 32, "parsed": None})
    )
    timings = {"a": 0.5, "b": 0.25, "c": 4.0}

    got = bench._shared_with_prev(timings, 32, root=str(tmp_path))
    assert got == {"seconds": 0.75, "n": 2, "file": "BENCH_r11.json", "cpus": 32}
    got8 = bench._shared_with_prev(timings, 8, root=str(tmp_path))
    assert got8["file"] == "BENCH_r11_c8.json" and got8["cpus"] == 8
    assert got8["n"] == 3
    assert bench._shared_with_prev(timings, 4, root=str(tmp_path)) is None
