"""Tests for the benchmark's own helpers (no Spark session needed).

Run from the root of a checkout: ``python3 -m pytest perfbench/tests``.
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import gen  # noqa: E402
from perfbench.harness import Harness  # noqa: E402
from perfbench.layers import aggregate, stream_batch  # noqa: E402
from perfbench.report import end_to_end  # noqa: E402
from perfbench.spans import (  # noqa: E402
    Tracer,
    children_of,
    covered,
    driver_gap,
    self_time,
)
from perfbench.stats import percentile, summary  # noqa: E402


# -- percentile only with >= 10 samples beyond ---------------------------


def test_median_needs_ten_samples_above_it():
    assert percentile(list(range(19)), 0.5) is None
    assert percentile(list(range(20)), 0.5) == 9


def test_p90_needs_a_hundred_samples():
    assert percentile(list(range(99)), 0.9) is None
    assert percentile(list(range(100)), 0.9) == 89


def test_summary_reports_only_the_percentiles_the_rule_allows():
    s = summary([float(i) for i in range(40)])
    assert s["n"] == 40 and "p50" in s
    assert "p90" not in s and "p95" not in s
    assert summary([]) == {"n": 0}


# -- self time with overlapping children -----------------------------------


def test_covered_merges_overlaps_and_clips_to_parent():
    assert covered(0, 10, [(1, 4), (3, 6), (8, 12)]) == 7
    assert covered(0, 10, [(-5, -1), (11, 20)]) == 0
    assert covered(0, 10, [(2, 3), (2, 3)]) == 1


def test_self_time_subtracts_union_of_overlapping_children():
    parent = {"start": 0.0, "end": 10.0}
    kids = [{"start": 1.0, "end": 4.0}, {"start": 3.0, "end": 6.0},
            {"start": 5.0, "end": 7.0}]
    assert self_time(parent, kids) == 4.0


def test_driver_gap_counts_job_spans_at_any_depth():
    tr = Tracer(True)
    op = tr.add("op", 0.0, 10.0)
    build = tr.add("build", 0.0, 4.0, parent=op)
    collect = tr.add("collect", 4.0, 10.0, parent=op)
    tr.add("spark.job", 1.0, 3.0, parent=build)
    tr.add("spark.job", 5.0, 8.0, parent=collect)
    tr.add("spark.job", 7.0, 9.0, parent=collect)   # overlaps the one above
    spans = tr.spans
    by_id = {s["id"]: s for s in spans}
    assert driver_gap(by_id[op], children_of(spans)) == 10 - 2 - 4


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("op") as s:
        assert s is None
    assert tr.add("op", 0, 1) == 0 and tr.spans == []


# -- aggregation of status-store records -------------------------------------


def _stage(**kw):
    base = {"tasks": 4, "executor_run_ms": 100, "executor_cpu_ns": 5e7,
            "input_bytes": 10, "shuffle_read_bytes": 20,
            "shuffle_write_bytes": 30, "memory_spill_bytes": 0,
            "disk_spill_bytes": 0}
    base.update(kw)
    return base


def test_aggregate_sums_stages_and_counts_skipped():
    jobs = [{"job": 1, "start": 0, "end": 1, "skipped_stages": 1,
             "stages": [_stage(), _stage(tasks=32, memory_spill_bytes=7)]},
            {"job": 2, "start": 1, "end": 2, "skipped_stages": 0,
             "stages": [_stage(disk_spill_bytes=3)]}]
    got = aggregate(jobs)
    assert got["jobs"] == 2 and got["stages"] == 3
    assert got["skipped_stages"] == 1
    assert got["tasks"] == 40
    assert got["executor_run_s"] == 0.3
    assert abs(got["executor_cpu_s"] - 0.15) < 1e-12
    assert got["shuffle_read_bytes"] == 60 and got["input_bytes"] == 30
    assert got["spill_bytes"] == 10


def test_aggregate_of_no_jobs_is_zero():
    got = aggregate([])
    assert got["jobs"] == 0 and got["executor_run_s"] == 0


def test_stream_batch_reads_progress_durations_and_state():
    p = {"batchId": 3, "numInputRows": 500,
         "durationMs": {"triggerExecution": 900, "addBatch": 800,
                        "queryPlanning": 20, "walCommit": 30,
                        "commitOffsets": 25},
         "stateOperators": [{"numRowsTotal": 10, "memoryUsedBytes": 100,
                             "commitTimeMs": 7},
                            {"numRowsTotal": 5, "memoryUsedBytes": 50,
                             "commitTimeMs": 3}]}
    b = stream_batch(p)
    assert b["rows"] == 500 and b["trigger_ms"] == 900
    assert b["add_batch_ms"] == 800 and b["state_rows"] == 15
    assert b["state_memory_bytes"] == 150 and b["state_commit_ms"] == 10


def test_end_to_end_throughput_is_items_per_second_of_path_time():
    ops = [{"path": "a", "items": 100, "wall_s": 1.0},
           {"path": "a", "items": 300, "wall_s": 1.0},
           {"path": "b", "items": 1, "wall_s": 4.0}]
    m = end_to_end(ops, {"session": 1.0, "warm": 2.0})
    assert m["path_a_per_s"] == (200.0, "1/s")
    assert m["path_b_per_s"] == (0.25, "1/s")
    assert m["setup_s"] == (3.0, "s")


# -- the generator is deterministic -------------------------------------------


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(
                    f.read()).hexdigest()
    return out


def test_same_seed_gives_byte_equal_inputs(tmp_path):
    gen.generate(5, str(tmp_path / "a"))
    gen.generate(5, str(tmp_path / "b"))
    a, b = _digest(str(tmp_path / "a")), _digest(str(tmp_path / "b"))
    assert a == b
    assert {"registry/corpus.parquet", "registry/requests.json",
            "tables/lineitem.parquet", "tables/documents.parquet",
            "plan.json"} <= set(a)
    assert any(k.startswith("audit/") for k in a)


def test_another_seed_gives_other_inputs(tmp_path):
    gen.generate(5, str(tmp_path / "a"), parts=("registry", "audit"))
    gen.generate(6, str(tmp_path / "b"), parts=("registry", "audit"))
    a, b = _digest(str(tmp_path / "a")), _digest(str(tmp_path / "b"))
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a)


def test_request_stream_repeats_the_cycle_mix(tmp_path):
    import json

    gen.generate(9, str(tmp_path), parts=("registry",))
    with open(tmp_path / "registry" / "requests.json") as f:
        reqs = json.load(f)
    n = len(gen.CYCLE)
    for c in range(3):
        ops = sorted(r["op"] for r in reqs[c * n:(c + 1) * n])
        assert ops == sorted(gen.CYCLE)


# -- a failed call stays counted ----------------------------------------------


def test_a_call_that_raises_is_a_counted_failure():
    h = Harness(None, traced=False)
    with h.op("a", "latest") as rec:
        raise RuntimeError("boom")
    assert not rec["ok"] and "boom" in rec["error"]
    h.check(rec, lambda: True)          # a failed call is not re-checked
    assert not rec["ok"]
    with h.op("a", "latest") as rec:
        pass
    h.check(rec, lambda: False)
    h.fail("a", "windowed_metrics", 0.5, ValueError("no batches"))
    assert [o["ok"] for o in h.ops] == [False, False, False]
    assert len(h.ops) == 3
