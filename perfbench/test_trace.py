"""Tests of the benchmark's tracing.

    python3 -m pytest perfbench/test_trace.py -q

The last test runs a traced benchmark run (about a minute and a half):
tracing must change neither any step's Spark job count nor its output.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spans  # noqa: E402


def test_self_time_subtracts_children_once():
    s = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps span 1
        {"id": 3, "parent": 2, "start": 3.5, "end": 5.0},
    ]
    st = spans.self_times(s)
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(1.5)
    assert spans.span_subtree(s, 2) == {2, 3}


def test_tracer_off_records_nothing():
    t = spans.Tracer("r")
    with t.span("x") as rec:
        assert rec is None
    assert t.spans == []


def test_event_log_attribution(tmp_path):
    def task(stage, run_ms, sw):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Executor CPU Time": run_ms * 1_000_000,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 5},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
                "Memory Bytes Spilled": 0,
                "Disk Bytes Spilled": 0,
            },
        }

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "r/1"}},
        task(0, 100, 7), task(0, 100, 7), task(1, 50, 0),
        # job 1 lists stage 1 again (skipped there) and runs stage 2
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000,
         "Stage IDs": [1, 2], "Properties": {}},
        task(2, 10, 0),
    ]
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs = spans.read_event_log(str(path))
    assert [j["group"] for j in jobs] == ["r/1", None]
    assert (jobs[0]["stages"], jobs[0]["tasks"], jobs[1]["stages"]) == (2, 3, 1)
    total = spans.sum_jobs(spans.jobs_in_groups(jobs, {"r/1"}))
    assert total["run_s"] == pytest.approx(0.25)
    assert total["shuffle_write_bytes"] == 14
    assert total["shuffle_read_bytes"] == 15
    assert [j["job"] for j in spans.jobs_in_window(jobs, 2.0, 4.0)] == [1]


def test_traced_run_keeps_job_counts_and_outputs():
    root = os.path.dirname(HERE)
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "webgraph-spmv",
         "--seed", "7", "--seconds", "1", "--trace", "1"],
        cwd=root, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert result["correct"] and result["failed"] == 0
    assert m["trace.job_count_mismatches"] == 0
    assert m["trace.untagged_jobs"] == 0
    assert "trace.overhead_frac" in m
    for step in ("pagerank", "cc", "labelprop"):
        assert m[f"{step}.jobs"] > 0 and m[f"{step}.tasks"] > 0
