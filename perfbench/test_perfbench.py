"""Tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import pytest

import checks
import eventlog
import run
import workloads
from spans import Span, Tracer, description, self_times

HERE = os.path.dirname(os.path.abspath(__file__))


def _span(i, name, parent, start, end):
    return Span(id=i, name=name, parent=parent, op=0, start=start, end=end)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, "root", None, 0.0, 10.0),
        _span(1, "a", 0, 1.0, 4.0),
        _span(2, "b", 0, 3.0, 6.0),  # overlaps a: [1, 6] counted once
        _span(3, "c", 0, 8.0, 12.0),  # runs past root: only [8, 10] counts
        _span(4, "a.x", 1, 2.0, 3.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(1.0)


def test_tracer_nests_and_restores_job_description():
    class FakeContext:
        def __init__(self):
            self.seen = []

        def setJobDescription(self, d):
            self.seen.append(d)

    sc = FakeContext()
    t = Tracer(sc)
    with t.span("outer") as outer:
        with t.span("inner") as inner:
            pass
    assert inner.parent == outer.id and outer.parent is None
    assert sc.seen == [description(outer), description(inner), description(outer), None]
    assert outer.duration >= inner.duration >= 0


def _parquet(tmp_path, rows):
    import duckdb

    d = tmp_path / "t"
    d.mkdir()
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (conv_id VARCHAR, turn_idx INTEGER, role VARCHAR, text VARCHAR, tool VARCHAR)"
    )
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?, ?)", rows)
    con.execute(f"COPY t TO '{d}/part-0.parquet' (FORMAT PARQUET)")
    con.close()
    return str(d)


ROWS = [
    ("c1", 0, "system", "hi", None),
    ("c1", 1, "user", "", None),  # text empty
    ("c1", 1, "user", "dup", None),  # duplicate key (c1, 1)
    ("c2", 0, "robot", "x", "laser"),  # bad role, bad tool
    ("c2", 2, "user", None, "code"),  # gap at idx 1, text NULL
]


def test_suite_recount_and_checker_rejects_a_wrong_count(tmp_path):
    expected = checks.suite_expected(_parquet(tmp_path, ROWS))
    assert expected["totals"] == {
        "n_rows": 5,
        "n_invalid": 3,
        "dup_keys": 1,
        "surplus_rows": 1,
        "n_convs": 2,
        "gappy_convs": 1,
    }
    assert expected["violations"] == {
        ("text", "empty"): 2,
        ("role", "not_valid_choice"): 1,
        ("tool", "not_valid_choice"): 1,
    }
    verdicts = [
        {"n_rows": 3, "n_invalid": 1, "dup_keys": 1, "surplus_rows": 1, "n_convs": 1, "gappy_convs": 0},
        {"n_rows": 2, "n_invalid": 2, "dup_keys": 0, "surplus_rows": 0, "n_convs": 1, "gappy_convs": 1},
    ]
    pairs = [("text", "empty"), ("text", "empty"), ("role", "not_valid_choice"), ("tool", "not_valid_choice")]
    assert checks.mismatches(expected, checks.suite_observed(verdicts, pairs)) == []

    verdicts[1]["gappy_convs"] = 0
    bad = checks.mismatches(expected, checks.suite_observed(verdicts, pairs[1:]))
    assert any("gappy_convs" in m for m in bad)
    assert any("'text', 'empty'" in m for m in bad)


def test_group_sizes_follow_run_resumable_grouping():
    per = workloads.BUCKETS_PER_JOB
    n, kill = workloads.N_BUCKETS, workloads.FAIL_AFTER_BUCKETS
    kill_groups = -(-kill // per)
    resume_groups = -(-(n - kill) // per)
    attempted = workloads._group_sizes(n, kill_groups) + workloads._group_sizes(
        n - kill, resume_groups
    )
    assert attempted == min(n, kill_groups * per) + (n - kill)


def test_eventlog_attributes_jobs_stages_and_scans_to_spans():
    desc = "pb:7:rowpass"
    plan = {
        "nodeName": "Project",
        "children": [
            {
                "nodeName": "Scan parquet ",
                "metadata": {"Location": "InMemoryFileIndex(1 paths)[file:/w/input]"},
                "metrics": [{"name": "number of output rows", "accumulatorId": 41}],
                "children": [],
            }
        ],
    }
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Properties": {"spark.job.description": desc}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 3}, "Properties": {"spark.job.description": desc}},
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 3,
            "Task Metrics": {
                "Executor CPU Time": 2_000_000_000,
                "JVM GC Time": 500,
                "Disk Bytes Spilled": 7,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                "Shuffle Read Metrics": {"Local Bytes Read": 30, "Remote Bytes Read": 0},
            },
            "Task Info": {"Accumulables": [{"ID": 41, "Update": "12"}]},
        },
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3, "Submission Time": 1000, "Completion Time": 1500}},
        {"Event": "SparkListenerJobStart", "Properties": {}},  # not ours
    ]
    out = eventlog.parse((json.dumps(e) for e in events), {"input": "/w/input", "baseline": "/w/base"})
    s = out["spans"][7]
    assert (s["jobs"], s["stages"]) == (1, 1)
    assert s["shuffle_write_bytes"] == 100 and s["shuffle_read_bytes"] == 30
    assert s["spill_bytes"] == 7
    assert s["executor_cpu_s"] == pytest.approx(2.0) and s["gc_s"] == pytest.approx(0.5)
    assert (s["input_scans"], s["baseline_scans"]) == (1, 0)
    assert out["stages"][0]["wall_s"] == pytest.approx(0.5)


def test_unstolen_drops_ops_that_lost_cpu_to_steal():
    cap = os.cpu_count()
    ops = [
        workloads.OpResult(10.0, steal_s=0.2 * 10.0 * cap),
        workloads.OpResult(5.0, steal_s=0.01 * 5.0 * cap),
        workloads.OpResult(4.0, steal_s=0.0),
    ]
    assert [r.wall_s for r in run.unstolen(ops)] == [5.0, 4.0]
    assert run.unstolen(ops[:1]) == ops[:1]  # all stolen: keep them all


def test_tail_percentile_needs_ten_samples_beyond():
    assert run.tail_percentile([1.0] * 10)["percentile"] is None
    t = run.tail_percentile([float(i) for i in range(1, 21)])
    assert (t["percentile"], t["value"], t["samples"]) == (50.0, 10.0, 20)


def test_benchmark_json_lists_what_run_emits():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
