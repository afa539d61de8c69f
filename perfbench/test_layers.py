"""Tests of the benchmark's own machinery: span self-time arithmetic, the
event-log parser and its per-op job attribution, metric and workload
names, and the input generator.

Run from the repository root:  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def test_union_length_merges_overlaps():
    assert layers.union_length([]) == 0
    assert layers.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert layers.union_length([(5, 6), (0, 10)]) == 10


def test_self_times_account_for_the_root_span():
    S = layers.Span
    spans = [
        S("op", 0.0, 10.0, None, "t1:q"),
        S("plan.build", 1.0, 6.0, 0, "t1:q"),
        S("plan.eager", 2.0, 4.0, 1, "t1:q"),
        S("exec.sink", 6.0, 9.0, 0, "t1:q"),
    ]
    st = layers.self_times(spans)
    assert st == [2.0, 3.0, 2.0, 3.0]
    assert sum(st) == spans[0].end - spans[0].start


def test_tracer_nests_spans_and_counts_per_op():
    ticks = iter(range(100))
    tr = layers.Tracer(clock=lambda: float(next(ticks)))
    with tr.span("op", op="t0:a"):
        with tr.span("plan.build"):
            tr.count("ckpt.calls")
        tr.count("ckpt.calls", 2)
    tr.count("ckpt.calls")  # outside any op: not counted
    rows = tr.dump()
    assert [r["parent"] for r in rows] == [None, 0]
    assert rows[0]["self_s"] + rows[1]["self_s"] == rows[0]["end"] - rows[0]["start"]
    assert tr.op_counts == {"t0:a": {"ckpt.calls": 3}}


def test_compat_and_sink_spans_own_their_actions():
    class Frame:
        def toPandas(self):
            return [1, 2, 3]

        def count(self):
            return 3

    ticks = iter(range(100))
    tr = layers.Tracer(clock=lambda: float(next(ticks)))
    tr.action(Frame, "toPandas")
    tr.action(Frame, "count")
    try:
        with tr.span("op", op="t0:x"):
            with tr.span("compat.to_pandas"):
                Frame().toPandas()
            with tr.span("sinks.write"):
                Frame().count()
            Frame().count()
    finally:
        tr.restore()
    rows = tr.dump()
    assert [r["name"] for r in rows] == [
        "op", "compat.to_pandas", "sinks.write", "driver.action"]
    assert tr.op_counts["t0:x"] == {"driver.collect_calls": 1,
                                    "driver.collect_rows": 3}
    assert Frame().toPandas() == [1, 2, 3] and not tr._patched


def _task_end(stage, run_ms, ok=True):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
            "JVM GC Time": 0, "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": 100, "Records Read": 10},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": 7,
                                     "Fetch Wait Time": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
            "Output Metrics": {"Bytes Written": 0},
        },
    }


def test_parse_event_log_attributes_by_group_then_time():
    windows = {"t1:a": (100.0, 101.0), "t1:b": (101.0, 103.0)}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 100_100, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "t1:a"}},
        _task_end(0, 40),
        _task_end(0, 60, ok=False),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Accumulables": [
             {"ID": 7, "Name": "time to run Python workers", "Value": "250"},
             {"ID": 8, "Name": "data sent to Python workers", "Value": "64"},
         ]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 100_600},
        # a streaming micro-batch carries its own group: placed by time
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 101_500, "Stage IDs": [1],
         "Properties": {"spark.jobGroup.id": "stream-run-id"}},
        _task_end(1, 5),
        {"Event": "SparkListenerJobEnd", "Job ID": 1,
         "Completion Time": 102_000},
        # outside every op window (a probe, or an untraced pass)
        {"Event": "SparkListenerJobStart", "Job ID": 2,
         "Submission Time": 200_000, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2,
         "Completion Time": 200_100},
    ]
    per_op, jobs = layers.parse_event_log(events, windows)
    a, b = per_op["t1:a"], per_op["t1:b"]
    assert (a["spark.jobs"], a["spark.tasks"], a["spark.tasks_failed"]) == (1, 2, 1)
    assert a["exec.run_s"] == pytest.approx(0.1)
    assert a["python.run_s"] == pytest.approx(0.25)
    assert a["python.bytes_sent"] == 64
    assert a["scan.rows_read"] == 20
    assert (b["spark.jobs"], b["spark.tasks"]) == (1, 1)
    assert per_op[None]["spark.jobs"] == 1
    assert jobs["t1:a"] == [(100.1, 100.6)]


def test_op_layers_reports_driver_only_time_and_remainder():
    spans = [
        {"name": "op", "start": 0.0, "end": 4.0, "parent": None,
         "op": "t1:a", "self_s": 0.5},
        {"name": "exec.sink", "start": 0.5, "end": 4.0, "parent": 0,
         "op": "t1:a", "self_s": 3.5},
    ]
    table = layers.op_layers(spans, {"t1:a": {"spark.jobs": 2}},
                             {"t1:a": [(1.0, 2.0), (1.5, 3.0)]})
    row = table["t1:a"]
    assert row["wall_s"] == 4.0
    assert row["trace.unattributed_s"] == 0.5
    assert row["exec.sink_s"] == 3.5
    assert row["spark.driver_only_s"] == pytest.approx(2.0)
    assert row["spark.jobs"] == 2


def test_real_event_log_attribution(tmp_path):
    """Generate a small event log with a real local Spark and check that
    each op's jobs and tasks land on it."""
    pyspark = pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    log_dir = tmp_path / "events"
    log_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[2]").appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{log_dir}")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    windows = {}
    try:
        for op, n_jobs in (("t0:one", 1), ("t0:two", 2)):
            start = time.time()
            sc.setJobGroup(op, op)
            for _ in range(n_jobs):
                sc.parallelize(range(10), 2).count()
            windows[op] = (start, time.time())
        sc.setLocalProperty("spark.jobGroup.id", None)
        start = time.time()
        sc.parallelize(range(10), 3).count()  # untagged: placed by time
        windows["t0:untagged"] = (start, time.time())
    finally:
        spark.stop()
    (log,) = list(log_dir.iterdir())
    per_op, _ = layers.parse_event_log(layers.read_event_log(str(log)), windows)
    assert per_op["t0:one"]["spark.jobs"] == 1
    assert per_op["t0:one"]["spark.tasks"] == 2
    assert per_op["t0:two"]["spark.jobs"] == 2
    assert per_op["t0:two"]["spark.tasks"] == 4
    assert per_op["t0:untagged"]["spark.jobs"] == 1
    assert per_op["t0:untagged"]["spark.tasks"] == 3
    assert pyspark.__version__


def test_names_match_the_contract():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert per_layer == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    for name in [*e2e, *per_layer, *workloads.WORKLOADS]:
        assert NAME.fullmatch(name), name
        assert len(name) <= 64


def test_generator_is_seeded(tmp_path):
    a = datagen.write(str(tmp_path / "a"), 0.001, 5)
    b = datagen.write(str(tmp_path / "b"), 0.001, 5)
    c = datagen.write(str(tmp_path / "c"), 0.001, 6)
    assert set(a) == set(datagen.TABLES)
    for t in datagen.TABLES:
        assert run.file_digest(a[t]) == run.file_digest(b[t])
    assert run.file_digest(a["lineitem"]) != run.file_digest(c["lineitem"])


def test_same_rows_ignores_order_and_int_width():
    import pandas as pd

    a = pd.DataFrame({"k": pd.Series([2, 1], dtype="int32"), "v": [0.5, 1.5]})
    b = pd.DataFrame({"k": [1, 2], "v": [1.5, 0.5]})
    assert workloads.same_rows(a, b) == []
    assert workloads.same_rows(a, b.assign(v=[1.5, 0.6]))
    assert workloads.same_rows(a, b.iloc[:1])


def test_summary_percentile_needs_ten_samples_beyond():
    assert "p90" not in run.summary([1.0] * 10)
    s = run.summary([float(i) for i in range(100)])
    assert s["n"] == 100 and "p90" in s
