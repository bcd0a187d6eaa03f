"""The event-log reducer, on a hand-built log with known numbers and on a
log captured from a tiny traced round of each workload (``fixtures/``:
trimmed to the fields the reducer reads, plans flattened to the nodes that
carry metrics).

Run: ``python3 -m pytest perfbench/tests -q``
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from eventlog import SQL_DRIVER, SQL_START, layer_metrics, read_events, reduce_events, span_report  # noqa: E402
from spans import self_times, union_seconds  # noqa: E402

FIXTURES = os.path.join(HERE, "fixtures")


def _span(i, name, layer, parent, op, start, end):
    return {"id": i, "name": name, "layer": layer, "parent": parent, "op": op,
            "start": start, "end": end}


def _task(stage, launch_ms, finish_ms, *, cpu_ns=0, shuffle_w=0, records_w=0,
          shuffle_r=0, result=0, result_task=False, accs=()):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Type": "ResultTask" if result_task else "ShuffleMapTask",
        "Task Info": {"Launch Time": launch_ms, "Finish Time": finish_ms, "Failed": False,
                      "Killed": False,
                      "Accumulables": [{"ID": a, "Name": "m", "Update": str(v)} for a, v in accs]},
        "Task Metrics": {"Executor CPU Time": cpu_ns, "JVM GC Time": 10, "Result Size": result,
                         "Disk Bytes Spilled": 0, "Peak Execution Memory": 1000 + stage,
                         "Shuffle Read Metrics": {"Local Bytes Read": shuffle_r},
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w,
                                                   "Shuffle Records Written": records_w}},
    }


def _stage(stage, span, start_ms, end_ms):
    props = {"spark.job.description": f"pb:{span}"}
    return [
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": stage},
         "Properties": props},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": stage, "Submission Time": start_ms, "Completion Time": end_ms}},
    ]


def _plan(name, desc, metrics, children=()):
    return {"nodeName": name, "simpleString": desc, "children": list(children),
            "metrics": [{"name": n, "accumulatorId": a, "metricType": "sum"} for n, a in metrics]}


def synthetic_log():
    """One op: a build span (1 stage, 2 tasks of 1 s and 3 s, a 0.5 s
    driver tail) and a grouped span (a map stage and a shuffle-read stage)."""
    scan = _plan("Scan parquet", "FileScan parquet [x#1L]",
                 [("number of output rows", 1), ("size of files read", 2),
                  ("number of files read", 3)])
    py = _plan("MapInArrow", "MapInArrow fn(x#1L)#2, [state#3]",
               [("data sent to Python workers", 4), ("time to run Python workers", 5)], [scan])
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": {"spark.job.description": "pb:1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Properties": {"spark.job.description": "pb:2"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Properties": {}},
        {"Event": SQL_START, "executionId": 0, "description": "pb:1", "sparkPlanInfo": py},
        {"Event": SQL_DRIVER, "executionId": 0, "accumUpdates": [[2, 5000], [3, 2]]},
        *_stage(0, 1, 100_000, 103_000),
        _task(0, 100_000, 101_000, cpu_ns=10**9, result=300, result_task=True,
              accs=[(1, 40), (4, 700), (5, 800)]),
        _task(0, 100_000, 103_000, cpu_ns=2 * 10**9, result=200, result_task=True,
              accs=[(1, 60), (4, 300), (5, 1200)]),
        *_stage(1, 2, 104_000, 105_000),
        _task(1, 104_000, 105_000, shuffle_w=800, records_w=8),
        *_stage(2, 2, 105_000, 105_500),
        _task(2, 105_000, 105_500, shuffle_r=800, result=50, result_task=True),
    ]
    spans = [
        _span(0, "setup", "operators.build", None, None, 90.0, 99.0),
        _span(1, "plans.flagship.run_flagship", "operators.build", None, 0, 99.5, 103.5),
        _span(2, "collect", "operators.grouped", None, 0, 103.5, 106.0),
    ]
    return events, spans


def test_reducer_arithmetic_on_a_known_log():
    events, spans = synthetic_log()
    m = layer_metrics(reduce_events(events), spans)
    assert m["sources.scan_rows"] == 100
    assert m["sources.scan_bytes"] == 5000
    assert m["sources.files_read"] == 2
    assert m["operators.build.partials_s"] == pytest.approx(3.0)
    assert m["operators.build.arrow_in_bytes"] == 1000
    assert m["operators.build.python_s"] == pytest.approx(2.0)
    assert m["operators.build.task_skew"] == pytest.approx(3.0 / 2.0)
    assert m["operators.build.collect_bytes"] == 500
    assert m["operators.build.driver_fold_s"] == pytest.approx(0.5)
    assert m["operators.grouped.states_s"] == pytest.approx(1.0)
    assert m["operators.grouped.state_rows"] == 8
    assert m["operators.grouped.shuffle_bytes"] == 800
    assert m["operators.grouped.readout_s"] == pytest.approx(0.5)
    assert m["spark.jobs"] == 2  # the untagged job is outside every span
    assert m["spark.stages"] == 3
    assert m["spark.tasks"] == 4
    assert m["spark.executor_cpu_s"] == pytest.approx(3.0)
    assert m["spark.peak_exec_mem_bytes"] == 1002
    # op spans cover 99.5-106.0; stages cover 100-103, 104-105.5
    assert m["spark.driver_only_s"] == pytest.approx(6.5 - 4.5)
    assert m["operators.dedup.candidates"] == 0


def test_self_time_subtracts_children():
    spans = [_span(0, "q", "x", None, 0, 0.0, 10.0), _span(1, "a", "x", 0, 0, 1.0, 4.0),
             _span(2, "b", "x", 0, 0, 3.0, 6.0), _span(3, "c", "x", 2, 0, 3.0, 5.0)]
    st = self_times(spans)
    assert st[0] == pytest.approx(5.0)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(2.0)
    assert union_seconds([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def _fixture(name):
    with open(os.path.join(FIXTURES, "spans.json")) as f:
        meta = json.load(f)[name]
    events = read_events(os.path.join(FIXTURES, name))
    return events, meta


def test_captured_near_dup_funnel():
    events, meta = _fixture("neardup_incremental")
    red = reduce_events(events)
    m = layer_metrics(red, meta["spans"])
    assert meta["failed"] == 0
    assert m["operators.dedup.verified_pairs"] == meta["pairs"] > 0
    assert m["operators.dedup.candidates"] >= m["operators.dedup.prefilter_survivors"]
    assert m["operators.dedup.prefilter_survivors"] >= m["operators.dedup.verified_pairs"]
    assert 0 < m["operators.dedup.verify_yield"] <= 1
    assert m["operators.dedup.verify_arrow_bytes"] > 0
    assert m["operators.dedup.features_s"] > 0
    assert m["operators.dedup.append_s"] > 0
    assert m["operators.build.partials_s"] == 0  # the build layer is not used
    assert m["sources.scan_rows"] > 0


def test_captured_sketch_queries_layers():
    events, meta = _fixture("sketch_queries")
    red = reduce_events(events)
    m = layer_metrics(red, meta["spans"])
    assert m["operators.build.partials_s"] > 0
    assert m["operators.build.arrow_in_bytes"] > 0
    assert m["operators.build.collect_bytes"] > 0
    assert m["operators.grouped.state_rows"] > 0
    assert m["operators.grouped.readout_s"] > 0
    assert m["functions.sketch_api.probe_rows"] > 0
    assert m["operators.dedup.candidates"] == 0
    assert m["spark.jobs"] >= len(meta["spans"]) // 3
    rows = span_report(red, meta["spans"])
    assert all(r["self_s"] <= r["wall_s"] + 1e-9 for r in rows)
    assert all(r["parent"] is None or r["parent"] < r["id"] for r in rows)
