"""Reduce a Spark event log to per-span and per-layer metrics.

Input: the JSON-lines event log Spark writes with ``spark.eventLog.enabled``
(uncompressed), and the spans of :mod:`spans`. Every job a span starts
carries ``pb:<span id>`` as its job description, so:

- a stage belongs to the span named in its submission properties, and its
  tasks' metrics (run time, CPU, GC, shuffle, spill, result size, peak
  execution memory) go to that span;
- a SQL metric (an accumulator of a physical-plan node) goes to the span of
  the stage whose tasks updated it, or, for driver-side updates, to the span
  of the SQL execution, whose description is the job description at start.

Plan nodes are named from the execution's plan and its adaptive updates,
so per-layer metrics are sums over nodes of one kind (file scans, Python
nodes, joins) inside spans of one layer.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

from spans import JOB_PREFIX, self_times, union_seconds

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
SQL_DRIVER = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


def read_events(log_dir: str) -> list[dict]:
    """All events of every application log under ``log_dir``, in order."""
    paths = []
    for root, _, files in os.walk(log_dir):
        paths += [os.path.join(root, f) for f in files
                  if not f.startswith(".") and not f.startswith("appstatus")]

    def part(p):  # rolling logs: events_<n>_<app id>
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return (os.path.dirname(p), int(m.group(1)) if m else 0)

    events = []
    for p in sorted(paths, key=part):
        with open(p) as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


def span_of(description) -> int | None:
    if description and description.startswith(JOB_PREFIX):
        return int(description[len(JOB_PREFIX):])
    return None


@dataclass
class Stage:
    span: int | None
    start: float = 0.0  # seconds since the epoch
    end: float = 0.0
    task_s: list = field(default_factory=list)
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    shuffle_records: int = 0
    spill: int = 0
    result_bytes: int = 0
    peak_mem: int = 0


@dataclass
class Node:
    name: str  # plan node name, e.g. "MapInArrow"
    desc: str  # the node's one-line description
    metric: str  # the accumulator's metric name


@dataclass
class Reduced:
    stages: dict  # stage id -> Stage
    jobs: dict  # job id -> span id
    sql: dict  # (span id, accumulator id) -> summed value
    nodes: dict  # accumulator id -> Node


def reduce_events(events: list[dict]) -> Reduced:
    stages: dict[int, Stage] = {}
    jobs: dict[int, int | None] = {}
    sql: dict[tuple, int] = defaultdict(int)
    nodes: dict[int, Node] = {}
    exec_span: dict[int, int | None] = {}

    def walk(plan):
        for m in plan["metrics"]:
            nodes[m["accumulatorId"]] = Node(plan["nodeName"], plan["simpleString"], m["name"])
        for child in plan["children"]:
            walk(child)

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jobs[e["Job ID"]] = span_of(e.get("Properties", {}).get("spark.job.description"))
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            desc = e.get("Properties", {}).get("spark.job.description")
            stages[sid] = Stage(span_of(desc))
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = stages.setdefault(info["Stage ID"], Stage(None))
            st.start = info.get("Submission Time", 0) / 1000.0
            st.end = info.get("Completion Time", 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            if info.get("Failed") or info.get("Killed"):
                continue
            st = stages.setdefault(e["Stage ID"], Stage(None))
            m = e.get("Task Metrics") or {}
            st.task_s.append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1000.0
            rd = m.get("Shuffle Read Metrics", {})
            st.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            wr = m.get("Shuffle Write Metrics", {})
            st.shuffle_write += wr.get("Shuffle Bytes Written", 0)
            st.shuffle_records += wr.get("Shuffle Records Written", 0)
            st.spill += m.get("Disk Bytes Spilled", 0)
            if e.get("Task Type") == "ResultTask":
                st.result_bytes += m.get("Result Size", 0)
            st.peak_mem = max(st.peak_mem, m.get("Peak Execution Memory", 0))
            for acc in info.get("Accumulables", []):
                if not acc.get("Name", "").startswith("internal.") and "Update" in acc:
                    sql[(st.span, acc["ID"])] += _int(acc["Update"])
        elif kind == SQL_START:
            exec_span[e["executionId"]] = span_of(e.get("description"))
            walk(e["sparkPlanInfo"])
        elif kind == SQL_AQE:
            walk(e["sparkPlanInfo"])
        elif kind == SQL_DRIVER:
            span = exec_span.get(e["executionId"])
            for acc_id, value in e["accumUpdates"]:
                sql[(span, acc_id)] += _int(value)
    return Reduced(stages, jobs, dict(sql), nodes)


def _int(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


# ------------------------------------------------------------ node kinds

_FEATURES = re.compile(r"^MapInArrow .*, \[doc_id#\d+L?, keys#\d+, grams#\d+\]")
_VERIFY = re.compile(r"^MapInArrow verify\(")
_BAND_JOIN = re.compile(r"Join \[band#")
_PAIR_JOIN = re.compile(r"Join \[b_id#")


def _is_scan(n: Node) -> bool:
    return n.desc.startswith("FileScan")


def layer_metrics(red: Reduced, spans: list[dict]) -> dict[str, float]:
    """The per-layer metrics over the timed spans (those with an op id),
    which make up one round of the workload."""
    timed = {s["id"]: s for s in spans if s["op"] is not None}
    layer = {sid: s["layer"] for sid, s in timed.items()}

    def sql_sum(layers, metric, node_pred=lambda n: True):
        total = 0
        for (span, acc), v in red.sql.items():
            n = red.nodes.get(acc)
            if span in timed and n is not None and n.metric == metric and node_pred(n) \
                    and (layers is None or layer[span] in layers):
                total += v
        return total

    def stages_in(layers=None):
        return [st for st in red.stages.values()
                if st.span in timed and (layers is None or layer[st.span] in layers)]

    m: dict[str, float] = {}
    # sources: the parquet scans Spark plans (files read, bytes, rows)
    m["sources.scan_bytes"] = sql_sum(None, "size of files read", _is_scan)
    m["sources.scan_rows"] = sql_sum(None, "number of output rows", _is_scan)
    m["sources.files_read"] = sql_sum(None, "number of files read", _is_scan)

    # operators.build: partial build stages, Arrow in, Python time, collect
    build = {"operators.build"}
    bst = stages_in(build)
    m["operators.build.partials_s"] = sum(st.end - st.start for st in bst)
    m["operators.build.arrow_in_bytes"] = sql_sum(build, "data sent to Python workers")
    m["operators.build.python_s"] = sql_sum(build, "time to run Python workers") / 1000
    m["operators.build.task_skew"] = _skew(bst)
    m["operators.build.collect_bytes"] = sum(st.result_bytes for st in bst)
    m["operators.build.driver_fold_s"] = _tails(red, timed, build)

    # operators.grouped: map-side state build, the state exchange, readout
    grouped = {"operators.grouped"}
    gst = stages_in(grouped)
    maps = [st for st in gst if st.shuffle_write and not st.shuffle_read]
    reads = [st for st in gst if st.shuffle_read]
    state_rows = sum(st.shuffle_records for st in maps)
    m["operators.grouped.states_s"] = sum(st.end - st.start for st in maps)
    m["operators.grouped.state_rows"] = state_rows
    m["operators.grouped.shuffle_bytes"] = sum(st.shuffle_write for st in gst)
    m["operators.grouped.spill_bytes"] = sum(st.spill for st in gst)
    m["operators.grouped.readout_s"] = sum(st.end - st.start for st in reads)

    # operators.dedup: kernel, query and append walls, the near-dup funnel
    dedup = {"operators.dedup"}
    dst = stages_in(dedup)
    feats = lambda n: bool(_FEATURES.match(n.desc))
    verify = lambda n: bool(_VERIFY.match(n.desc))
    cand = sql_sum(dedup, "number of output rows", lambda n: bool(_BAND_JOIN.search(n.desc)))
    verified = sql_sum(dedup, "number of output rows", verify)
    m["operators.dedup.features_s"] = sql_sum(dedup, "time to run Python workers", feats) / 1000
    m["operators.dedup.query_s"] = sum(
        s["end"] - s["start"] for s in timed.values()
        if s["name"] in ("operators.dedup.incremental_near_dup", "collect") and s["layer"] == "operators.dedup"
    )
    m["operators.dedup.append_s"] = sum(
        s["end"] - s["start"] for s in timed.values() if s["name"] == "operators.dedup.minhash_index_append"
    )
    m["operators.dedup.candidates"] = cand
    m["operators.dedup.prefilter_survivors"] = sql_sum(
        dedup, "number of output rows", lambda n: bool(_PAIR_JOIN.search(n.desc)))
    m["operators.dedup.verified_pairs"] = verified
    m["operators.dedup.verify_yield"] = verified / cand if cand else 0.0
    m["operators.dedup.verify_arrow_bytes"] = sql_sum(dedup, "data sent to Python workers", verify)
    m["operators.dedup.shuffle_bytes"] = sum(st.shuffle_write for st in dst)
    m["operators.dedup.spill_bytes"] = sum(st.spill for st in dst)

    # functions.sketch_api: the vectorized probe UDFs
    api = {"functions.sketch_api"}
    probe = lambda n: n.name in ("ArrowEvalPython", "BatchEvalPython")
    m["functions.sketch_api.probe_s"] = sql_sum(api, "time to run Python workers", probe) / 1000
    m["functions.sketch_api.probe_rows"] = sql_sum(api, "number of output rows", probe)

    # spark, whole timed phase
    ast = stages_in()
    m["spark.jobs"] = sum(1 for span in red.jobs.values() if span in timed)
    m["spark.stages"] = len(ast)
    m["spark.tasks"] = sum(len(st.task_s) for st in ast)
    m["spark.executor_cpu_s"] = sum(st.cpu_s for st in ast)
    m["spark.gc_s"] = sum(st.gc_s for st in ast)
    m["spark.peak_exec_mem_bytes"] = max((st.peak_mem for st in ast), default=0)
    roots = [s for s in timed.values() if s["parent"] is None]
    busy = [(st.start, st.end) for st in ast]
    m["spark.driver_only_s"] = sum(
        (s["end"] - s["start"]) - _covered(busy, s["start"], s["end"]) for s in roots
    )
    return m


def _skew(stages: list[Stage]) -> float:
    """Median over multi-task stages of max / median task time."""
    ratios = []
    for st in stages:
        if len(st.task_s) >= 2:
            med = statistics.median(st.task_s)
            if med > 0:
                ratios.append(max(st.task_s) / med)
    return statistics.median(ratios) if ratios else 1.0


def _covered(intervals, lo: float, hi: float) -> float:
    return union_seconds([(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi])


def _tails(red: Reduced, timed: dict, layers: set) -> float:
    """Driver time after the last stage of each innermost span of ``layers``:
    the collect's deserialization, the driver fold and the readout."""
    parents = {s["parent"] for s in timed.values()}
    total = 0.0
    for sid, s in timed.items():
        if s["layer"] not in layers or sid in parents:
            continue
        ends = [st.end for st in red.stages.values() if st.span == sid]
        if ends:
            total += max(0.0, s["end"] - max(ends))
    return total


def span_report(red: Reduced, spans: list[dict]) -> list[dict]:
    """One row per span: self time plus the Spark work attributed to it."""
    selft = self_times(spans)
    by_span: dict[int, list[Stage]] = defaultdict(list)
    for st in red.stages.values():
        by_span[st.span].append(st)
    rows = []
    for s in spans:
        sts = by_span.get(s["id"], [])
        rows.append({
            **s,
            "wall_s": s["end"] - s["start"],
            "self_s": selft[s["id"]],
            "stages": len(sts),
            "stage_busy_s": union_seconds([(st.start, st.end) for st in sts]),
            "executor_cpu_s": sum(st.cpu_s for st in sts),
            "shuffle_bytes": sum(st.shuffle_write for st in sts),
        })
    return rows
