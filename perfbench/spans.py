"""Spans around module calls, and process-level resource readings.

A span records one call into a layer of the library: name, layer, start,
end, parent span and operation id. While a span is open, every Spark job
the call starts carries ``pb:<span id>`` as its job description, which is
how :mod:`eventlog` attributes stage and SQL metrics to spans. Spans stay in
memory and are written once, when the run ends. A tracer without a
SparkContext is off: it records nothing and never touches Spark.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

JOB_PREFIX = "pb:"


class Tracer:
    def __init__(self, spark_context=None):
        self.sc = spark_context  # None: tracing off
        self.spans: list[dict] = []
        self.op: int | None = None
        self._open: list[int] = []

    def _tag(self) -> None:
        self.sc.setJobDescription(f"{JOB_PREFIX}{self._open[-1]}" if self._open else None)

    @contextmanager
    def span(self, name: str, layer: str):
        if self.sc is None:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self._open[-1] if self._open else None,
            "op": self.op,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        self._tag()
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._open.pop()
            self._tag()


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    for sid, children in kids.items():
        out[sid] -= union_seconds([(c["start"], c["end"]) for c in children])
    return out


def union_seconds(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# ------------------------------------------------------- process readings


def _descendants(pid: int) -> list[int]:
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        try:
            for t in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids = [int(c) for c in f.read().split()]
                out += kids
                stack += kids
        except OSError:
            continue
    return out


def python_worker_pids() -> list[int]:
    """Spark's Python daemon and workers under this process."""
    pids = []
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark" in cmd and b"java" not in cmd.split(b"\0")[0]:
            pids.append(pid)
    return pids


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of a process, in MiB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def reset_peak_rss(pids) -> None:
    """Restart VmHWM accounting from the current RSS (Linux clear_refs 5)."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue
