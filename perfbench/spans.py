"""Spans recorded around layer calls, and Spark stage metrics per span.

``Tracer`` keeps spans in memory (name, start, end, parent, attrs).  The
benchmark opens one around every call into a layer of the engine.  For
traced runs Spark writes its JSON event log; ``stage_metrics`` reads it
back (Spark 4 compresses it with zstd, which pyarrow decodes) and
attributes every job to the span whose job description tagged it.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time
from contextlib import contextmanager

import pyarrow as pa


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def coverage(self, parent: dict) -> float:
        """Share of ``parent``'s wall time covered by its direct children."""
        kids = [s for s in self.spans if s["parent"] == parent["id"]]
        wall = parent["end"] - parent["start"]
        return sum(s["end"] - s["start"] for s in kids) / wall if wall > 0 else 0.0


def read_event_log(log_dir: str) -> list[dict]:
    """Events of every application log under ``log_dir``.

    Spark 4 writes a rolling log: one ``eventlog_v2_<app>`` directory per
    application holding ``events_<n>_<app>[.zstd]`` files."""
    def order(path: str) -> tuple:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return (os.path.dirname(path), int(m.group(1)) if m else 0, path)

    paths = [
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and os.path.basename(p).startswith(("events_", "local-", "app-"))
    ]
    events = []
    for path in sorted(paths, key=order):
        codec = "zstd" if ".zstd" in os.path.basename(path) else None
        with pa.input_stream(path, compression=codec) as fh:
            for line in fh.read().decode("utf-8").splitlines():
                if line:
                    events.append(json.loads(line))
    return events


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _skew(task_times: list[float]) -> float:
    med = statistics.median(task_times)
    return max(task_times) / med if med > 0 else 1.0


def stage_metrics(events: list[dict]) -> dict[str, dict]:
    """Per job description: jobs, stage intervals and summed task metrics.

    Returns ``{description: {"jobs", "stages": [(start_s, end_s)],
    "executor_run_s", "shuffle_write_mb", "spill_mb", "output_mb",
    "task_skew", "sql_ids"}}`` where ``task_skew`` is slowest task over
    median task in the description's heaviest stage of two or more tasks."""
    stage_desc: dict[int, str] = {}
    out: dict[str, dict] = {}
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            desc = props.get("spark.job.description")
            if not desc:
                continue
            rec = out.setdefault(desc, {
                "jobs": 0, "stages": [], "executor_run_s": 0.0, "shuffle_write_mb": 0.0,
                "spill_mb": 0.0, "output_mb": 0.0, "task_skew": 0.0, "sql_ids": set(),
                "_tasks": {},
            })
            rec["jobs"] += 1
            if props.get("spark.sql.execution.id") is not None:
                rec["sql_ids"].add(int(props["spark.sql.execution.id"]))
            for sid in ev.get("Stage IDs", []):
                stage_desc[sid] = desc
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerTaskEnd":
            desc = stage_desc.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if desc is None or not m:
                continue
            rec = out[desc]
            rec["executor_run_s"] += m.get("Executor Run Time", 0) / 1000
            rec["shuffle_write_mb"] += (
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
            )
            rec["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / 1e6
            rec["output_mb"] += m.get("Output Metrics", {}).get("Bytes Written", 0) / 1e6
            rec["_tasks"].setdefault(ev["Stage ID"], []).append(
                m.get("Executor Run Time", 0) / 1000
            )
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            desc = stage_desc.get(info["Stage ID"])
            if desc is not None and info.get("Submission Time"):
                out[desc]["stages"].append(
                    (info["Submission Time"] / 1000, info["Completion Time"] / 1000)
                )
    for rec in out.values():
        multi = [t for t in rec.pop("_tasks").values() if len(t) > 1]
        rec["task_skew"] = _skew(max(multi, key=sum)) if multi else 1.0
    return out


def output_rows_by_node(events: list[dict], sql_ids: set[int], node: str) -> int:
    """Rows emitted by every plan node called ``node`` in the given SQL
    executions (the node's "number of output rows" metric)."""
    acc_ids: set[int] = set()

    def walk(plan: dict) -> None:
        if plan.get("nodeName") == node:
            for m in plan.get("metrics", []):
                if m.get("name") == "number of output rows":
                    acc_ids.add(int(m["accumulatorId"]))
        for child in plan.get("children", []):
            walk(child)

    for ev in events:
        if ev.get("Event", "").endswith(
            ("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")
        ) and ev.get("executionId") in sql_ids:
            walk(ev.get("sparkPlanInfo", {}))
    total = 0
    for ev in events:
        if ev.get("Event") == "SparkListenerStageCompleted":
            for acc in ev["Stage Info"].get("Accumulables", []):
                if int(acc.get("ID", -1)) in acc_ids:
                    total += int(acc.get("Value", 0))
    return total


def driver_seconds(span: dict, stages: list[tuple[float, float]]) -> float:
    """Span wall time not covered by any of its Spark stages."""
    inside = [
        (max(lo, span["start"]), min(hi, span["end"]))
        for lo, hi in stages
        if hi > span["start"] and lo < span["end"]
    ]
    return (span["end"] - span["start"]) - _union_seconds(inside)
