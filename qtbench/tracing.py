"""Spans around the benchmark's calls into each engine module, and the
fold of Spark's event log into per-span task metrics.

A span is (id, name, start, end, parent, workload, iteration, counts).
While a span is open its id is the Spark job group, so every job the
module call causes is charged to the innermost open span.  Spans are kept
in memory and written out when the run ends.  With tracing off, ``span``
returns a no-op context and sets no job group.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

# Tracer.iteration outside the measured loop (which counts from 0)
SETUP, WARM_UP, PROBE = -3, -1, -2


class Tracer:
    def __init__(self, sc=None, workload: str = ""):
        self.sc = sc
        self.enabled = sc is not None
        # a traced run alternates traced and untraced steps; spans are
        # recorded only while `active`
        self.active = self.enabled
        self.workload = workload
        self.iteration = SETUP
        self.spans: list = []
        self._stack: list = []
        self._t0 = time.perf_counter()

    def now(self) -> float:
        return time.perf_counter() - self._t0

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield {}
            return
        sid = f"s{len(self.spans)}"
        rec = {"id": sid, "name": name, "start": self.now(), "end": None,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "workload": self.workload, "iteration": self.iteration,
               "counts": {}}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(sid, name)
        try:
            yield rec["counts"]
        finally:
            rec["end"] = self.now()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(top["id"], top["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ------------------------------------------------------------ event log

_SQL = "org.apache.spark.sql.execution.ui."
_PLAN_EVENTS = (_SQL + "SparkListenerSQLExecutionStart",
                _SQL + "SparkListenerSQLAdaptiveExecutionUpdate")


def _is_python_node(name: str) -> bool:
    return "Python" in name or "InPandas" in name or "InArrow" in name


def _walk(node):
    yield node
    for c in node.get("children", []):
        yield from _walk(c)


def _new_group() -> dict:
    return {"task_ms": [], "run_ms": 0, "gc_ms": 0, "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0, "python_rows": 0,
            "scan_rows": 0, "files_read": 0}


def fold_event_log(lines) -> dict:
    """Fold an event log (an iterable of JSON lines) into per-job-group
    totals: task times, GC, shuffle bytes, rows handed to Python
    UDFs, rows and files read by scans."""
    stage_group: dict = {}
    exec_group: dict = {}
    python_acc: set = set()
    scan_rows_acc: set = set()
    files_acc: set = set()
    out: dict = {}
    driver_updates = []
    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerStageSubmitted":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            stage_group[e["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            g = props.get("spark.jobGroup.id")
            ex = props.get("spark.sql.execution.id")
            if g is not None and ex is not None:
                exec_group.setdefault(int(ex), g)
        elif kind in _PLAN_EVENTS:
            for node in _walk(e["sparkPlanInfo"]):
                nm = node["nodeName"]
                for m in node.get("metrics", []):
                    if m["name"] == "number of output rows":
                        if _is_python_node(nm):
                            python_acc.add(m["accumulatorId"])
                        elif nm.startswith("Scan "):
                            scan_rows_acc.add(m["accumulatorId"])
                    elif m["name"] == "number of files read":
                        files_acc.add(m["accumulatorId"])
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            driver_updates.append(e)
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"])
            if g is None:
                continue
            acc = out.setdefault(g, _new_group())
            info = e["Task Info"]
            acc["task_ms"].append(info["Finish Time"] - info["Launch Time"])
            tm = e.get("Task Metrics") or {}
            acc["run_ms"] += tm.get("Executor Run Time", 0)
            acc["gc_ms"] += tm.get("JVM GC Time", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            acc["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
            sw = tm.get("Shuffle Write Metrics") or {}
            acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            for a in info.get("Accumulables", []):
                if a["ID"] in python_acc:
                    acc["python_rows"] += int(a.get("Update") or 0)
                elif a["ID"] in scan_rows_acc:
                    acc["scan_rows"] += int(a.get("Update") or 0)
                elif a["ID"] in files_acc:
                    acc["files_read"] += int(a.get("Update") or 0)
    for e in driver_updates:
        g = exec_group.get(int(e["executionId"]))
        if g is None:
            continue
        acc = out.setdefault(g, _new_group())
        for acc_id, val in e["accumUpdates"]:
            if acc_id in files_acc:
                acc["files_read"] += int(val)
    return out


def read_event_log(log_dir: str) -> dict:
    """Fold every event log file under `log_dir`."""
    out: dict = {}
    for fn in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, fn)
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for g, acc in fold_event_log(f).items():
                out.setdefault(g, _new_group())
                for k, v in acc.items():
                    out[g][k] = out[g][k] + v
    return out


# --------------------------------------------------------- span algebra

def descendants(spans: list) -> dict:
    """span id -> ids of the span and everything nested under it."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out = {}

    def collect(sid):
        if sid not in out:
            ids = [sid]
            for k in kids.get(sid, []):
                ids.extend(collect(k))
            out[sid] = ids
        return out[sid]

    for s in spans:
        collect(s["id"])
    return out


def self_times(spans: list) -> dict:
    """span id -> duration minus the time its direct children cover."""
    child_time: dict = {}
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] = (child_time.get(s["parent"], 0.0)
                                       + s["end"] - s["start"])
    return {s["id"]: (s["end"] - s["start"]) - child_time.get(s["id"], 0.0)
            for s in spans}


def uncovered_share(spans: list, windows: list) -> list:
    """For each (start, end) iteration window, the share of it that no
    top-level span covers."""
    tops = sorted((s["start"], s["end"]) for s in spans
                  if s["parent"] is None)
    out = []
    for lo, hi in windows:
        covered, cur = 0.0, lo
        for a, b in tops:
            a, b = max(a, cur), min(b, hi)
            if b > a:
                covered += b - a
                cur = b
        out.append(1.0 - covered / (hi - lo) if hi > lo else 0.0)
    return out


def span_spark_metrics(spans: list, chosen: list, groups: dict) -> dict:
    """Per span name: Spark metrics of each chosen span and its
    descendants, summed over the chosen calls, with the call count."""
    desc = descendants(spans)
    out: dict = {}
    for s in chosen:
        agg = out.setdefault(s["name"], {"calls": 0, **_new_group()})
        agg["calls"] += 1
        for sid in desc[s["id"]]:
            g = groups.get(sid)
            if g is None:
                continue
            for k, v in g.items():
                agg[k] = agg[k] + v
    return out


def spark_suffixes(agg: dict) -> dict:
    """The per-call Spark metrics of one span name."""
    calls = max(agg["calls"], 1)
    t = sorted(agg["task_ms"])
    med = t[len(t) // 2] if t else 0
    return {
        "task_s": agg["run_ms"] / 1000.0 / calls,
        "tasks": len(t) / calls,
        "task_skew": (t[-1] / med) if med else 0.0,
        "gc_s": agg["gc_ms"] / 1000.0 / calls,
        "shuffle_write_bytes": agg["shuffle_write_bytes"] / calls,
        "shuffle_read_bytes": agg["shuffle_read_bytes"] / calls,
    }
