"""Spans kept in memory, plus Spark counters read back from the event log.

A :class:`Tracer` records one span per call into a layer (name, start,
end, parent) and runs the call's Spark jobs under a job group named
after the span, so :func:`group_counters` can attribute every task in
the event log to the span that caused it through the job's
``spark.jobGroup.id`` property. The log is plain JSON lines: the session
must run with ``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false``.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

#: job group of Spark work the benchmark itself issues (warm-up, output
#: checks); never charged to a layer
UNTRACED_GROUPS = ("bench.",)

COUNTERS = (
    "jobs",
    "tasks",
    "failed_tasks",
    "cpu_s",
    "gc_s",
    "sched_delay_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "python_bytes_sent",
    "python_bytes_received",
    "python_rows",
    "scan_bytes",
    "csv_scan_bytes",
)


class Tracer:
    """In-memory spans. ``sc`` may be None (spans without job groups)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.time(), "end": None, "parent": parent}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if self.sc is not None:
            self.sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    outer = self.spans[self._stack[-1]]["name"]
                    self.sc.setJobGroup(outer, outer)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def wall(self, prefix: str) -> float:
        """Summed duration of the top-most spans named ``prefix`` (or
        under it), so nested spans of one layer are not counted twice."""
        total = 0.0
        for s in self.spans:
            if _under(s["name"], prefix) and not (
                s["parent"] is not None and _under(self.spans[s["parent"]]["name"], prefix)
            ):
                total += s["end"] - s["start"]
        return total

    def with_self_time(self) -> list[dict]:
        """Spans with ``self_s``: duration minus the part of the interval
        that child spans cover."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = []
        for i, s in enumerate(self.spans):
            dur = s["end"] - s["start"]
            out.append({**s, "dur_s": dur, "self_s": dur - union_length(children[i])})
        return out


def _under(name: str, prefix: str) -> bool:
    return name == prefix or name.startswith(prefix + ".")


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def event_log_file(log_dir: str) -> str:
    """The single uncompressed, non-rolling event log under ``log_dir``."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1 or os.path.isdir(os.path.join(log_dir, files[0])):
        raise RuntimeError(f"expected one event log file in {log_dir}, found {files}")
    return os.path.join(log_dir, files[0])


def _plan_metric_ids(plan: dict, out: dict[int, str]) -> None:
    """Accumulator ids, in a ``sparkPlanInfo`` tree, of the Python-worker
    metrics of every Python exec node (``MapInPandas``,
    ``FlatMapGroupsInPandas``, ``ArrowEvalPython`` and the like) and of
    the bytes read by every parquet and CSV scan."""
    node = plan.get("nodeName", "")
    # scan node names read "Scan parquet <table>" / "Scan csv <path>"
    scan_key = {"Scan parquet": "scan_bytes", "Scan csv": "csv_scan_bytes"}.get(" ".join(node.split(" ")[:2]))
    if scan_key is not None:
        for m in plan.get("metrics", []):
            if m.get("name") == "size of files read":
                out[m["accumulatorId"]] = scan_key
    if "Python" in node or "InPandas" in node or "InArrow" in node:
        for m in plan.get("metrics", []):
            name = m.get("name", "")
            if "sent to Python" in name:
                out[m["accumulatorId"]] = "python_bytes_sent"
            elif "returned from Python" in name:
                out[m["accumulatorId"]] = "python_bytes_received"
            elif name == "number of output rows":
                out[m["accumulatorId"]] = "python_rows"
    for child in plan.get("children", []):
        _plan_metric_ids(child, out)


def group_counters(log_path: str) -> tuple[dict[str, dict[str, float]], dict[str, list]]:
    """Per job group: the :data:`COUNTERS` summed over its tasks, and the
    (submit, complete) epoch-second interval of each of its jobs.

    Jobs without a group are reported under ``""``.
    """
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    job_spans: dict[str, list] = defaultdict(list)
    metric_ids: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    driver_updates: list[tuple[int, int, float]] = []
    counters: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    with open(log_path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                jid = ev["Job ID"]
                job_group[jid] = group
                job_start[jid] = ev["Submission Time"] / 1000.0
                counters[group]["jobs"] += 1
                eid = (ev.get("Properties") or {}).get("spark.sql.execution.id")
                if eid is not None:
                    exec_group.setdefault(int(eid), group)
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_group:
                    job_spans[job_group[jid]].append(
                        (job_start[jid], ev["Completion Time"] / 1000.0)
                    )
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_metric_ids(ev.get("sparkPlanInfo", {}), metric_ids)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in ev.get("accumUpdates", []):
                    driver_updates.append((ev["executionId"], acc_id, float(value)))
            elif kind == "SparkListenerTaskEnd":
                c = counters[stage_group.get(ev["Stage ID"], "")]
                _add_task(c, ev, metric_ids)
    # driver-side metrics (scan sizes) are posted while the query plans,
    # before its first job names the group: resolve them at the end
    for eid, acc_id, value in driver_updates:
        key = metric_ids.get(acc_id)
        if key is not None and eid in exec_group:
            counters[exec_group[eid]][key] += value
    return dict(counters), dict(job_spans)


def _add_task(c: dict[str, float], ev: dict, metric_ids: dict[int, str]) -> None:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    c["tasks"] += 1
    if ev.get("Task End Reason", {}).get("Reason") != "Success":
        c["failed_tasks"] += 1
    c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    run_ms = m.get("Executor Run Time", 0)
    sr = m.get("Shuffle Read Metrics", {})
    c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    c["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    # the scheduler-delay formula of the Spark UI's stage page
    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    getting = info.get("Getting Result Time", 0)
    fetch_ms = info.get("Finish Time", 0) - getting if getting else 0
    delay = duration - run_ms - m.get("Executor Deserialize Time", 0)
    delay -= m.get("Result Serialization Time", 0) + fetch_ms
    c["sched_delay_s"] += max(0, delay) / 1e3
    for acc in info.get("Accumulables", []):
        key = metric_ids.get(acc.get("ID"))
        if key is not None and acc.get("Update") is not None:
            c[key] += float(acc["Update"])


def sum_groups(counters: dict[str, dict[str, float]], prefix: str) -> dict[str, float]:
    """Counters summed over the groups named ``prefix`` or under it."""
    total = dict.fromkeys(COUNTERS, 0.0)
    for group, c in counters.items():
        if _under(group, prefix):
            for k in COUNTERS:
                total[k] += c[k]
    return total


def traced_total(counters: dict[str, dict[str, float]]) -> dict[str, float]:
    """Counters summed over every group the tracer set (the layers),
    leaving out the benchmark's own work and ungrouped jobs."""
    total = dict.fromkeys(COUNTERS, 0.0)
    for group, c in counters.items():
        if group and not group.startswith(UNTRACED_GROUPS):
            for k in COUNTERS:
                total[k] += c[k]
    return total
