"""Spans around the calls into each layer, and the reduction of Spark's
event log to one ledger row per operation.

A span is (op id, name, start, end, parent). Spans live in memory and are
written out when the run ends. Every operation runs under its own Spark
job group, so each job in the event log is attributed to one operation.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Spark confs of the traced run: an uncompressed, non-rolling event
    log, which Spark writes with the UI off."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """Records spans when enabled; otherwise `span` only yields."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def op(self, kind: str):
        """One benchmark operation: a root span plus a job group."""
        op_id = len(self.ops)
        rec = {"op": op_id, "kind": kind, "group": f"bench-{op_id}-{kind}"}
        self.ops.append(rec)
        if self.enabled:
            self.sc.setJobGroup(rec["group"], kind)
        try:
            with self.span(kind):
                yield rec
        finally:
            if self.enabled:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "op": len(self.ops) - 1,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def self_times(self) -> list[dict]:
        """Each span with `self_s`: its duration minus the part of it
        that its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            covered = _union([(c["start"], c["end"]) for c in kids.get(s["id"], [])])
            out.append(dict(s, self_s=s["end"] - s["start"] - covered))
        return out


def _union(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


LEDGER_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "executor_cpu_s",
    "gc_s",
    "driver_only_s",
    "single_task_stages",
)


def read_event_log(log_dir: str) -> list[dict]:
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    events = []
    for p in files:
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def ledger(events: list[dict], tracer: Tracer) -> list[dict]:
    """One row per operation: LEDGER_FIELDS from the jobs of its group,
    plus `files_read` (the scans' "number of files read" SQL metric), the
    operation wall, and the names of its single-task stages.

    Jobs submitted from helper threads (the package's parallel writes)
    carry no job group; they go to the operation whose wall holds their
    submission time, which is unambiguous because operations run one at a
    time."""
    roots = {s["op"]: s for s in tracer.spans if s["parent"] is None}

    def group_at(ms: int) -> str | None:
        t = ms / 1e3
        for op in tracer.ops:
            root = roots[op["op"]]
            if root["start"] <= t <= root["end"]:
                return op["group"]
        return None

    group_of_job: dict[int, str] = {}
    job_span: dict[int, list] = {}
    group_of_stage: dict[int, str] = {}
    group_of_exec: dict[int, str] = {}
    files_metric_ids: set[int] = set()
    stage_done: dict[int, dict] = {}
    task_rows: list[dict] = []
    driver_accums: list[tuple[int, list]] = []
    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            g = props.get("spark.jobGroup.id") or group_at(e["Submission Time"])
            if g is None:
                continue
            jid = e["Job ID"]
            group_of_job[jid] = g
            job_span[jid] = [e["Submission Time"], None]
            for sid in e.get("Stage IDs", []):
                group_of_stage.setdefault(sid, g)
            xid = props.get("spark.sql.execution.id")
            if xid is not None:
                group_of_exec.setdefault(int(xid), g)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in job_span:
                job_span[e["Job ID"]][1] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stage_done[info["Stage ID"]] = info
        elif kind == "SparkListenerTaskEnd":
            task_rows.append(e)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _collect_metric_ids(e.get("sparkPlanInfo") or {}, files_metric_ids)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            driver_accums.append((e["executionId"], e["accumUpdates"]))

    rows = {
        op["group"]: dict(
            {f: 0 for f in LEDGER_FIELDS},
            op=op["op"],
            kind=op["kind"],
            files_read=0,
            single_task_stage_names=[],
        )
        for op in tracer.ops
    }
    for jid, g in group_of_job.items():
        if g in rows:
            rows[g]["jobs"] += 1
    for sid, info in stage_done.items():
        g = group_of_stage.get(sid)
        if g not in rows:
            continue
        rows[g]["stages"] += 1
        if info.get("Number of Tasks") == 1:
            rows[g]["single_task_stages"] += 1
            rows[g]["single_task_stage_names"].append(info.get("Stage Name", ""))
    mb = 1024.0 * 1024.0
    for t in task_rows:
        g = group_of_stage.get(t.get("Stage ID"))
        if g not in rows:
            continue
        m = t.get("Task Metrics") or {}
        r = rows[g]
        r["tasks"] += 1
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        r["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / mb
        r["shuffle_read_mb"] += (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        ) / mb
        r["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / mb
        r["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        r["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    for xid, updates in driver_accums:
        g = group_of_exec.get(int(xid))
        if g not in rows:
            continue
        for acc_id, value in updates:
            if acc_id in files_metric_ids:
                rows[g]["files_read"] += int(value)

    for op in tracer.ops:
        r = rows[op["group"]]
        root = roots[op["op"]]
        wall = root["end"] - root["start"]
        spans = [
            (a / 1e3, b / 1e3)
            for j, (a, b) in job_span.items()
            if group_of_job[j] == op["group"] and b is not None
        ]
        r["wall_s"] = wall
        r["jobs_union_s"] = _union(spans)
        r["driver_only_s"] = wall - r["jobs_union_s"]
        # reconciliation: every job of the op lies inside its wall (10 ms
        # allowance for the event clock's millisecond rounding), and no
        # total is negative
        r["reconciled"] = all(
            a >= root["start"] - 0.01 and b <= root["end"] + 0.01 for a, b in spans
        ) and all(r[f] >= 0 for f in LEDGER_FIELDS)
    return [rows[op["group"]] for op in tracer.ops]


def _collect_metric_ids(plan: dict, out: set[int]) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") == "number of files read":
            out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _collect_metric_ids(child, out)
