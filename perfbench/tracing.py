"""Tracing for the benchmark's traced run: spans, Py4J round trips and
Spark stage metrics folded from an uncompressed event log.

Nothing here reaches into the package. Spans wrap the calls the benchmark
makes; Py4J calls are counted by wrapping the client connection's
`send_command`; Spark work is labelled per action with `setJobGroup` and
read back from the event log after the session stops.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import Counter, defaultdict

# RDD scope names of stages that run a Python worker.
PYTHON_SCOPES = (
    "MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "WindowInPandas", "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF",
)

STAGE_FIELDS = (
    "tasks", "failed_tasks", "run_ms", "cpu_ns", "gc_ms", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


class Tracer:
    """In-memory span recorder. Disabled, every call is a cheap no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "py4j0": self.py4j_calls,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            rec["py4j"] = self.py4j_calls - rec.pop("py4j0")

    def count_py4j(self) -> None:
        """Count every Py4J command sent to the JVM while enabled."""
        from py4j.clientserver import ClientServerConnection

        original = ClientServerConnection.send_command
        tracer = self

        def send_command(conn, command, *args, **kwargs):
            if tracer.enabled:
                tracer.py4j_calls += 1
            return original(conn, command, *args, **kwargs)

        ClientServerConnection.send_command = send_command


def _scope_names(stage_info: dict) -> set[str]:
    names = set()
    for rdd in stage_info.get("RDD Info", []):
        if rdd.get("Name") == "FileScanRDD":
            names.add("Scan parquet")
        if rdd.get("Name") == "PythonRDD":
            names.add("PythonRDD")
        scope = rdd.get("Scope")
        if scope:
            names.add(json.loads(scope).get("name", "").strip())
    return names


def _scan_metric_ids(plan: dict, out: dict[int, str]) -> None:
    """accumulatorId -> metric name for every parquet scan node of a plan."""
    if plan.get("nodeName", "").startswith("Scan parquet"):
        for m in plan.get("metrics", []):
            out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _scan_metric_ids(child, out)


def fold_event_logs(log_dir: str) -> dict:
    """Fold every event log in `log_dir` into jobs, stages and the scan
    nodes' driver-side SQL metrics.

    Returns {"jobs": [{group, start, end, stages, execution}],
    "stages": {id: {...}}, "scan_metrics": {execution: {name: value}}}
    with job times in epoch seconds. Stage and execution ids are prefixed
    with the application id, since each SparkContext numbers from 0.
    """
    jobs: dict[str, dict] = {}
    stages: dict[str, dict] = defaultdict(lambda: dict.fromkeys(STAGE_FIELDS, 0))
    scan_ids: dict[int, str] = {}
    driver_updates: list[tuple[str, int, int]] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        app = os.path.basename(path)
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties", {})
                    execution = props.get("spark.sql.execution.id")
                    jobs[f"{app}/{ev['Job ID']}"] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": [f"{app}/{s}" for s in ev["Stage IDs"]],
                        "execution": f"{app}/{execution}" if execution else None,
                    }
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _scan_metric_ids(ev.get("sparkPlanInfo", {}), scan_ids)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc, value in ev.get("accumUpdates", []):
                        driver_updates.append((f"{app}/{ev['executionId']}", acc, value))
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get(f"{app}/{ev['Job ID']}")
                    if job is not None:
                        job["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages[f"{app}/{info['Stage ID']}"]
                    st["scopes"] = sorted(_scope_names(info))
                elif kind == "SparkListenerTaskEnd":
                    st = stages[f"{app}/{ev['Stage ID']}"]
                    st["tasks"] += 1
                    if ev.get("Task End Reason", {}).get("Reason") != "Success":
                        st["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    st["cpu_ns"] += m.get("Executor CPU Time", 0)
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    st["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    rd = m.get("Shuffle Read Metrics", {})
                    st["shuffle_read_bytes"] += (
                        rd.get("Local Bytes Read", 0) + rd.get("Remote Bytes Read", 0)
                    )
                    st["shuffle_write_bytes"] += m.get(
                        "Shuffle Write Metrics", {}
                    ).get("Shuffle Bytes Written", 0)
    scan_metrics: dict[str, Counter] = defaultdict(Counter)
    for execution, acc, value in driver_updates:
        if acc in scan_ids:
            scan_metrics[execution][scan_ids[acc]] += value
    return {
        "jobs": list(jobs.values()),
        "stages": dict(stages),
        "scan_metrics": dict(scan_metrics),
    }


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
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


def is_scan(stage: dict) -> bool:
    return "Scan parquet" in stage.get("scopes", ())


def is_python(stage: dict) -> bool:
    return any(
        s == "PythonRDD" or s.startswith(PYTHON_SCOPES)
        for s in stage.get("scopes", ())
    )


def group_metrics(folded: dict, match) -> dict:
    """Sum Spark metrics over jobs whose group satisfies `match(group)`.

    Each stage counts once even when several jobs list it; stages that
    never ran (skipped) have no tasks and add nothing.
    """
    seen: set[str] = set()
    executions: set[str] = set()
    intervals = []
    out = dict.fromkeys(STAGE_FIELDS, 0)
    out.update(scan_tasks=0, scan_bytes=0, scan_run_ms=0, python_run_ms=0)
    for job in folded["jobs"]:
        if not job["group"] or not match(job["group"]):
            continue
        if job["execution"]:
            executions.add(job["execution"])
        if job["end"] is not None:
            intervals.append((job["start"], job["end"]))
        for sid in job["stages"]:
            if sid in seen or sid not in folded["stages"]:
                continue
            seen.add(sid)
            st = folded["stages"][sid]
            for f in STAGE_FIELDS:
                out[f] += st[f]
            if is_scan(st):
                out["scan_tasks"] += st["tasks"]
                out["scan_bytes"] += st["input_bytes"]
                out["scan_run_ms"] += st["run_ms"]
            if is_python(st):
                out["python_run_ms"] += st["run_ms"]
    out["partitions_read"] = sum(
        folded["scan_metrics"].get(e, {}).get("number of partitions read", 0)
        for e in executions
    )
    out["job_s"] = _union_seconds(intervals)
    out["job_intervals"] = sorted(intervals)
    return out


def overlap_seconds(start: float, end: float, intervals) -> float:
    """Seconds of [start, end] covered by the union of `intervals`."""
    clipped = [
        (max(s, start), min(e, end)) for s, e in intervals if e > start and s < end
    ]
    return _union_seconds(clipped)
