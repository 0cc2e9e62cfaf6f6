"""Event-log folding and the small statistics the harness reports."""

import json

import harness
import tracing
import workloads


def _write_log(path, events):
    with open(path, "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")


def _stage(sid, rdds):
    return {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {"Stage ID": sid, "RDD Info": rdds},
    }


def _task(sid, run_ms, ok=True, read=0, **metrics):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": sid,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 1_000_000,
            "JVM GC Time": metrics.get("gc", 0),
            "Disk Bytes Spilled": metrics.get("spill", 0),
            "Input Metrics": {"Bytes Read": read},
            "Shuffle Read Metrics": {"Local Bytes Read": 3, "Remote Bytes Read": 4},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 5},
        },
    }


def test_fold_groups_stages_by_job_group(tmp_path):
    scan = [{"Name": "FileScanRDD", "Scope": json.dumps({"name": "Scan parquet "})}]
    py = [{"Name": "PythonRDD", "Scope": json.dumps({"name": "MapInPandas"})}]
    _write_log(tmp_path / "app-1", [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Submission Time": 1000, "Properties": {"spark.jobGroup.id": "op1/scan"}},
        _stage(0, scan), _task(0, 200, read=100), _task(0, 300, read=50, gc=7),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 0],
         "Submission Time": 1400, "Properties": {"spark.jobGroup.id": "op1/mine"}},
        _stage(1, py), _task(1, 400, ok=False, spill=9),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2000},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [2],
         "Submission Time": 5000, "Properties": {"spark.jobGroup.id": "op2/scan"}},
    ])
    folded = tracing.fold_event_logs(str(tmp_path))
    op1 = tracing.group_metrics(folded, lambda g: g.startswith("op1/"))
    assert op1["tasks"] == 3 and op1["failed_tasks"] == 1
    assert op1["run_ms"] == 900 and op1["gc_ms"] == 7 and op1["spill_bytes"] == 9
    assert op1["scan_tasks"] == 2 and op1["scan_bytes"] == 150
    assert op1["scan_run_ms"] == 500 and op1["python_run_ms"] == 400
    assert op1["shuffle_read_bytes"] == 21 and op1["shuffle_write_bytes"] == 15
    # the two jobs overlap by 0.1 s: wall covered is 1.0 s, not 1.1 s
    assert abs(op1["job_s"] - 1.0) < 1e-9
    scan_only = tracing.group_metrics(folded, lambda g: g == "op1/scan")
    assert scan_only["python_run_ms"] == 0 and scan_only["tasks"] == 2
    # a job still running at the end adds stages but no wall time
    assert tracing.group_metrics(folded, lambda g: g == "op2/scan")["job_s"] == 0


def test_overlap_seconds_clips_to_window():
    spans = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]
    assert tracing.overlap_seconds(1.5, 5.5, spans) == 2.0


def test_tail_needs_ten_samples_beyond():
    value, pct, n = harness.tail([float(i) for i in range(1, 41)])
    assert (value, n) == (30.0, 40) and pct == 75.0
    value, pct, n = harness.tail([3.0, 1.0, 2.0])
    assert value == 1.0 and n == 3


def test_tracer_disabled_records_nothing():
    tr = tracing.Tracer(False)
    with tr.span("x", "op0") as rec:
        assert rec is None
    assert tr.spans == []
    tr = tracing.Tracer(True)
    with tr.span("outer", "op0"):
        with tr.span("inner", "op0"):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and outer["end"] >= inner["end"]


def test_rounding_equal_accepts_only_last_decimal_flips():
    import pandas as pd

    want = pd.DataFrame({"k": [1, 2], "v": [545676.37, 10.5]})
    flip = pd.DataFrame({"k": [2, 1], "v": [10.5, 545676.38]})
    wrong = pd.DataFrame({"k": [1, 2], "v": [545676.40, 10.5]})
    assert workloads.rounding_equal(flip, want) == 1
    assert workloads.rounding_equal(wrong, want) is None
    assert workloads.canon_hash(want) != workloads.canon_hash(flip)
