"""Benchmark launcher.

    python3 perfbench/run.py --workload advisor_refresh --seed 1 --seconds 12 --trace 0

Run from the repository root. Builds its inputs from --seed under
`.perfbench_work/`, measures one workload in a fresh Spark session,
checks every op's output, writes a detail record under `.perfbench_out/`
and prints one JSON result line last on stdout. See perfbench/README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "trino_adaptive_partitioning_tool_spark"


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def pin_environment(work: str) -> dict[str, str]:
    """Environment every sample runs under; applied before Spark starts so
    the JVM and its Python workers inherit it."""
    cpus = len(os.sched_getaffinity(0))
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # every JVM, the spark-submit launcher included: temp files in the
        # work dir, and no hsperfdata file in the system temp dir
        "JAVA_TOOL_OPTIONS": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
    }
    for d in (pinned["TMPDIR"], pinned["SPARK_LOCAL_DIRS"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(pinned)
    sys.path[:0] = [ROOT, HERE]
    return pinned


def git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return None


def versions() -> dict[str, str]:
    import duckdb
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
    }


def unit_of(metric: str) -> str:
    """Unit of an end-to-end metric, read from its name."""
    if metric == "rows_per_s":
        return "rows/s"
    for suffix, unit in (("_s", "s"), ("_ref", "refs"), ("_mb", "MB"), ("_ratio", "ratio")):
        if metric.endswith(suffix):
            return unit
    return ""


ALL_WORKLOADS = ("advisor_refresh", "scan_profile", "corpus_pipeline", "layout_write")


def run_all(args) -> int:
    """Run every workload, one fresh process each, one after the other.
    The result line merges them, metric names prefixed by workload."""
    import subprocess

    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in ALL_WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, text=True, check=False,
        )
        lines = proc.stdout.strip().splitlines()
        if not lines:
            log(f"perfbench: {name} printed no result (exit {proc.returncode})")
            return proc.returncode or 1
        result = json.loads(lines[-1])
        merged["correct"] &= result["correct"]
        merged["attempted"] += result["attempted"]
        merged["failed"] += result["failed"]
        for metric, value in result["metrics"].items():
            merged["metrics"][f"{name}.{metric}"] = value
    print(json.dumps(merged), flush=True)
    return 0 if merged["correct"] else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"perfbench: package {PACKAGE}/ not found under {ROOT}")
        return 2
    if args.workload == "all":
        return run_all(args)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(work)

    # DuckDB must connect before the JVM starts in this process.
    import duckdb

    duck = duckdb.connect()

    import harness
    import tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; "
            f"choose from {sorted(workloads.WORKLOADS)}")
        return 2
    workload = workloads.WORKLOADS[args.workload]()
    ctx = harness.Context(work, args.seed, tracing.Tracer(bool(args.trace)), duck)
    load_start = os.getloadavg()[0]
    try:
        record = harness.run(workload, ctx, args.seconds, PROCESS_START)
    finally:
        harness.stop_spark(ctx, final=True)
        duck.close()
        shutil.rmtree(work, ignore_errors=True)
    record["env"] = {
        "pinned": env,
        "nproc": len(os.sched_getaffinity(0)),
        "load_1m_start": load_start,
        "load_1m_end": os.getloadavg()[0],
        "versions": versions(),
        "git_commit": git_commit(),
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "workload": args.workload,
        "scale_factor": workload.sf,
        "rows_per_op": workload.rows_per_op,
    }
    if args.trace:
        record["spans"] = ctx.tracer.spans
        wanted = spec["per_layer"]
        values = record["layers"]
    else:
        wanted = spec["end_to_end"]
        values = record["end_to_end"]
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    detail = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(detail, "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    log(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
        f"ops={record['attempted']} failed={record['failed']} detail={detail}")
    for name, value in record["end_to_end"].items():
        log(f"  {name:16s} {value:14.4f} {unit_of(name)}")
    tail = record["op_tail"]
    log(f"  op_tail_s is p{tail['percentile']:.0f} of {tail['samples']} warm ops")
    for problem in record["failures"][:20]:
        log(f"  FAILED {problem}")

    correct = record["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
