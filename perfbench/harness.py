"""Run loop shared by every workload: repeated set-up, the cold pass, the
timed warm loop with per-op output checks, memory sampling, and the
end-to-end and per-layer metrics.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
import traceback

import numpy as np

import tracing

SETUP_REPS = 3
MIN_WARM_OPS = 2
TAIL_BEYOND = 10


def cpu_times() -> tuple[int, int]:
    """(all jiffies, stolen jiffies) summed over CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:]]
    return sum(fields), fields[7]


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[0] - start[0]
    return (end[1] - start[1]) / total if total else 0.0


_REF_ARRAY = np.random.default_rng(0).random(2_000_000)


def host_ref_s() -> float:
    """Seconds this host takes, right now, for a fixed piece of work: an
    interpreter loop and two sorts of 16 MB. Time metrics are also reported in
    multiples of it, so a host that runs faster or slower for a while
    (other tenants, CPU frequency) moves both alike."""
    t = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x += i * i
    for _ in range(2):
        np.sort(_REF_ARRAY)
    return time.perf_counter() - t


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> tuple[float, float, int]:
    """Highest percentile of `values` with at least TAIL_BEYOND samples
    above it: (value, percentile, sample count). With TAIL_BEYOND or
    fewer samples no percentile qualifies; the smallest sample is
    returned, and the sample count shows it."""
    ordered = sorted(values)
    n = len(ordered)
    idx = max(0, n - TAIL_BEYOND - 1)
    return ordered[idx], 100.0 * (idx + 1) / n if n else 0.0, n


# --------------------------------------------------------------------------
# Memory: resident set of the Python driver, the JVM and the Python workers


def _rss_kb(pid: int, field: str = "VmRSS") -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages split among their sharers, so
    forked Python workers sum to their real footprint."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _cpu_ticks(pid: int) -> int:
    """utime + stime of `pid` plus its reaped children's, in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(v) for v in fields[11:15])


def tree_cpu_s(jvm_pid: int | None) -> float:
    """CPU seconds used so far by this process, the JVM and the JVM's
    Python workers. Guest CPU time excludes time stolen by the hypervisor,
    so on a shared host this is steadier than wall time."""
    pids = [os.getpid()]
    if jvm_pid is not None:
        pids += [jvm_pid, *_descendants(jvm_pid)]
    return sum(_cpu_ticks(p) for p in pids) / os.sysconf("SC_CLK_TCK")


def _descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def python_workers(jvm_pid: int) -> list[int]:
    """The JVM's Python worker processes. Other children (a helper the JVM
    spawns, or a fork still sharing the JVM's memory before its exec) are
    left out."""
    workers = []
    for pid in _descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().startswith("python"):
                    workers.append(pid)
        except OSError:
            pass
    return workers


class MemorySampler:
    """Peak resident memory of what the program holds while ops run: the
    JVM's resident high-water mark, the sampled peak of its Python
    workers' proportional set size, and how far the driver's resident
    size rose during ops above its size before the cold op. The driver's
    own inputs, its log copy and the DuckDB oracle frames are in that
    starting size, so they stay out of the figure."""

    def __init__(self, jvm_pid: int | None, period: float = 0.2):
        self.period = period
        self.jvm_pid = jvm_pid
        self.in_op = False
        self.driver_base_kb = _rss_kb(os.getpid())
        self.driver_peak_kb = self.driver_base_kb
        self.worker_peak_kb = 0
        self.jvm_peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def sample_driver(self) -> None:
        self.driver_peak_kb = max(self.driver_peak_kb, _rss_kb(os.getpid()))

    def _sample_jvm(self) -> None:
        if self.jvm_pid is None:
            return
        self.jvm_peak_kb = max(self.jvm_peak_kb, _rss_kb(self.jvm_pid, "VmHWM"))
        workers = sum(_pss_kb(p) for p in python_workers(self.jvm_pid))
        self.worker_peak_kb = max(self.worker_peak_kb, workers)

    def _loop(self):
        # only while an op runs, so that the host reference timed between
        # ops does not share the interpreter with the sampler
        while not self._stop.wait(self.period):
            if self.in_op:
                self.sample_driver()
                self._sample_jvm()

    def stop(self) -> dict[str, float]:
        """Stop sampling while the JVM still runs; returns the peaks in MB,
        `total` included."""
        self._stop.set()
        self._thread.join()
        self._sample_jvm()
        peaks = {
            "driver_growth": (self.driver_peak_kb - self.driver_base_kb) / 1024.0,
            "jvm": self.jvm_peak_kb / 1024.0,
            "workers": self.worker_peak_kb / 1024.0,
        }
        peaks["total"] = sum(peaks.values())
        peaks["driver_base"] = self.driver_base_kb / 1024.0
        return peaks


# --------------------------------------------------------------------------


class Context:
    """What a workload sees: the session, its data, DuckDB and the tracer."""

    def __init__(self, work: str, seed: int, tracer: tracing.Tracer, duck):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.duck = duck
        self.spark = None
        self.data_dir = ""
        self.event_dir = os.path.join(work, "eventlog")

    def action(self, op: str, layer: str):
        """Span + Spark job group for one action of `op` in `layer`."""
        self.spark.sparkContext.setJobGroup(f"{op}/{layer}", layer)
        return self.tracer.span(f"action:{layer}", op)

    def spark_conf(self) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.tracer.enabled:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + self.event_dir,
            })
        return conf


def _jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def time_jvm_launches() -> list[float]:
    """Seconds of every JVM launch pyspark makes from now on, in order."""
    import pyspark.context

    launches: list[float] = []
    original = pyspark.context.launch_gateway

    def launch_gateway(*args, **kwargs):
        t = time.time()
        try:
            return original(*args, **kwargs)
        finally:
            launches.append(time.time() - t)

    pyspark.context.launch_gateway = launch_gateway
    return launches


def stop_spark(ctx: Context, final: bool) -> None:
    """Stop the session; on the final stop also end the JVM and wait."""
    if ctx.spark is None:
        return
    from pyspark import SparkContext

    proc = _jvm_proc()
    ctx.spark.stop()
    ctx.spark = None
    if not final:
        return
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a hung JVM is killed, not waited on
            proc.kill()
            proc.wait()


def storage_status(spark) -> tuple[int, int]:
    """(persisted RDDs with cached partitions, their memory+disk bytes)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    frames = 0
    size = 0
    for info in infos:
        if info.numCachedPartitions() > 0:
            frames += 1
            size += info.memSize() + info.diskSize()
    return frames, size


def run(workload, ctx: Context, seconds: float, process_start: float) -> dict:
    """Set up, run the cold op and the warm loop; return the run record."""
    from trino_adaptive_partitioning_tool_spark.session import get_spark
    from trino_adaptive_partitioning_tool_spark.sources import tables

    tracer = ctx.tracer
    tracer.count_py4j()
    launches = time_jvm_launches()
    cpu_start = cpu_times()
    # Only the first set-up starts a JVM; the others restart the
    # SparkContext on it. Interpreter start, imports and the JVM launch are
    # paid once per process, so they are measured once and counted in
    # every set-up: each is then the time a fresh process takes to its
    # first op.
    imports = time.time() - process_start
    setups, session_starts, twin_builds = [], [], []
    for rep in range(SETUP_REPS):
        if rep:
            stop_spark(ctx, final=False)
        t0 = process_start if rep == 0 else time.time()
        once = 0.0 if rep == 0 else imports + launches[0]
        with tracer.span("setup", f"setup{rep}"):
            ctx.data_dir = os.path.join(ctx.work, f"data{rep}")
            with tracer.span("inputs.generate", f"setup{rep}"):
                workload.generate(ctx)
            t = time.time()
            with tracer.span("session.start", f"setup{rep}"):
                ctx.spark = get_spark(
                    app_name=f"perfbench-{workload.name}", extra_conf=ctx.spark_conf()
                )
            session_starts.append(time.time() - t + (launches[0] if rep else 0.0))
            t = time.time()
            with tracer.span("sources.tables.twin_build", f"setup{rep}"):
                tables.split_layout_dir(ctx.data_dir)
            twin_builds.append(time.time() - t)
            with tracer.span("inputs.persist", f"setup{rep}"):
                workload.persist(ctx, f"setup{rep}")
        setups.append(once + time.time() - t0)

    workload.prepare_checks(ctx)
    refs = [host_ref_s()]
    proc = _jvm_proc()
    sampler = MemorySampler(proc.pid if proc is not None else None)

    ops: list[dict] = []
    failures: list[str] = []
    warm_start = None
    i = 0
    while True:
        op = f"op{i}"
        traced = tracer.enabled and (i == 0 or i % 2 == 1)
        was = tracer.enabled
        tracer.enabled = traced
        refs.append(host_ref_s())
        ctx.spark.sparkContext.setJobGroup(f"{op}/driver", "driver")
        cpu0 = tree_cpu_s(sampler.jvm_pid)
        t = time.perf_counter()
        sampler.in_op = True
        try:
            with tracer.span("op", op) as span:
                out = workload.op(ctx, op)
            wall = time.perf_counter() - t
            error = None
        except Exception:  # noqa: BLE001 - a raising op is a failed op
            wall = time.perf_counter() - t
            out, error = None, traceback.format_exc(limit=4)
        cpu = tree_cpu_s(sampler.jvm_pid) - cpu0
        sampler.in_op = False
        sampler.sample_driver()
        tracer.enabled = was
        if error is None:
            try:
                problems = workload.check(ctx, op, out)
            except Exception:  # noqa: BLE001 - a raising check fails the op
                problems = [traceback.format_exc(limit=4)]
        else:
            problems = [error]
        ops.append({
            "op": op, "wall_s": wall, "cpu_s": cpu, "traced": traced, "ok": not problems,
            "span": span["id"] if traced and span else None,
        })
        failures.extend(f"{op}: {p}" for p in problems)
        i += 1
        if warm_start is None:
            warm_start = time.perf_counter()
            cpu_warm = cpu_times()
            continue
        # start another warm op only if it should end inside the window
        elapsed = time.perf_counter() - warm_start
        if elapsed + wall > seconds and len(ops) - 1 >= MIN_WARM_OPS:
            break

    cpu_end = cpu_times()
    memo = storage_status(ctx.spark)
    peak_mb = sampler.stop()
    stop_spark(ctx, final=True)

    record = {
        "ops": ops,
        "failures": failures,
        "notes": workload.notes,
        "setup_reps_s": setups,
        "setup_imports_s": imports,
        "jvm_launch_s": launches,
        "session_start_s": session_starts,
        "twin_build_s": twin_builds,
        "memo": {"persisted_frames": memo[0], "persisted_bytes": memo[1]},
        "peak_rss_parts_mb": peak_mb,
        "host_ref_s": refs,
        "cpu_steal_share": {
            "run": steal_share(cpu_start, cpu_end),
            "warm": steal_share(cpu_warm, cpu_end),
        },
    }
    if tracer.enabled:
        record["layers"] = layer_metrics(workload, ctx, record)
    warm_walls = [o["wall_s"] for o in ops[1:]]
    tail_v, tail_p, tail_n = tail(warm_walls)
    failed = sum(1 for o in ops if not o["ok"])
    e2e = {
        "setup_s": median(setups),
        "cold_pass_s": ops[0]["wall_s"],
        "cold_cpu_s": ops[0]["cpu_s"],
        "op_p50_s": median(warm_walls),
        "op_cpu_s": median([o["cpu_s"] for o in ops[1:]]),
        "op_tail_s": tail_v,
        "rows_per_s": workload.rows_per_op * len(warm_walls) / sum(warm_walls),
        "failed_op_ratio": failed / len(ops),
        "peak_rss_mb": peak_mb["total"],
    }
    ref = median(refs)
    for name in ("cold_pass_s", "cold_cpu_s", "op_p50_s", "op_cpu_s"):
        e2e[name[:-2] + "_ref"] = e2e[name] / ref
    record.update({
        "attempted": len(ops),
        "failed": failed,
        "end_to_end": e2e,
        "op_tail": {"percentile": tail_p, "samples": tail_n},
    })
    return record


# --------------------------------------------------------------------------
# Per-layer metrics of the traced run


def _op_layers(workload, ctx: Context, folded: dict, op: dict) -> dict:
    tracer = ctx.tracer
    span = tracer.spans[op["span"]]
    name = op["op"]
    g = tracing.group_metrics(folded, lambda grp: grp.startswith(name + "/"))
    actions = [s for s in tracer.spans if s["op"] == name and s["name"].startswith("action:")]
    first_action = min((s["start"] for s in actions), default=span["end"])
    collect = sum(
        (s["end"] - s["start"]) - tracing.overlap_seconds(s["start"], s["end"], g["job_intervals"])
        for s in actions
    )
    out = {
        "spark.job_s": g["job_s"],
        "spark.executor_run_s": g["run_ms"] / 1000.0,
        "spark.executor_cpu_s": g["cpu_ns"] / 1e9,
        "spark.gc_s": g["gc_ms"] / 1000.0,
        "spark.shuffle_read_bytes": g["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": g["shuffle_write_bytes"],
        "spark.spill_bytes": g["spill_bytes"],
        "spark.tasks": g["tasks"],
        "spark.failed_tasks": g["failed_tasks"],
        "sources.tables.scan_tasks": g["scan_tasks"],
        "sources.tables.scan_bytes": g["scan_bytes"],
        "sources.tables.scan_run_s": g["scan_run_ms"] / 1000.0,
        "driver.build_s": first_action - span["start"],
        "driver.collect_s": collect,
        "op.wall_s": op["wall_s"],
    }
    out.update(workload.op_layers(ctx, folded, name, span))
    return out


def layer_metrics(workload, ctx: Context, record: dict) -> dict:
    folded = tracing.fold_event_logs(ctx.event_dir)
    traced = [o for o in record["ops"] if o["traced"]]
    per_op = {o["op"]: _op_layers(workload, ctx, folded, o) for o in traced}
    cold = per_op.get("op0", {})
    warm = [per_op[o["op"]] for o in traced if o["op"] != "op0"]
    keys = sorted({k for d in per_op.values() for k in d})
    layers = {}
    for k in keys:
        if k in workload.cold_layers:
            layers[k] = cold.get(k, 0.0)
        else:
            layers[k] = median([d.get(k, 0.0) for d in warm])
    layers.update(workload.run_layers(ctx, folded))
    layers["session.start_s"] = median(record["session_start_s"])
    layers["sources.tables.twin_build_s"] = median(record["twin_build_s"])
    layers["memo.persisted_frames"] = record["memo"]["persisted_frames"]
    layers["memo.persisted_bytes"] = record["memo"]["persisted_bytes"]
    untraced = [o["wall_s"] for o in record["ops"][1:] if not o["traced"]]
    traced_warm = [o["wall_s"] for o in traced if o["op"] != "op0"]
    layers["trace.overhead_ratio"] = (
        median(traced_warm) / median(untraced) - 1.0 if untraced and traced_warm else 0.0
    )
    by_name = {o["op"]: o for o in record["ops"]}
    for op, problem in workload.trace_guards(ctx, folded, per_op):
        by_name[op]["ok"] = False
        record["failures"].append(f"{op}: trace guard: {problem}")
    record["per_op_layers"] = per_op
    return layers

