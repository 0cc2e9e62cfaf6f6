"""The benchmark's workloads.

Each workload generates its inputs from the seed, persists them in
set-up, runs one op per call of `op`, and checks every op's output
outside the timed region. `op_layers` adds the workload's own per-layer
numbers to the generic Spark/driver ones the harness folds.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import querylog
import tracing

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)


def _canon_val(v):
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        return v.isoformat()
    if isinstance(v, dt.date):
        return dt.datetime(v.year, v.month, v.day).isoformat()
    return str(v)


def canon_hash(pdf: pd.DataFrame) -> tuple[str, int]:
    """Order-free value hash of a result: columns sorted by name, rows
    sorted as strings, floats widened to float64 first (the compare of
    `scripts/driver_sim.py`, with its DATE/TIMESTAMP normalisation)."""
    pdf = pdf.copy()
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("float"):
            pdf[c] = pdf[c].astype("float64")
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = sorted(tuple(_canon_val(v) for v in row) for row in pdf.itertuples(index=False))
    return hashlib.md5(json.dumps(rows).encode()).hexdigest(), len(pdf)


def _decimals(v: float) -> int:
    text = repr(float(v))
    return len(text.split(".")[1]) if "." in text and "e" not in text else 0


def rounding_equal(got: pd.DataFrame, want: pd.DataFrame) -> int | None:
    """Fallback compare after a hash mismatch. Rows must match exactly,
    except that a float cell may differ by one unit in its last printed
    decimal: on a half-way value Spark's ROUND(double) rounds the
    shortest decimal repr and DuckDB's rounds the binary value, so the
    engines land one unit apart. Returns how many cells differed that
    way, or None when the results really differ."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return None
    cols = sorted(got.columns)
    floats = [c for c in cols if "float" in str(got[c].dtype) + str(want[c].dtype)]
    keys = [c for c in cols if c not in floats]

    def rows(df):
        out = [
            (tuple(_canon_val(v) for v in r[: len(keys)]), r[len(keys):])
            for r in df[keys + floats].itertuples(index=False, name=None)
        ]
        return sorted(out, key=lambda t: (t[0], [str(x) for x in t[1]]))

    near = 0
    for (ka, fa), (kb, fb) in zip(rows(got), rows(want)):
        if ka != kb:
            return None
        for a, b in zip(fa, fb):
            if a == b or (pd.isna(a) and pd.isna(b)):
                continue
            unit = 10.0 ** -max(_decimals(a), _decimals(b))
            if abs(float(a) - float(b)) > unit * 1.000001:
                return None
            near += 1
    return near


def oracle_problem(name: str, got: pd.DataFrame, want, notes: list) -> str | None:
    """Compare a result with its oracle (hash, DuckDB frame); None if equal."""
    got_hash = canon_hash(got)
    if got_hash == want[0]:
        return None
    near = rounding_equal(got, want[1])
    if near is None:
        return f"{name}: {got_hash[1]} rows, hash differs from the DuckDB oracle"
    notes.append(f"{name}: {near} cell(s) one unit apart in the last rounded decimal")
    return None


def duck_views(ctx) -> None:
    for t in TABLE_NAMES:
        path = os.path.join(ctx.data_dir, f"{t}.parquet")
        ctx.duck.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{path}'")


# Query-log columns as written to parquet; create_time is UTC-adjusted so
# Spark reads it as TIMESTAMP without any session-timezone relabel.
LOG_ARROW_TYPES = (
    pa.string(), pa.string(), pa.timestamp("us", tz="UTC"), pa.int64(),
    pa.int64(), pa.int64(), pa.int64(), pa.int64(), pa.int64(),
)


def _close(a: float, b: float, rel: float = 1e-9) -> bool:
    return abs(a - b) <= rel * max(1.0, abs(a), abs(b))


class Workload:
    name = ""
    sf = 0.01
    rows_per_op = 0
    cold_layers: frozenset[str] = frozenset()

    def __init__(self):
        self.notes: list[str] = []

    def generate(self, ctx) -> None:
        self.table_rows = datagen.write_tables(ctx.data_dir, self.sf, ctx.seed)

    def persist(self, ctx, label: str) -> None:
        pass

    def prepare_checks(self, ctx) -> None:
        duck_views(ctx)

    def op(self, ctx, op: str):
        raise NotImplementedError

    def check(self, ctx, op: str, out) -> list[str]:
        return []

    def op_layers(self, ctx, folded: dict, op: str, span: dict) -> dict:
        return {}

    def run_layers(self, ctx, folded: dict) -> dict:
        return {}

    def trace_guards(self, ctx, folded: dict, per_op: dict) -> list[tuple[str, str]]:
        return []


def _span_sum(ctx, op: str, prefix: str) -> float:
    """Seconds spent in the spans of `op` whose name starts with `prefix`."""
    return sum(
        s["end"] - s["start"] for s in ctx.tracer.spans
        if s["op"] == op and s["name"].startswith(prefix)
    )


# --------------------------------------------------------------------------
# advisor_refresh: the paper's core loop over a seeded query log


class AdvisorRefresh(Workload):
    """`recommend.run_analysis` over a sliding window of a seeded query log,
    then the CLI's collects and `results_io.save_analysis_results`."""

    name = "advisor_refresh"
    sf = 0.01
    # 30,000 statements per op: enough that mining is the largest share of
    # a traced warm op, ahead of the scoring collects and the result writes
    log_statements = 40_000
    window_days = 21
    cold_layers = frozenset({"operators.stats.agg_run_s", "operators.stats.columns"})

    def generate(self, ctx) -> None:
        super().generate(ctx)
        from trino_adaptive_partitioning_tool_spark.sources import fixtures

        self.log_rows, self.planted = querylog.generate(self.log_statements, ctx.seed)
        cols = list(zip(*self.log_rows))
        table = pa.table(
            [pa.array(c, t) for c, t in zip(cols, LOG_ARROW_TYPES)],
            names=list(fixtures.QUERY_LOG_COLUMNS),
        )
        self.log_path = os.path.join(ctx.data_dir, "query_log.parquet")
        pq.write_table(table, self.log_path)
        rng = np.random.default_rng([ctx.seed, 11])
        self.window_offsets = [
            int(d) for d in rng.permutation(querylog.LOG_DAYS - self.window_days + 1)
        ]

    def persist(self, ctx, label: str) -> None:
        from pyspark.sql import functions as F
        from trino_adaptive_partitioning_tool_spark.sources import fixtures

        spark = ctx.spark
        raw = spark.read.parquet(self.log_path)
        self.logs = raw.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name)
              for f in fixtures.QUERY_LOG_SCHEMA.fields]
        ).persist()
        spark.sparkContext.setJobGroup(f"{label}/inputs", "inputs")
        self.logs.count()
        self.out_dir = os.path.join(ctx.work, "results")

    def _window(self, op: str) -> tuple[dt.datetime, dt.datetime]:
        idx = int(op[2:]) % len(self.window_offsets)
        start = querylog.LOG_START + dt.timedelta(days=self.window_offsets[idx])
        return start, start + dt.timedelta(days=self.window_days)

    def prepare_checks(self, ctx) -> None:
        from pyspark.sql import functions as F
        from trino_adaptive_partitioning_tool_spark.sources import fixtures

        self.rows_per_op = self.log_statements * self.window_days // querylog.LOG_DAYS
        self.n_views = (
            fixtures.catalog_views_df(ctx.spark)
            .where(F.col("table_type") == "MATERIALIZED VIEW")
            .count()
        )
        self.seen: dict[str, dict] = {}

    def op(self, ctx, op: str):
        from pyspark.sql import functions as F
        from trino_adaptive_partitioning_tool_spark.operators import recommend
        from trino_adaptive_partitioning_tool_spark.sources import results_io

        start, end = self._window(op)
        tr = ctx.tracer
        with tr.span("operators.recommend.build", op):
            res = recommend.run_analysis(
                ctx.spark,
                ctx.data_dir,
                logs_df=self.logs,
                time_filter=(F.col("create_time") >= F.lit(start))
                & (F.col("create_time") < F.lit(end)),
            )
        with ctx.action(op, "operators.mining"):
            mined_rows = res["mined_logs"].count()
        with ctx.action(op, "operators.stats"):
            columns = res["profiles"].count()
        with ctx.action(op, "operators.recommend.action"):
            top = (
                res["resource_scores"]
                .orderBy(F.col("resource_score").desc(), "query_id")
                .select("query_id", F.round("resource_score", 2).alias("score"))
                .limit(5)
                .collect()
            )
            recs = res["recommendations"].collect()
        with ctx.action(op, "sources.results_io.write"):
            paths = results_io.save_analysis_results(res, out_dir=self.out_dir)
        return {
            "res": res, "top": top, "recs": recs, "paths": paths,
            "mined_rows": mined_rows, "columns": columns, "window": (start, end),
        }

    def check(self, ctx, op: str, out) -> list[str]:
        from pyspark.sql import functions as F
        from trino_adaptive_partitioning_tool_spark.operators import transforms

        problems = []
        start, end = out["window"]
        mined = out["res"]["mined_logs"]
        ctx.spark.sparkContext.setJobGroup(f"check/{op}", "check")
        got = Counter({
            (r["kind"], r["name"]): r["n"]
            for r in mined.groupBy("kind", "name").agg(F.sum("cnt").alias("n")).collect()
        })
        want = querylog.planted_totals(self.log_rows, self.planted, start, end)
        if got != want:
            diff = (got - want) + (want - got)
            problems.append(f"mined totals differ from planted: {dict(diff)}")
        parsed_ids = mined.select("query_id").distinct().count()
        in_window = [
            (row, plant) for row, plant in zip(self.log_rows, self.planted)
            if start <= row[2] < end
        ]
        want_parsed = sum(1 for _, plant in in_window if plant)
        if parsed_ids != want_parsed:
            problems.append(f"{parsed_ids} statements mined, {want_parsed} parseable")
        self.seen[op] = {
            "parsed": parsed_ids, "statements": len(in_window),
            "mined_rows": out["mined_rows"], "columns": out["columns"],
        }
        want_top = _top_resource([row for row, _ in in_window])
        got_top = [r["query_id"] for r in out["top"]]
        if got_top != want_top:
            problems.append(f"top resource queries {got_top} != {want_top}")
        if len(out["recs"]) != self.n_views:
            problems.append(f"{len(out['recs'])} recommendations for {self.n_views} views")
        if not any(r["transforms"] for r in out["recs"]):
            problems.append("no view got a partition transform")
        for r in out["recs"]:
            bad = [t for t in r["transforms"] if transforms.transform_to_partition_column(t) is None]
            if bad or not r["script"]:
                problems.append(f"bad recommendation for {r['view']}: {bad}")
        for key, path in out["paths"].items():
            if not any(f.startswith("part-") for f in os.listdir(path)):
                problems.append(f"results_io wrote no part file for {key}")
        if out["mined_rows"] <= 0 or out["columns"] <= 0:
            problems.append("empty mined log or profile")
        return problems

    def op_layers(self, ctx, folded, op, span) -> dict:
        g = tracing.group_metrics(folded, lambda grp: grp == f"{op}/operators.mining")
        stats = tracing.group_metrics(folded, lambda grp: grp == f"{op}/operators.stats")
        build = [s for s in ctx.tracer.spans if s["op"] == op and s["name"] == "operators.recommend.build"]
        seen = self.seen.get(op, {})
        statements = seen.get("statements", 0)
        return {
            "operators.mining.python_s": g["python_run_ms"] / 1000.0,
            "operators.mining.statements": statements,
            "operators.mining.mined_rows": seen.get("mined_rows", 0),
            "operators.mining.parsed_ratio": (
                seen["parsed"] / statements if statements else 0.0
            ),
            "operators.stats.agg_run_s": stats["run_ms"] / 1000.0,
            "operators.stats.columns": seen.get("columns", 0),
            "operators.recommend.build_s": sum(s["end"] - s["start"] for s in build),
            "operators.recommend.py4j_calls": sum(s["py4j"] for s in build),
            "operators.recommend.action_s": _span_sum(ctx, op, "action:operators.recommend.action"),
            "sources.results_io.write_s": _span_sum(ctx, op, "action:sources.results_io.write"),
        }


def _top_resource(rows: list[tuple]) -> list[str]:
    """Top-5 query ids by the advisor's resource score, recomputed here:
    exec/max*40 + cpu/max*30 + input/max*15 + mem/max*15, NULL -> 0."""
    weights = ((3, 40.0), (4, 30.0), (6, 15.0), (7, 15.0))
    maxes = {i: max((r[i] for r in rows if r[i] is not None), default=0) for i, _ in weights}
    scored = []
    for r in rows:
        score = sum(
            r[i] / maxes[i] * w for i, w in weights if r[i] is not None and maxes[i] > 0
        )
        scored.append((-score, r[0]))
    return [qid for _, qid in sorted(scored)[:5]]


def run_registry_calls(ctx, op: str, calls: dict[str, str], queries, previous: dict):
    """Build and collect each registered query of `calls` ({name: module}).
    Returns the frames and how many builders handed back the DataFrame
    object of their previous call (a memoised plan)."""
    out, reused = {}, 0
    for name, module in calls.items():
        with ctx.tracer.span(f"call:{name}", op):
            with ctx.tracer.span("queries.registry.build", op):
                df = queries[name](ctx.spark, ctx.data_dir)
            reused += df is previous.get(name)
            previous[name] = df
            with ctx.action(op, f"queries.{module}:{name}"):
                out[name] = df.toPandas()
    return out, reused


def registry_layers(ctx, op: str, calls: dict[str, str], reused: int) -> dict:
    """Registry build time, its Py4J calls, plan reuse, and seconds per
    query module over the `call:<name>` spans of `op`."""
    spans = [s for s in ctx.tracer.spans if s["op"] == op]
    build = [s for s in spans if s["name"] == "queries.registry.build"]
    out = {
        "queries.registry.build_s": sum(s["end"] - s["start"] for s in build),
        "queries.registry.py4j_calls": sum(s["py4j"] for s in build),
        "queries.registry.plan_reuse_ratio": reused / len(calls),
    }
    for module in set(calls.values()):
        out[f"queries.{module}.op_s"] = 0.0
    for s in spans:
        module = calls.get(s["name"].removeprefix("call:"))
        if s["name"].startswith("call:") and module:
            out[f"queries.{module}.op_s"] += s["end"] - s["start"]
    return out


# --------------------------------------------------------------------------
# layout_write: the advisor's --execute path

LAYOUTS = (
    ("events", "day(ts)", "CAST(CAST(ts AS DATE) AS VARCHAR)"),
    ("lineitem", "month(l_shipdate)", "strftime(l_shipdate, '%Y-%m')"),
    ("orders", "year(o_orderdate)", "CAST(year(o_orderdate) AS VARCHAR)"),
)


def write_layouts(ctx, op: str, dest: str, layouts=LAYOUTS) -> dict[str, str]:
    """`transforms.apply_recommendation` of each `layouts` entry into `dest`."""
    from trino_adaptive_partitioning_tool_spark.operators import transforms
    from trino_adaptive_partitioning_tool_spark.sources import tables

    paths = {}
    for table, transform, _ in layouts:
        path = os.path.join(dest, table)
        src = tables.load_table(ctx.spark, ctx.data_dir, table)
        with ctx.action(op, "operators.transforms.apply"):
            transforms.apply_recommendation(src, path, [transform])
        paths[table] = path
    return paths


def layout_census(path: str) -> tuple[dict[str, int], int, int]:
    """({partition value: rows}, files, bytes) of a written layout, read
    from the parquet footers of its part files."""
    counts: Counter = Counter()
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for fn in names:
            if not fn.endswith(".parquet"):
                continue
            full = os.path.join(root, fn)
            value = os.path.basename(root).partition("=")[2]
            counts[value] += pq.ParquetFile(full).metadata.num_rows
            files += 1
            size += os.path.getsize(full)
    return dict(counts), files, size


def expected_partitions(ctx, table: str, key_sql: str) -> dict[str, int]:
    rows = ctx.duck.execute(
        f"SELECT {key_sql} AS k, count(*) FROM {table} GROUP BY 1"
    ).fetchall()
    return {k: n for k, n in rows}


class LayoutWrite(Workload):
    """Partitioned rewrites of events, lineitem and orders per op."""

    name = "layout_write"
    sf = 0.1

    def persist(self, ctx, label: str) -> None:
        self.dest_root = os.path.join(ctx.work, "layouts")

    def prepare_checks(self, ctx) -> None:
        super().prepare_checks(ctx)
        self.expected = {
            table: expected_partitions(ctx, table, key_sql) for table, _, key_sql in LAYOUTS
        }
        self.source_bytes = sum(
            os.path.getsize(os.path.join(ctx.data_dir, f"{t}.parquet")) for t, _, _ in LAYOUTS
        )
        self.rows_per_op = sum(self.table_rows[t] for t, _, _ in LAYOUTS)
        self.seen: dict[str, dict] = {}

    def op(self, ctx, op: str):
        return write_layouts(ctx, op, os.path.join(self.dest_root, op))

    def check(self, ctx, op: str, out) -> list[str]:
        problems = []
        files = size = 0
        for table, path in out.items():
            counts, n_files, n_bytes = layout_census(path)
            files += n_files
            size += n_bytes
            if counts != self.expected[table]:
                problems.append(f"{table}: partition counts differ from the source")
        self.seen[op] = {"files": files, "bytes": size}
        shutil.rmtree(os.path.join(self.dest_root, op), ignore_errors=True)
        return problems

    def op_layers(self, ctx, folded, op, span) -> dict:
        seen = self.seen.get(op, {})
        return {
            "operators.transforms.apply_s": _span_sum(ctx, op, "action:operators.transforms.apply"),
            "operators.transforms.files_written": seen.get("files", 0),
            "operators.transforms.write_amplification": (
                seen.get("bytes", 0) / self.source_bytes
            ),
        }


# --------------------------------------------------------------------------
# scan_profile: scans, shuffles and aggregates with a fresh plan per call

PROFILE_TABLES = ("orders",)
PROBE_LAYOUTS = tuple(entry for entry in LAYOUTS if entry[0] == "events")
REGISTRY_CALLS = {
    "large_volume_customers": "relational_ext",
    "distribution_stats": "core_sql",
    "event_funnel_conversion": "timeseries",
}
SHARED_SQL = {"window_functions_suite": "core_sql2"}


# every call of a pass and the job-group layer its action runs under
SCAN_CALLS = {
    "profile_tables": "operators.stats",
    **{n: f"queries.{m}:{n}" for n, m in {**REGISTRY_CALLS, **SHARED_SQL}.items()},
    **{f"probe_{t}": f"operators.transforms.probe:{t}" for t, _, _ in PROBE_LAYOUTS},
}


class ScanProfile(Workload):
    """One op is one pass over: an exact profile of freshly loaded orders,
    the non-memoised relational registry queries, the shared-SQL oracle
    text through `spark.sql`, and a partition-pruned probe of the events
    layout written in set-up."""

    name = "scan_profile"
    sf = 0.01

    def persist(self, ctx, label: str) -> None:
        self.layouts = write_layouts(
            ctx, label, os.path.join(ctx.data_dir, "layouts"), PROBE_LAYOUTS
        )

    def prepare_checks(self, ctx) -> None:
        from trino_adaptive_partitioning_tool_spark.queries import registry

        super().prepare_checks(ctx)
        self.queries = registry.queries()
        self.oracles = registry.oracle_sql()
        self.want = {}
        for name in (*REGISTRY_CALLS, *SHARED_SQL):
            frame = ctx.duck.execute(self.oracles[name]).df()
            self.want[name] = (canon_hash(frame), frame)
        self.want_profile = _duck_profile(ctx, PROFILE_TABLES)
        rng = np.random.default_rng([ctx.seed, 29])
        self.probes = []
        for table, _, key_sql in PROBE_LAYOUTS:
            values = sorted(expected_partitions(ctx, table, key_sql))
            value = values[int(rng.integers(0, len(values)))]
            measure = {"events": "value", "lineitem": "l_extendedprice",
                       "orders": "o_totalprice"}[table]
            n, total = ctx.duck.execute(
                f"SELECT count(*), sum({measure}) FROM {table} WHERE {key_sql} = '{value}'"
            ).fetchone()
            pcol = os.listdir(self.layouts[table])
            pcol = next(d for d in pcol if "=" in d).partition("=")[0]
            total_parts = sum(1 for d in os.listdir(self.layouts[table]) if "=" in d)
            self.probes.append((table, pcol, value, measure, n, total, total_parts))
        self.rows_per_op = (
            sum(self.table_rows[t] for t in PROFILE_TABLES)
            + self.table_rows["lineitem"] + self.table_rows["orders"]
            + self.table_rows["customer"]  # large_volume_customers
            + self.table_rows["orders"]  # distribution_stats
            + self.table_rows["events"]  # funnel
            + self.table_rows["orders"]  # window suite
            + sum(p[4] for p in self.probes)
        )
        self.previous: dict = {}
        self.reused: dict[str, int] = {}

    def op(self, ctx, op: str):
        from pyspark.sql import functions as F
        from trino_adaptive_partitioning_tool_spark.operators import stats
        from trino_adaptive_partitioning_tool_spark.sources import tables

        spark, tr = ctx.spark, ctx.tracer
        out = {}
        with tr.span("call:profile_tables", op):
            with tr.span("operators.stats.build", op):
                prof = stats.profile_tables(
                    {t: tables.load_table(spark, ctx.data_dir, t) for t in PROFILE_TABLES},
                    exact=True, percentiles=True,
                )
            with ctx.action(op, "operators.stats"):
                out["profile"] = prof.toPandas()
        frames, self.reused[op] = run_registry_calls(
            ctx, op, REGISTRY_CALLS, self.queries, self.previous
        )
        out.update(frames)
        for name, module in SHARED_SQL.items():
            with tr.span(f"call:{name}", op):
                with tr.span("spark.sql.build", op):
                    tables.register_tables(spark, ctx.data_dir)
                    df = spark.sql(self.oracles[name])
                with ctx.action(op, f"queries.{module}:{name}"):
                    out[name] = df.toPandas()
        for table, pcol, value, measure, *_ in self.probes:
            with tr.span(f"call:probe_{table}", op):
                df = (
                    spark.read.parquet(self.layouts[table])
                    .where(F.col(pcol).cast("string") == value)
                    .agg(F.count(F.lit(1)).alias("n"), F.sum(measure).alias("total"))
                )
                with ctx.action(op, f"operators.transforms.probe:{table}"):
                    out[f"probe_{table}"] = df.collect()[0]
        return out

    def check(self, ctx, op: str, out) -> list[str]:
        problems = []
        for name in (*REGISTRY_CALLS, *SHARED_SQL):
            problem = oracle_problem(name, out[name], self.want[name], self.notes)
            if problem:
                problems.append(problem)
        problems += _compare_profile(out["profile"], self.want_profile)
        for table, _pcol, value, _m, n, total, _parts in self.probes:
            row = out[f"probe_{table}"]
            if row["n"] != n or not _close(float(row["total"]), float(total)):
                problems.append(f"probe {table}={value}: {tuple(row)} != {(n, total)}")
        return problems

    def op_layers(self, ctx, folded, op, span) -> dict:
        st = tracing.group_metrics(folded, lambda g: g == f"{op}/operators.stats")
        out = {
            "operators.stats.agg_run_s": st["run_ms"] / 1000.0,
            "operators.stats.columns": len(self.want_profile),
        }
        out.update(registry_layers(ctx, op, REGISTRY_CALLS, self.reused.get(op, 0)))
        for name, module in SHARED_SQL.items():
            key = f"queries.{module}.op_s"
            out[key] = out.get(key, 0.0) + _span_sum(ctx, op, f"call:{name}")
        probes = tracing.group_metrics(
            folded, lambda g: g.startswith(f"{op}/operators.transforms.probe:")
        )
        total_parts = sum(p[6] for p in self.probes)
        out["operators.transforms.scanned_partition_ratio"] = (
            probes["partitions_read"] / total_parts
        )
        return out

    def run_layers(self, ctx, folded) -> dict:
        """The layouts the probes read were written in set-up; report that
        write (the last set-up repetition's) as the transforms layer."""
        last = max(s["op"] for s in ctx.tracer.spans if s["op"].startswith("setup"))
        files = size = 0
        for path in self.layouts.values():
            _, n_files, n_bytes = layout_census(path)
            files += n_files
            size += n_bytes
        source = sum(
            os.path.getsize(os.path.join(ctx.data_dir, f"{t}.parquet"))
            for t, _, _ in PROBE_LAYOUTS
        )
        return {
            "operators.transforms.apply_s": _span_sum(ctx, last, "action:operators.transforms.apply"),
            "operators.transforms.files_written": files,
            "operators.transforms.write_amplification": size / source,
        }

    def trace_guards(self, ctx, folded, per_op) -> list[tuple[str, str]]:
        problems = []
        for op in per_op:
            for call, layer in SCAN_CALLS.items():
                g = tracing.group_metrics(folded, lambda grp: grp == f"{op}/{layer}")
                if g["scan_tasks"] <= 0:
                    problems.append((op, f"{call} launched no scan stage"))
        return problems


def _duck_profile(ctx, table_names) -> dict[tuple[str, str], dict]:
    """Exact per-column profile of each table, computed by DuckDB."""
    from trino_adaptive_partitioning_tool_spark.operators import stats

    want = {}
    for table in table_names:
        cols = ctx.duck.execute(f"DESCRIBE {table}").fetchall()
        for name, dtype, *_ in cols:
            dtype = dtype.upper()
            numeric = dtype in ("INTEGER", "BIGINT", "DOUBLE", "FLOAT")
            temporal = dtype.startswith("TIMESTAMP") or dtype == "DATE"
            if not (numeric or temporal or dtype == "VARCHAR"):
                continue
            exprs = [f"count(*)", f"count({name})", f"count(DISTINCT {name})"]
            if numeric:
                exprs += [f"min({name})::DOUBLE", f"max({name})::DOUBLE"]
                exprs += [f"quantile_cont({name}, {p})" for p in stats.PERCENTILE_POINTS]
            if temporal:
                exprs += [
                    f"count(DISTINCT CAST({name} AS DATE))",
                    f"count(DISTINCT date_trunc('month', {name}))",
                    f"count(DISTINCT year({name}))",
                ]
            row = ctx.duck.execute(f"SELECT {', '.join(exprs)} FROM {table}").fetchone()
            rec = {"total_count": row[0], "non_null_count": row[1], "distinct_count": row[2]}
            if numeric:
                rec.update(min_value=row[3], max_value=row[4], p10=row[5], p50=row[6], p90=row[7])
            if temporal:
                rec.update(day_count=row[3], month_count=row[4], year_count=row[5])
            want[(table, name)] = rec
    return want


def _compare_profile(got: pd.DataFrame, want: dict) -> list[str]:
    problems = []
    seen = set()
    for rec in got.to_dict("records"):
        key = (rec["table"], rec["column"])
        seen.add(key)
        exp = want.get(key)
        if exp is None:
            problems.append(f"profile has unexpected column {key}")
            continue
        for field, value in exp.items():
            have = rec[field]
            if isinstance(value, float):
                if have is None or not _close(float(have), value):
                    problems.append(f"profile {key}.{field}: {have} != {value}")
            elif have != value:
                problems.append(f"profile {key}.{field}: {have} != {value}")
    missing = set(want) - seen
    if missing:
        problems.append(f"profile misses columns {sorted(missing)}")
    return problems


# --------------------------------------------------------------------------
# corpus_pipeline: the LLM-data-pipeline operators

CORPUS_CALLS = {
    "corpus_filter_funnel": "funnel",
    "crawl_to_corpus_pipeline": "crawl",
    "dedup_minhash_lsh": "dedup",
    "similarity_lsh_topk": "similarity",
    "embedding_kmeans_assign": "clustering",
    "semdedup_keep_canonical": "clustering",
    "bm25_search_topk": "text",
    "text_quality_scores": "text",
    "decontamination_ngram_overlap": "text",
    "pagerank_transaction_graph": "dedup",
    "media_to_corpus_pipeline": "multimodal",
    "jsonl_ingest_stats": "crawl",
}


class CorpusPipeline(Workload):
    """One op is one pass over twelve registered corpus queries."""

    name = "corpus_pipeline"
    sf = 0.01

    def prepare_checks(self, ctx) -> None:
        from trino_adaptive_partitioning_tool_spark.queries import registry

        super().prepare_checks(ctx)
        self.queries = registry.queries()
        oracles = registry.oracle_sql()
        self.want = {}
        for name in CORPUS_CALLS:
            frame = ctx.duck.execute(oracles[name]).df()
            self.want[name] = (canon_hash(frame), frame)
        self.rows_per_op = len(CORPUS_CALLS) * self.table_rows["documents"]
        self.previous: dict = {}
        self.reused: dict[str, int] = {}

    def op(self, ctx, op: str):
        out, self.reused[op] = run_registry_calls(
            ctx, op, CORPUS_CALLS, self.queries, self.previous
        )
        return out

    def check(self, ctx, op: str, out) -> list[str]:
        problems = [
            oracle_problem(name, pdf, self.want[name], self.notes)
            for name, pdf in out.items()
        ]
        return [p for p in problems if p]

    def op_layers(self, ctx, folded, op, span) -> dict:
        return registry_layers(ctx, op, CORPUS_CALLS, self.reused.get(op, 0))


WORKLOADS = {
    w.name: w for w in (AdvisorRefresh, ScanProfile, CorpusPipeline, LayoutWrite)
}
