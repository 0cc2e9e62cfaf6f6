"""CLI entry point — parity with the reference pipeline driver
(reference: src/cli.py:12-137) rebuilt on Spark.

    python -m trino_adaptive_partitioning_tool_spark.cli \
        [--sf-dir /root/testdata/sf0.001] [--out results] \
        [--since 2025-06-01] [--execute]

Differences by design:
  * --since takes a DATE compared against create_time as a Column
    expression — the reference splices a raw SQL string into WHERE
    (injection surface, SURVEY §8.5)
  * --execute rewrites each recommended table as parquet partitioned by
    the recommended identity keys under <out>/applied/ (Spark applies
    layout at write time; the reference ships ALTER TABLE ... REPLACE
    PARTITION SPEC to Trino). Dry-run remains the default
    (reference src/config.py:15).
"""

from __future__ import annotations

import argparse
import datetime as dt
import sys

from pyspark.sql import functions as F


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="trino_adaptive_partitioning_tool_spark",
        description="Workload-driven partition recommendations on Spark",
    )
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p.add_argument("--out", default="results")
    p.add_argument(
        "--since",
        type=dt.date.fromisoformat,
        default=None,
        help="only consider query-log rows with create_time >= this date",
    )
    p.add_argument("--execute", action="store_true")
    p.add_argument(
        "--report", action="store_true",
        help="also write a markdown analysis report to <out>/report.md",
    )
    p.add_argument(
        "--dashboard", action="store_true",
        help="also write a static HTML dashboard (the reference's "
        "five-page Streamlit UI rendered offline) to <out>/dashboard.html",
    )
    p.add_argument(
        "--serve", type=int, metavar="PORT", default=None,
        help="serve the LIVE dashboard on localhost:PORT (the reference's "
        "Streamlit launcher analog, src/ui_dashboard.py): re-query "
        "endpoints /api/query and /api/refresh recompute from the engine",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from .operators import recommend, transforms
    from .session import get_spark
    from .sources import results_io, tables

    spark = get_spark(app_name="tapt-cli")
    time_filter = (
        F.col("create_time") >= F.lit(args.since) if args.since else None
    )
    results = recommend.run_analysis(
        spark, args.sf_dir, time_filter=time_filter
    )

    top5 = (
        results["resource_scores"]
        .orderBy(F.col("resource_score").desc(), "query_id")
        .select("query_id", F.round("resource_score", 2).alias("score"))
        .limit(5)
        .collect()
    )
    print("Top resource-consuming queries:")
    for r in top5:
        print(f"  {r['query_id']}: {r['score']}")

    recs = results["recommendations"].collect()
    print(f"\nPartition recommendations ({len(recs)} views):")
    for r in recs:
        print(f"  {r['view']}: {list(r['partition_keys'])}")
        print(f"    {r['script'].splitlines()[-1]}")

    paths = results_io.save_analysis_results(results, out_dir=args.out)
    print(f"\nResults written: {sorted(paths)} -> {args.out}/")

    if args.report:
        from .sources.report import render_report

        report_path = f"{args.out}/report.md"
        with open(report_path, "w") as fh:
            fh.write(render_report(results))
        print(f"Report written: {report_path}")

    if args.dashboard:
        from .sources.dashboard import advisor_extras, write_dashboard

        extras = advisor_extras(spark, args.sf_dir)
        dash_path = write_dashboard(
            results, f"{args.out}/dashboard.html", extras=extras
        )
        print(f"Dashboard written: {dash_path}")

    if args.execute:
        for r in recs:
            if r["script"].startswith("--") and "ALTER TABLE" not in r["script"]:
                continue  # comment-only script (reference src/cli.py:126)
            table = r["view"].split(".")[-1]
            df = tables.load_table(spark, args.sf_dir, table)
            dest = f"{args.out}/applied/{table}"
            keys = transforms.apply_recommendation(
                df, dest, list(r["transforms"])
            )
            print(f"applied: {r['view']} partitioned by {keys} -> {dest}")
    else:
        print("\nDry run (default): no tables rewritten; pass --execute to apply.")

    if args.serve is not None:
        from .sources.live import serve_dashboard

        server = serve_dashboard(spark, args.sf_dir, port=args.serve)
        host, port = server.server_address[:2]
        print(f"Live dashboard: http://{host}:{port}/ (Ctrl-C to stop)")
        try:
            server.serve_forever()
        except KeyboardInterrupt:
            pass
        finally:
            server.shutdown()
    return 0


if __name__ == "__main__":
    sys.exit(main())
