"""Result persistence — CSV + JSON sinks for the analysis outputs.

Parity target: reference src/ui/generate_ui_data.py:30-92
(`results/global_stats.csv` + five JSON files the dashboard reads).
Differences, on purpose:
  * named columns everywhere (fixes the tuple-order swap, SURVEY §8.3)
  * `partition_keys` carried as array<string> (fixes the reparse bug §8.2)
  * written with `df.write`, each result coalesced to one part: every
    result set is dashboard-sized.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

RESULT_KEYS = (
    "usage",
    "column_scores",
    "resource_scores",
    "table_performance",
    "classified_queries",
    "recommendations",
)


def save_analysis_results(
    results: dict[str, DataFrame],
    out_dir: str = "results",
) -> dict[str, str]:
    """Write each result set; returns {key: path}. `usage` goes to CSV
    (the reference's global_stats.csv), everything else to JSON lines."""
    paths: dict[str, str] = {}
    os.makedirs(out_dir, exist_ok=True)
    for key in RESULT_KEYS:
        if key not in results:
            continue
        df = results[key].coalesce(1)
        path = os.path.join(out_dir, key)
        if key == "usage":
            df.write.mode("overwrite").option("header", True).csv(path)
        else:
            # array/struct columns survive JSON round-trips; CSV wouldn't
            df.write.mode("overwrite").json(path)
        paths[key] = path
    return paths
