"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is fully materialized (count + a collect of the final result)
so lazy plans can't game the timing. Run directly: `python bench.py`.
"""

from __future__ import annotations

import json
import os
import sys
import time

# same ceiling as gen_bench_baseline's SPARK_GRAFT_BASELINE_MAX_LOAD
# default: a sample taken above it is marked quiet=false in both
# stdout lines so the round artifact self-describes its host state
QUIET_LOAD_GATE = 4.0

# r14 (r13 verdict "Next round" #1): the r12 AND r13 graded runs both
# executed on a loaded host (load_1m 14.4 / 12.5 against the 4.0 gate;
# frozen-anchor ratios 0.42+ vs the 0.34-0.38 quiet band), producing
# round-over-round "regressions" on queries with byte-identical plans —
# the bench MEASURED the load marker but never ACTED on it. Now it does,
# with zero change to the per-attempt timing methodology:
#   1. before building the session, wait (bounded) for the 1-min load
#      to fall under QUIET_LOAD_GATE;
#   2. after a full attempt, if the start load was still over the gate,
#      re-exec this script for a fresh attempt — fresh JVM, fresh
#      session caches, so the retry's cold numbers stay honest — up to
#      SPARK_GRAFT_BENCH_MAX_ATTEMPTS (default 2).
#   3. the LAST attempt always emits (a loaded sample with quiet:false
#      beats no sample), and every attempt's summary line goes to
#      stderr for the record.
QUIET_WAIT_SEC = float(os.environ.get("SPARK_GRAFT_BENCH_QUIET_WAIT", "180"))
MAX_ATTEMPTS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_MAX_ATTEMPTS", "2")))
_ATTEMPT_ENV = "_SPARK_GRAFT_BENCH_ATTEMPT"


def _wait_for_quiet_start() -> None:
    """Bounded pre-run wait for external load to drain (step 1 above)."""
    waited = 0.0
    while waited < QUIET_WAIT_SEC:
        try:
            load = os.getloadavg()[0]
        except OSError:  # pragma: no cover - platform without getloadavg
            return
        if load <= QUIET_LOAD_GATE:
            return
        print(
            f"# load {load:.2f} > {QUIET_LOAD_GATE} gate - waiting "
            f"({waited:.0f}/{QUIET_WAIT_SEC:.0f}s)",
            file=sys.stderr,
        )
        time.sleep(15)
        waited += 15


HEADLINE_QUERIES = [
    # core relational surface
    "pricing_summary",
    "shipping_priority",
    "region_revenue",
    "segment_topn_window",
    "distribution_stats",
    "cardinality_profile",
    "rollup_returns",
    "event_hourly_rollup",
    # advanced relational surface
    "window_functions_suite",
    "cube_aggregation",
    "correlated_small_quantity_revenue",
    "range_interval_join",
    "asof_last_click_before_purchase",
    "sessionize_events",
    # TPC-H shape sweep + time-series completion
    "simple_predicate_revenue",
    "volume_shipping_bilateral",
    "customer_order_count_distribution",
    "large_volume_customers",
    "daily_gap_fill",
    "user_retention_cohorts",
    "event_funnel_conversion",
    # advisor pipeline (fixture-driven stages + full end-to-end)
    "resource_scores",
    "table_exec_rollup",
    "transform_selection",
    "partition_recommendations",
    "partition_layout_whatif",
    "bucket_join_advice",
    "rollup_advice",
    "workload_drift_report",
    "partition_recommendation_drift",
    "drift_repartition_scripts",
    # table_file_metadata is pinned to the parity scale (its oracle
    # resolves footer paths at registration) and would raise at sf0.1
    # LLM-data-pipeline extensions
    "dedup_exact",
    "dedup_keep_canonical",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "similarity_topk_bruteforce",
    "similarity_lsh_topk",
    "text_quality_scores",
    "text_model_quality_scores",
    "text_token_stats",
    "text_winnow_fingerprints",
    "winnow_containment_pairs",
    "text_repetition_stats",
    "text_entropy_scores",
    "text_lm_perplexity",
    "pii_redaction_stats",
    "document_chunking_stats",
    "decontamination_ngram_overlap",
    "duplicate_span_stats",
    "source_cap_report",
    "corpus_top_tokens",
    "corpus_zipf_stats",
    "bm25_search_topk",
    "corpus_filter_funnel",
    "corpus_filter_funnel_extended",
    "dedup_cluster_rollup",
    "dedup_source_attribution",
    "sequence_packing_stats",
    "sequence_packing_manifest",
    "text_model_quality_scores_loaded",
    "corpus_mixture_plan",
    "incremental_distinct_rollup",
    "cms_heavy_hitters",
    "histogram_quantile_estimate",
    "embedding_quantization_stats",
    # integer-lattice k-means curation surface (r7): one fit feeds all
    # three via the session assignment cache, so the first query prices
    # the Lloyd iterations and the rest price their own composition
    "embedding_kmeans_assign",
    "cluster_balanced_sample",
    "cluster_outlier_prune",
    "semdedup_keep_canonical",
    "document_topic_clusters",
    "cluster_mixture_plan",
    "cluster_quality_profile",
    "embedding_kmeans_greedy_assign",
    "topic_balanced_doc_sample",
    "embedding_drift_report",
    "multimodal_decode_stats",
    "multimodal_png_decode_stats",
    "multimodal_wav_decode_stats",
    "multimodal_channel_stats",
    "multimodal_y4m_frame_stats",
    "multimodal_scene_changes",
    "multimodal_jpeg_decode_stats",
    "multimodal_mixed_corpus_stats",
    "multimodal_gif_decode_stats",
    "multimodal_tiff_decode_stats",
    "multimodal_bmp_decode_stats",
    "multimodal_mulaw_decode_stats",
    "multimodal_aiff_decode_stats",
    "train_test_split_counts",
    # r9 late additions + r10: remaining real-format decoders, crawl
    # ingestion funnel, and the four r10 queries (footer pushdown,
    # embedding decon scan, JSONL quarantine ingest, BPE pair mining)
    "multimodal_flac_decode_stats",
    "multimodal_avi_frame_stats",
    "warc_ingest_stats",
    "html_text_extraction_stats",
    "crawl_corpus_funnel",
    "metadata_pushdown_aggregates",
    "decontamination_embedding_scan",
    "jsonl_ingest_stats",
    "bpe_merge_pair_counts",
    "bpe_merge_iterations",
    "language_id_confusion",
    "sessionize_gap_sensitivity",
    "pagerank_transaction_graph",
    "multimodal_phash_near_dup",
    # r11 — new queries go at the END (bench-baseline discipline: the
    # kept append-only medians were measured with the queries above in
    # exactly this order; inserting mid-list would shift the warm-state
    # context the carried medians were captured under):
    # the end-to-end crawl->corpus funnel, the WebP-lossless (VP8L)
    # and progressive-JPEG (SOF2) decode legs, and the BPE merge-table
    # apply report
    "crawl_to_corpus_pipeline",
    "multimodal_webp_decode_stats",
    "multimodal_progressive_jpeg_stats",
    "bpe_corpus_compression",
    # IMA-ADPCM compressed-audio decode leg (recursive-CTE oracle)
    "multimodal_adpcm_decode_stats",
    # r12: the media-to-corpus funnel flagship (decode-quarantine ->
    # phash dedup -> quality gate -> manifest, one query)
    "media_to_corpus_pipeline",
    # r12: spec evolution — the full advisor pipeline as-of three
    # cumulative log windows (prices the repeated-run adaptive loop)
    "partition_spec_history",
    # r12: Adam7 progressive-PNG decode leg
    "multimodal_progressive_png_stats",
    # r12: indexed-color (palette/type-3) PNG decode leg
    "multimodal_palette_png_stats",
    # r13: VP8L backward-reference + color-cache decode leg
    "multimodal_webp_lz_decode_stats",
    # r13: 16-bit + packed 1/2/4-bit PNG depth-grid decode leg
    "multimodal_png_depth_stats",
    # r13: audio near-dup gate (Haitsma-Kalker robust hash, banded)
    "multimodal_audio_fingerprint_near_dup",
]


def emit_output_lines(
    *,
    total: float,
    timings: dict[str, float],
    layout_speedup,
    scan_scaling_x,
    regressions: dict[str, dict],
    missing_baseline: list[str],
    sf: float,
    watch: dict[str, float] | None = None,
    anchor_ratio_r1: float | None = None,
    load_1m: float | None = None,
    tail_budget: int = 1900,
    attempts: int = 1,
) -> list[str]:
    """Build the stdout JSON lines the driver captures.

    The driver keeps only the TAIL (~2 KB) of stdout and json-parses the
    FINAL line. Rounds 5 and 7 both produced `parsed: null` artifacts
    because the single output line outgrew that tail once the per-query
    dict passed ~60 entries — the headline `value` sat at the FRONT of
    the line and was the first thing truncated. The contract is now:

      line 1: the FULL record (every per-query timing) — for humans,
              logs, and any capture that keeps whole stdout;
      line 2 (FINAL): a compact summary GUARANTEED to fit `tail_budget`
              bytes, with the per-query dict greedily filled
              slowest-first until the serialized line would overflow,
              and — per the r7 verdict — `value`, `regressions`, and
              `sf` emitted as the LAST keys so even a mid-line
              truncation of some future capture leaves them readable.

    Returns the lines; main() prints them. Pure function so
    tests/test_bench_contract.py can pin the budget at 200+ queries.
    """
    compact_reg = {
        n: v.get("x", v.get("cold", {}).get("x"))
        for n, v in sorted(regressions.items())
    }
    # report-only drift telemetry (r8 verdict "what's wrong" #2): the
    # watch list names queries >= budget_x over their median that the
    # additive noise floor absorbed, and the anchor ratio prices the
    # whole run against the FROZEN round-1 numbers — visibility that
    # per-round baseline updates cannot reset. Keep only the worst few
    # in the compact line (full list in BENCH_PLANS.json).
    watch = watch or {}
    # quiet-host marker (r12 verdict "what's wrong" #1): True iff the
    # START load was measured AND sat under the same 4.0 gate the
    # baseline generator enforces — so a future reader of the round
    # artifact can tell a loaded-host sample from an authoritative one
    # without cross-referencing COVERAGE.md prose.
    quiet = load_1m is not None and load_1m <= QUIET_LOAD_GATE
    compact_watch = dict(
        sorted(watch.items(), key=lambda kv: -kv[1])[:8]
    )
    full = {
        "metric": "headline_queries_total_sec",
        "unit": "sec",
        "queries": {n: round(t, 2) for n, t in timings.items()},
        "layout_speedup": layout_speedup,
        "scan_scaling_x": scan_scaling_x,
        "missing_baseline": missing_baseline,
        "n_queries": len(timings),
        "watch": dict(sorted(watch.items(), key=lambda kv: -kv[1])),
        "anchor_ratio_r1": anchor_ratio_r1,
        "load_1m": load_1m,
        "quiet": quiet,
        "attempts": attempts,  # r14 quiet-retry: which attempt emitted
        "value": round(total, 3),
        "regressions": compact_reg,
        "sf": sf,
    }
    dumps = lambda obj: json.dumps(obj, separators=(",", ":"))  # noqa: E731

    # Compact line: fixed envelope first, then fill `queries` with the
    # slowest entries while the whole line still fits the tail budget.
    # Regressions keep the WORST entries (severity-desc, not
    # alphabetical — a 10x blowup must never be the one elided), capped
    # at 20 and further shrunk below if even the bare envelope would
    # overflow the tail (20 long names could alone exceed 2 KB).
    reg_items = sorted(
        compact_reg.items(), key=lambda kv: -(kv[1] or 0)
    )
    n_elided_reg = 0
    if len(reg_items) > 20:
        n_elided_reg = len(reg_items) - 20
        reg_items = reg_items[:20]
    compact_reg = dict(reg_items)
    if n_elided_reg:
        compact_reg["_elided"] = n_elided_reg
    compact = {
        "metric": "headline_queries_total_sec",
        "unit": "sec",
        "n_queries": len(timings),
        "queries_elided": len(timings),
        "queries_full_in": "BENCH_PLANS.json",
        "queries": {},
        "layout_speedup": layout_speedup,
        "scan_scaling_x": scan_scaling_x,
        "missing_baseline_count": len(missing_baseline),
        "watch": compact_watch,
        "anchor_ratio_r1": anchor_ratio_r1,
        "load_1m": load_1m,
        "quiet": quiet,
        "value": round(total, 3),
        "regressions": compact_reg,
        "sf": sf,
    }
    # hard envelope guarantee: drop the LEAST severe regressions until
    # the queries-free line fits (the greedy query fill below can only
    # start from a fitting envelope)
    while len(dumps(compact).encode()) > tail_budget and compact_watch:
        # watch is report-only telemetry — it yields envelope space
        # first, least-severe entries dropped before any regression
        compact_watch.pop(list(compact_watch)[-1])
        compact["watch"] = compact_watch
    while len(dumps(compact).encode()) > tail_budget and reg_items:
        reg_items.pop()  # least severe (list is severity-desc)
        n_elided_reg += 1
        compact_reg = dict(reg_items)
        compact_reg["_elided"] = n_elided_reg
        compact["regressions"] = compact_reg
    slowest = sorted(timings.items(), key=lambda kv: -kv[1])
    for name, t in slowest:
        candidate = dict(compact["queries"])
        candidate[name] = round(t, 2)
        trial = {**compact, "queries": candidate,
                 "queries_elided": len(timings) - len(candidate)}
        if len(dumps(trial).encode()) > tail_budget:
            break
        compact["queries"] = candidate
    compact["queries_elided"] = len(timings) - len(compact["queries"])

    lines = [dumps(full)]
    # Only add the second line when the full record itself would bust the
    # tail budget — at small query counts one line is the whole story.
    if len(lines[0].encode()) > tail_budget:
        lines.append(dumps(compact))
    return lines


def _scan_scaling(spark, sf_dir: str) -> dict:
    """Amplified scan-scaling probe. At 10 MB/table, query timings are
    capped by per-call fixed costs (plan build, job setup — tens of ms
    each), not the scan. Replicate lineitem to ~15 M rows and time the
    SAME aggregation against a 1-row-group vs a 32-row-group layout,
    fresh plan per rep (repeated actions on one DataFrame skip
    materialized shuffle stages and would fake the number). This
    isolates the property that carries to 100 TB: the scan parallelizes
    with the data layout."""
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    scratch = tempfile.mkdtemp(prefix="tapt_bench_scan_")
    prev_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    prev_nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    try:
        lt = pq.read_table(f"{sf_dir}/lineitem.parquet")
        mult = max(1, 15_000_000 // max(1, lt.num_rows))
        big = pa.concat_tables([lt] * mult)
        pq.write_table(
            big, f"{scratch}/amp_single.parquet", row_group_size=big.num_rows
        )
        pq.write_table(
            big, f"{scratch}/amp_multi.parquet",
            row_group_size=max(1, big.num_rows // 32),
        )

        def run(path: str) -> None:
            spark.read.parquet(path).groupBy(
                "l_returnflag", "l_linestatus"
            ).agg(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ).alias("s"),
                F.count(F.lit(1)).alias("n"),
            ).collect()

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        amp: dict[str, float] = {}
        for label, path, mpb in [
            ("single_rg_sec", f"{scratch}/amp_single.parquet", None),
            ("multi_rg_sec", f"{scratch}/amp_multi.parquet", "8388608"),
        ]:
            if mpb:
                spark.conf.set("spark.sql.files.maxPartitionBytes", mpb)
            run(path)  # JIT/footer warm-up, untimed
            best = float("inf")
            for _ in range(2):
                start = time.perf_counter()
                run(path)
                best = min(best, time.perf_counter() - start)
            amp[label] = round(best, 3)
    finally:
        # restore BOTH confs on every exit path — a throw mid-probe must
        # not leave the session over-splitting at 8 MB
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_mpb)
        if prev_nanos is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev_nanos)
        shutil.rmtree(scratch, ignore_errors=True)
    speedup = (
        round(amp["single_rg_sec"] / amp["multi_rg_sec"], 2)
        if amp["multi_rg_sec"]
        else None
    )
    return {"rows": big.num_rows, **amp, "speedup": speedup}


def main() -> None:
    # exact all-pairs oracle twins are sf<=0.01 ground-truth baselines;
    # they must never enter a headline (scale) benchmark
    from trino_adaptive_partitioning_tool_spark.queries.similarity import (
        ORACLE_BASELINE_ONLY,
    )

    banned = ORACLE_BASELINE_ONLY.intersection(HEADLINE_QUERIES)
    assert not banned, f"oracle-baseline-only queries in headline set: {banned}"

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")

    # r14 quiet-host discipline, step 1: give external load a bounded
    # chance to drain BEFORE anything is timed.
    attempt = max(1, int(os.environ.get(_ATTEMPT_ENV, "1")))
    _wait_for_quiet_start()

    # Host load telemetry (r10 verdict #1): every bench sample records
    # the 1-min load average at start and end, so a number measured
    # under external contention is distinguishable from a regression
    # after the fact, and gen_bench_baseline.py can refuse to fold a
    # loaded run into the append-only medians.
    try:
        load_start_1m = round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover - platform without getloadavg
        load_start_1m = None

    from trino_adaptive_partitioning_tool_spark.session import get_spark
    from trino_adaptive_partitioning_tool_spark.queries import registry

    spark = get_spark(app_name="bench")
    qs = registry.queries()

    # warm the JVM + parquet footers once so per-query numbers measure the
    # query, not session bootstrap
    qs["pricing_summary"](spark, sf_dir).count()

    # min over a few repetitions per query: one-shot numbers at this scale
    # are dominated by first-call plan compilation and machine-load noise;
    # the min is the stable estimate of steady-state query cost.
    from trino_adaptive_partitioning_tool_spark.plans import inspect as pi

    # 3 reps = 1 cold + 2 warm: with a single warm rep the recorded
    # number for ~1s queries is whatever the host was doing in that one
    # second — four back-to-back r8 runs flagged a DIFFERENT random
    # subset each time with byte-identical plan manifests. min over two
    # warm reps is robust to one load spike; the sub-second tier below
    # additionally medians over >= 3 warm reps.
    # An EXPLICIT SPARK_GRAFT_BENCH_REPS is honored exactly (reps-1 warm
    # reps, whatever the tier); only the default 3 lets the sub-second
    # tier raise its warm-rep floor to >= 3 below.
    _reps_env = os.environ.get("SPARK_GRAFT_BENCH_REPS")
    reps = max(1, int(_reps_env or "3"))
    # Per-query regression budget: BENCH_BASELINE.json records the
    # median of >= 3 idle-host runs of this same loop (generated by
    # scripts/gen_bench_baseline.py). Any query exceeding
    # budget_x * median is reported in the output line's "regressions";
    # with SPARK_GRAFT_BENCH_STRICT=1 the bench exits non-zero on any
    # regression (default is report-only: the shared host's documented
    # +/-40% load noise must not turn measurement noise into a failed
    # round — the recorded data settles noise-vs-regression instead).
    budget_x = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_X", "1.5"))
    baseline_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_BASELINE.json"
    )
    baseline_medians: dict[str, float] = {}
    cold_medians: dict[str, float] = {}
    try:
        with open(baseline_path) as fh:
            _baseline = json.load(fh)
        baseline_medians = _baseline.get("medians", {})
        cold_medians = _baseline.get("cold_medians", {})
    except (OSError, ValueError):
        pass
    timings: dict[str, float] = {}
    cold_timings: dict[str, float] = {}
    plans: dict[str, dict] = {}
    total = 0.0
    for name in HEADLINE_QUERIES:
        if name not in qs:
            continue
        n = 0
        cold = 0.0
        df = None
        # Sub-second queries are fixed-cost-dominated: one warm rep is
        # pure noise against a 1.5x budget (r7 flagged three ~0.3s
        # queries at 1.5-1.58x, all join-free plans — host hiccups, not
        # regressions). For any query whose recorded median is < 0.5s,
        # take the MEDIAN of >= 3 warm reps instead of the min of one;
        # for the rest, min-over-reps stays the steady-state estimate.
        fast = (baseline_medians.get(name) or 1.0) < 0.5
        if reps == 1:
            warm_reps = 0  # honor the one-shot contract exactly
        elif fast and not _reps_env:
            warm_reps = max(reps - 1, 3)
        else:
            warm_reps = reps - 1
        warm: list[float] = []
        for i in range(1 + warm_reps):
            start = time.perf_counter()
            df = qs[name](spark, sf_dir)
            n = df.count()
            elapsed = time.perf_counter() - start
            if i == 0:
                # first-call time: includes plan construction, session
                # memo/fit training, and cold shuffle stages. Memoized
                # (memo=True) and session-cached queries return warm
                # plans/frames on later reps, so the warm stat alone
                # would never price that work (a 10x regression in e.g.
                # the k-means fit would be invisible) — the regression
                # budget below checks BOTH numbers.
                cold = elapsed
            else:
                warm.append(elapsed)
        if not warm:
            best = cold  # reps=1: the single (cold) run IS the number
        elif fast:
            best = sorted(warm)[len(warm) // 2]
        else:
            best = min([cold, *warm])
        timings[name] = round(best, 3)
        cold_timings[name] = round(cold, 3)
        total += best
        # plan-shape manifest (outside the timed region): the scale
        # argument as diffable data — exchanges, broadcasts, join
        # strategies, scan-level filters
        try:
            plans[name] = pi.plan_manifest(df)
        except Exception as exc:  # pragma: no cover - resilience path
            plans[name] = {"error": repr(exc)}
        print(f"# {name}: {best:.3f}s ({n} rows)", file=sys.stderr)

    # The budget is multiplicative PLUS an additive noise floor: on this
    # shared host, job scheduling / GC / JIT jitter contributes
    # ~0.1-0.5s ADDITIVE variance that is independent of query cost, so
    # a bare 1.5x budget on a 0.2s fixed-cost query flags pure noise
    # (r7 shipped 3 such flags; r8's first post-baseline run flagged 30
    # while the host load shifted). threshold = max(x * med, med +
    # floor): a genuine 10x on a fast query still flags, a genuine 1.5x
    # on any query costing more than ~2x the floor still flags, and
    # sub-second jitter does not. Cold (first-call) numbers get a
    # larger floor — they additionally absorb JIT and plan-compile
    # variance that depends on session history.
    noise_warm = float(os.environ.get("SPARK_GRAFT_BENCH_NOISE_SEC", "0.25"))
    noise_cold = float(
        os.environ.get("SPARK_GRAFT_BENCH_COLD_NOISE_SEC", "0.6")
    )
    regressions: dict[str, dict] = {}
    watch: dict[str, float] = {}
    missing_baseline: list[str] = []
    for name, t in timings.items():
        med = baseline_medians.get(name)
        if not med:
            # a silent budget gap would mean the query can never flag a
            # regression — surface it so the baseline gets regenerated.
            # A zero/absent median both land here: a 0.0 entry (3-decimal
            # rounding of a sub-ms timing, or a corrupt file) would
            # otherwise divide-by-zero in the ratio math below.
            missing_baseline.append(name)
            print(f"# NO BASELINE {name}: regenerate BENCH_BASELINE.json",
                  file=sys.stderr)
            continue
        if t > max(budget_x * med, med + noise_warm):
            regressions[name] = {"sec": t, "median": med,
                                 "x": round(t / med, 2)}
            print(
                f"# REGRESSION {name}: {t:.3f}s > max({budget_x}x, "
                f"+{noise_warm}s) over median {med:.3f}s "
                f"({t / med:.2f}x)",
                file=sys.stderr,
            )
        elif t > budget_x * med:
            # over the multiplicative budget but absorbed by the
            # additive noise floor: report-only visibility (r8 flagged
            # that a sub-0.5s query could otherwise double every round
            # forever — the 1.73x cardinality_profile case)
            watch[name] = round(t / med, 2)
            print(
                f"# WATCH {name}: {t:.3f}s = {t / med:.2f}x median "
                f"{med:.3f}s (under the +{noise_warm}s floor)",
                file=sys.stderr,
            )
        med_cold = cold_medians.get(name)
        if med_cold and cold_timings[name] > max(
            budget_x * med_cold, med_cold + noise_cold
        ):
            regressions.setdefault(name, {})["cold"] = {
                "sec": cold_timings[name], "median": med_cold,
                "x": round(cold_timings[name] / med_cold, 2)}
            print(
                f"# COLD REGRESSION {name}: {cold_timings[name]:.3f}s > "
                f"max({budget_x}x, +{noise_cold}s) over cold median "
                f"{med_cold:.3f}s",
                file=sys.stderr,
            )

    # Cross-round creep detector (r8 verdict #1): cumulative ratio vs
    # the FROZEN round-1 anchor on the shared query set. Per-round
    # baseline regenerations reset the per-query yardstick; this number
    # never resets, so a slow 1.2x/round drift shows up here even when
    # `regressions` stays empty.
    anchor_ratio_r1 = None
    try:
        with open(os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_ANCHOR.json"
        )) as fh:
            _anchor = json.load(fh).get("queries", {})
        shared = [n for n in _anchor if n in timings]
        anchor_sum = sum(_anchor[n] for n in shared)
        if shared and anchor_sum > 0:
            anchor_ratio_r1 = round(
                sum(timings[n] for n in shared) / anchor_sum, 2
            )
            print(
                f"# anchor ratio vs r1: {anchor_ratio_r1}x over "
                f"{len(shared)} shared queries",
                file=sys.stderr,
            )
    except (OSError, ValueError):
        pass

    # r14 quiet-host discipline, step 2: a loaded start means this
    # attempt measured the host, not the code — re-exec for a fresh
    # attempt (bounded).
    # Re-exec (not an in-process loop) so the retry pays plan build,
    # session-memo fits and persist materialization again: the cold-rep
    # pricing the regression budget relies on stays honest.
    quiet_start = load_start_1m is not None and load_start_1m <= QUIET_LOAD_GATE
    if not quiet_start and attempt < MAX_ATTEMPTS:
        print(
            f"# attempt {attempt}/{MAX_ATTEMPTS} not quiet (start load "
            f"{load_start_1m} > {QUIET_LOAD_GATE}) - "
            f"re-running; discarded total {total:.3f}s",
            file=sys.stderr,
        )
        sys.stdout.flush()
        sys.stderr.flush()
        spark.stop()  # the JVM must not outlive this process image
        os.environ[_ATTEMPT_ENV] = str(attempt + 1)
        os.execv(sys.executable, [sys.executable] + sys.argv)
    if attempt > 1:
        print(
            f"# quiet-retry: emitting attempt {attempt}/{MAX_ATTEMPTS} "
            f"(load {load_start_1m}, anchor {anchor_ratio_r1})",
            file=sys.stderr,
        )

    skip_extras = bool(os.environ.get("SPARK_GRAFT_BENCH_SKIP_EXTRAS"))

    # Applied-layout speedup: the advisor's end-to-end value, measured.
    # apply_recommendation rewrites events under the day(ts) layout the
    # advisor's policy selects for a date-grained timestamp column
    # (operators/transforms.py; policy proven in tests/test_policy_*),
    # then the same one-day analytics probe runs against the RAW table
    # (best case for raw: a ts range predicate that parquet row-group
    # stats can push) and the partitioned table (partition pruning from
    # directory names). The reference README only claims this speedup
    # downstream in Trino; here the engine is ours, so it's measured.
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from trino_adaptive_partitioning_tool_spark.operators import transforms
    from trino_adaptive_partitioning_tool_spark.sources import tables as tsrc

    # The layout demo must never cost the round's headline number: any
    # failure here degrades to null metrics, not a non-zero exit.
    layout_speedup = None
    layout_partitions = None
    scratch = tempfile.mkdtemp(prefix="tapt_bench_layout_")
    try:
        if skip_extras:
            raise RuntimeError("SPARK_GRAFT_BENCH_SKIP_EXTRAS set")
        events = tsrc.load_table(spark, sf_dir, "events")
        layout_path = f"{scratch}/events_by_day"
        transforms.apply_recommendation(events, layout_path, ["day(ts)"])
        days = sorted(tsrc.partition_layout(layout_path)["ts_day"])
        day = days[len(days) // 2]
        part = spark.read.parquet(layout_path)

        def probe(df, pred) -> float:
            best = float("inf")
            for _ in range(max(reps, 3)):
                start = time.perf_counter()
                df.where(pred).agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("value").alias("sum_value"),
                ).collect()
                best = min(best, time.perf_counter() - start)
            return best

        lo = F.lit(day).cast("timestamp")
        hi = lo + F.expr("INTERVAL 1 DAY")
        raw_sec = probe(events, (F.col("ts") >= lo) & (F.col("ts") < hi))
        pruned_sec = probe(part, F.col("ts_day") == day)
        layout_speedup = round(raw_sec / pruned_sec, 2)
        # Wall-clock at sf0.1 is fixed-cost-bound (a full scan of events
        # takes ~0.1 s on 32 cores), so also report the scan fraction —
        # the quantity that carries to 100 TB. The equality predicate
        # selects one of len(days) leaf directories; it only counts as
        # pruned if the plan resolves it as a PartitionFilter (directory
        # names), not a data filter.
        from trino_adaptive_partitioning_tool_spark.plans import inspect as pi

        plan_pruned = any(
            "ts_day" in f
            for f in pi.partition_filters(part.where(F.col("ts_day") == day))
        )
        layout_partitions = {
            "total": len(days),
            "scanned": 1 if plan_pruned else len(days),
        }
        print(
            f"# applied_layout_speedup: {layout_speedup}x "
            f"(raw {raw_sec:.3f}s vs pruned {pruned_sec:.3f}s; "
            f"partitions scanned {layout_partitions['scanned']}/"
            f"{layout_partitions['total']})",
            file=sys.stderr,
        )
    except Exception as exc:  # pragma: no cover - resilience path
        print(f"# applied_layout_speedup failed: {exc!r}", file=sys.stderr)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    scan_scaling = None
    try:
        if skip_extras:
            raise RuntimeError("SPARK_GRAFT_BENCH_SKIP_EXTRAS set")
        scan_scaling = _scan_scaling(spark, sf_dir)
        print(
            f"# scan_scaling: {scan_scaling['rows']} rows, single-rg "
            f"{scan_scaling['single_rg_sec']}s vs 32-rg "
            f"{scan_scaling['multi_rg_sec']}s = {scan_scaling['speedup']}x",
            file=sys.stderr,
        )
    except Exception as exc:  # pragma: no cover - resilience path
        print(f"# scan_scaling failed: {exc!r}", file=sys.stderr)

    # The driver captures only the TAIL of stdout (~2 KB) and json-parses
    # the final line — round 5 proved that inlining the plan manifests
    # (~10 KB) truncates the line and the whole bench goes unrecorded
    # (BENCH_r05.json: parsed=null). Keep the stdout line compact and
    # write the heavy diagnostics (per-query plan shapes, the scan
    # scaling probe) to BENCH_PLANS.json next to this script instead.
    try:
        load_end_1m = round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover - platform without getloadavg
        load_end_1m = None
    load_avg = {
        "start_1m": load_start_1m,
        "end_1m": load_end_1m,
        "max_1m": max(
            (v for v in (load_start_1m, load_end_1m) if v is not None),
            default=None,
        ),
    }
    print(f"# load_avg: start {load_start_1m} end {load_end_1m}",
          file=sys.stderr)

    side = {
        "warm_queries": timings,  # the COMPLETE per-query record — the
        # stdout compact line elides past its tail budget, this never does
        "plans": plans,
        "applied_layout_speedup": layout_speedup,
        "applied_layout_partitions": layout_partitions,
        "scan_scaling": scan_scaling,
        "baseline_medians": baseline_medians,
        "cold_queries": cold_timings,  # first-call times, read by
        # scripts/gen_bench_baseline.py to build cold_medians (too big
        # for the ~2 KB stdout tail the driver captures)
        "budget_x": budget_x,
        "regressions": regressions,
        "watch": watch,  # >= budget_x over median but under the
        # additive noise floor — report-only drift telemetry
        "anchor_ratio_r1": anchor_ratio_r1,
        "missing_baseline": missing_baseline,
        "attempts": attempt,  # r14 quiet-retry: which attempt this is
        "load_avg": load_avg,  # measurement context for every sample —
        # gen_bench_baseline.py refuses to append runs over its load gate
        "data_census": registry.data_census(),  # synth-input composition
        # per query — the rebaseline key's second component (a plan hash
        # cannot see a generator growing; the census can)
        "sf": sf,
    }
    side_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH_PLANS.json")
    try:
        with open(side_path, "w") as fh:
            json.dump(side, fh, indent=1)
        print(f"# plan manifests -> {side_path}", file=sys.stderr)
    except OSError as exc:  # pragma: no cover - resilience path
        print(f"# plan manifest write failed: {exc!r}", file=sys.stderr)

    for line in emit_output_lines(
        total=total,
        timings=timings,
        layout_speedup=layout_speedup,
        scan_scaling_x=(scan_scaling or {}).get("speedup"),
        regressions=regressions,
        missing_baseline=missing_baseline,
        sf=sf,
        watch=watch,
        anchor_ratio_r1=anchor_ratio_r1,
        # START load: the end load is self-inflicted by the bench's own
        # 32 threads (same reasoning as the baseline generator's gate)
        load_1m=load_avg.get("start_1m"),
        attempts=attempt,
    ):
        print(line)
    if regressions and os.environ.get("SPARK_GRAFT_BENCH_STRICT"):
        sys.exit(1)


if __name__ == "__main__":
    main()
