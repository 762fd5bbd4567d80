#!/usr/bin/env python
"""Benchmark harness: runs the headline query suite at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": "suite_wall_clock", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "repeats": N, "ml_quick_fit": sec,
   "sf": <sf>}

Headline set = one representative of each execution shape: scan+pivot
(flagship), shuffle join+agg, time agg, top-k, window function,
relational chi-square, streaming-symmetric event windows, session
windows, text analytics, exact dedup, MinHash LSH, ANN, and the
Arrow-batched multimodal path.

Robustness: each headline query runs $SPARK_GRAFT_BENCH_REPEATS times
(default 3, interleaved rounds); per-query numbers and the suite total
are MEDIANS, so one GC pause can't skew the round-over-round record.

ML estimator fits dominate the reference's real workload (Scripts/3-10)
but would drown the relational signal if mixed into the suite total, so
ONE quick-grid LogisticRegression+TVS fit is timed separately and
reported as ``ml_quick_fit`` (single run — fits amortize their own JIT).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

HEADLINE = [
    "flagship_delay_summary_by_carrier",
    "tpch_q1_style",
    "join_inner_agg",
    "sum_by_year",
    "top_k",
    "window_top_order",
    "chi_square_sql",
    "asof_join",
    "events_tumbling_window",
    "events_session_window",
    "events_multi_rollup",
    "text_stats",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_bruteforce_topk",
    "multimodal_asset_stats",
]

# The raw-metrics view does the full reference job shape (fit + predict
# + 6 evaluators) — same work the r1/r2 ml_quick_fit number measured
# when the fit and metrics lived in one query. Since round 6 it is
# module API (ml_queries.raw_metrics_query), not a catalog entry: the
# catalog carries only oracle-checkable names.
ML_FIT_FAMILY = "logistic_regression"

# The family suites, each timed as its own tracked number (like
# ml_quick_fit) so the 16-query headline total stays comparable to the
# BASELINE.md record across rounds. Each suite is the operator surface
# one round added; a query whose plan changed in a later round keeps
# its original slot so its delta stays visible round over round.
# Record keys ``<suite>_suite``, ``<suite>_queries`` and
# ``steal_by_suite[<suite>]`` are derived from this table, in order.
SUITES: dict[str, list[str]] = {
    # round 2: curation/sketch surface
    "curation": [
        "curation_weighted_sample",
        "curation_contamination",
        "curation_sequence_packing",
        "sketch_count_min_heavy_hitters",
        "data_quality_report",
        "embedding_quantize_int8",
    ],
    "r3_ops": [
        "dedup_spans_crossdoc",
        "curation_stratified_split",
        "ann_hard_negatives",
        "feature_winsorize",
        "text_oov_rate",
        "events_tumbling_stream",
    ],
    # BMP/WAV codec round-trips, the exact winsorize twin (the approx
    # default is in r3_ops), and the first streaming drains
    "r4_ops": [
        "multimodal_decode_image",
        "multimodal_decode_audio",
        "multimodal_image_resize",
        "feature_winsorize_exact",
        "text_quality_classifier",
        "events_sliding_stream",
        "events_session_stream",
        "events_interval_join_stream",
        "graph_pagerank",
        "zorder_cells",
        "sink_partitioned_roundtrip",
    ],
    "r4b_ops": [
        "approx_distinct_by_group",
        "events_rolling_active_users",
        "events_attribution",
        "text_token_rarity",
        "multimodal_audio_features",
        "curation_dsir_resample",
        "ann_quantized_rerank",
        "dedup_span_scrub",
        "text_gopher_rules",
        "dedup_attribution",
        "curation_length_buckets",
        "sketch_kmv_distinct",
        "events_kmv_stream",
        "dedup_fuzzy_pairs",
        "curation_group_split",
        "coreset_kcenter",
        "incremental_mv_merge",
        "pit_join_versions",
        "snapshot_diff",
        "stats_mad_by_group",
        "fd_violations",
        "ri_orphans",
        "graph_triangles",
        "stats_bootstrap_means",
        "events_markov_transitions",
        "text_inverted_index",
        "stats_benford_audit",
    ],
    # PNG decode, the stacked IVF→int8→exact ANN query path (index build
    # amortized via the session cache) and converged PageRank
    "r5_ops": [
        "multimodal_decode_png",
        "ann_ivf_quantized_rerank",
        "graph_pagerank_converged",
        "join_bloom_prefiltered",
        "dedup_entity_resolution",
        "events_resample_ffill",
        "incremental_join_delta",
        "curation_chunking",
        "events_enrich_stream",
        "stats_group_ols",
        "stats_ks_drift",
        "sketch_kmv_join_cardinality",
        "events_upsert_sink_stream",
        "ml_target_encoding",
        "stats_ab_test",
        "events_streaks",
        "graph_hierarchy_flatten",
        "union_schema_evolution",
        "events_twap",
        "events_journey_paths",
        "events_capped_sessions",
        "events_cumulative_users",
    ],
    "r6_ops": [
        "sketch_hll_distinct",
        "events_hll_stream",
        "events_cms_stream",
        "events_hll_sliding_distinct",
        "join_heavy_hitters_cm",
        "graph_k_core",
        "sketch_cms_join_size",
        "events_peak_concurrency",
    ],
    # plans/analytics_ops.py
    "r6b_ops": [
        "sketch_hll_set_ops",
        "graph_bfs_distances",
        "stats_welch_ttest",
        "events_rfm_segments",
        "stats_multi_ols",
        "graph_label_propagation",
        "events_cusum_changepoint",
        "text_bm25_topk",
        "stats_mannwhitney_u",
        "basket_frequent_pairs",
        "stats_gini_by_group",
        "events_diversity_index",
        "text_bpe_merge_pairs",
        "multimodal_image_phash",
        "stats_cuped_adjustment",
        "stats_pareto_coverage",
        "events_seasonality_profile",
        "events_forecast_eval",
    ],
    # plans/analytics_ops2.py
    "r6c_ops": [
        "tpch_q3_style",
        "tpch_q5_style",
        "skyline_dominance",
        "stats_pca_2d",
        "events_stickiness",
        "events_linear_interpolation",
        "events_clamped_balance",
        "events_holt_smoothing",
        "events_max_drawdown",
        "stats_weighted_median",
        "sink_orc_roundtrip",
        "sink_jsonl_roundtrip",
    ],
    # plans/analytics_ops3.py .. analytics_ops6.py: the adapted TPC-H
    # shapes and the wave 7-10 analytics
    "r6d_ops": [
        "tpch_q2_style",
        "tpch_q4_style",
        "tpch_q7_style",
        "tpch_q8_style",
        "tpch_q9_style",
        "tpch_q10_style",
        "tpch_q12_style",
        "tpch_q13_style",
        "tpch_q14_style",
        "tpch_q15_style",
        "tpch_q16_style",
        "tpch_q17_style",
        "tpch_q18_style",
        "tpch_q19_style",
        "tpch_q21_style",
        "tpch_q22_style",
        "stats_autocorr_daily",
        "customer_decile_lift",
        "embedding_label_centroids",
        "embedding_kmeans_assign",
        "events_lag_features",
        "join_bucketed_colocated",
        "tpch_q6_style",
        "tpch_q11_style",
        "tpch_q20_style",
        "embedding_pq_codebook",
        "events_gap_stats",
        "events_funnel_ttc",
        "stats_power_analysis",
        "events_cohort_ltv",
        "events_funnel_windowed",
        "curation_temperature_mixture",
        "graph_degree_histogram",
        "stats_srm_check",
        "stats_ratio_metric_ci",
        "rollup_share_of_parent",
        "feature_hashing_audit",
        "events_disorder_audit",
        "stats_anova_oneway",
        "events_uplift_by_segment",
        "orders_abc_classification",
    ],
    "r7_ops": ["sketch_quantile_hdr", "events_quantile_sketch_stream"],
    "r8_ops": ["curation_weighted_reservoir"],
    "r9_ops": ["events_spacesaving_stream"],
}

# Like ml_quick_fit: 3 TVS LR fits (full/uni/var feature sets) timed
# once, separately — fit-dominated and session-cached, so repeats would
# time the cache, not the work.
ML_VARIANT_QUERY = "ml_variant_sweep"

# Streaming drains are timed through the noop sink (round-12 verdict
# item 3): the memory sink exists for the ORACLE (the driver collects
# the sink table to compare against DuckDB) and its driver-side
# collection is the measured ×100 staller, so timing it benches the
# harness, not the operator. Catalog / driver-correctness paths keep
# the memory sink. Stamped into the record as ``stream_sink``.
STREAM_SINK = "noop"

# Steal fence (round-12 verdict item 1): above this headline-suite
# steal percentage the headline suite re-runs once. 3.5% sits between
# the quiet-host samples (2.3-3.1%) and the r12 steal-hit ones
# (4.2-6.8%).
STEAL_RERUN_PCT = 3.5

WARM_DIR = "/root/testdata/sf0.001"


def _warm(specs, spark, names: list[str], sf_dir: str) -> None:
    """Run the suite's query shapes once at sf0.001 (~1000x smaller
    inputs) so the timed pass measures steady-state execution, not
    first-call JIT/codegen and parquet-reader class loading. GUARDED:
    when the timed dir IS sf0.001 the warm pass is skipped entirely —
    otherwise the 'cold' timings would secretly be warm and not
    comparable across suites (round-3 ADVICE; one shared helper so
    every suite gets the same discipline)."""
    if not os.path.isdir(WARM_DIR):
        return
    if os.path.realpath(WARM_DIR) == os.path.realpath(sf_dir):
        return
    for name in names:
        try:
            _materialize(specs[name].fn(spark, WARM_DIR))
        except Exception:
            pass  # warm-up is best-effort; the timed run surfaces real errors


def _materialize(df) -> None:
    """Force FULL evaluation of a query through the noop sink.

    count() is NOT a faithful materializer: Catalyst prunes every
    column no aggregate references and can eliminate whole subtrees —
    a left join against a grouped (hence unique-keyed) right side
    whose columns nobody reads is REMOVED, so count() on
    curation_contamination measured 0.25 s while the query costs
    ~2.2 s (found round 10 — the committed r1-r9 per-query records
    carry this undercount for wide-output queries; BASELINE.md
    round-10 amendment). The noop sink writes every row of every
    output column and prunes nothing, JVM-side only."""
    df.write.format("noop").mode("overwrite").save()


def _run_suite(
    specs, spark, names: list[str], sf_dir: str, repeats: int, tag: str
) -> tuple[dict[str, float], float]:
    """Median-of-``repeats`` per query (interleaved rounds), plus the
    suite total of medians."""
    samples: dict[str, list[float]] = {name: [] for name in names}
    for r in range(repeats):
        for name in names:
            t0 = time.perf_counter()
            _materialize(specs[name].fn(spark, sf_dir))
            dt = time.perf_counter() - t0
            samples[name].append(dt)
            print(
                f"# [{tag}] round {r + 1}/{repeats} {name}: {dt:.2f}s",
                file=sys.stderr,
            )
    timings = {name: round(statistics.median(ts), 3) for name, ts in samples.items()}
    total = round(sum(statistics.median(ts) for ts in samples.values()), 3)
    return timings, total


def _cpu_times() -> tuple[int, int]:
    """(total_jiffies, steal_jiffies) from /proc/stat's aggregate cpu
    line. The sandbox is a VM: host co-tenant load appears ONLY as
    steal time — no guest process list ever names it. Round 12
    measured graph_k_core at 2.3 s under ~0% steal and 13.4 s under
    ~12% steal on identical code + corpus (tests/steal_probe.py):
    barrier-synchronized many-task stages amplify modest steal into
    large wall multipliers, which is what the unattributed r10→r11
    r6/r6b suite drift was. Every record now carries the steal
    fraction measured over its own window so cross-record deltas can
    be discounted mechanically, like the testdata_generation stamp."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        return sum(vals), vals[7] if len(vals) > 7 else 0
    except (OSError, ValueError, IndexError):
        return 0, 0


def _suite_steal(t0: tuple[int, int], t1: tuple[int, int]) -> float | None:
    """Steal percentage over the window [t0, t1] (from _cpu_times), or
    None when /proc/stat was unreadable / the window is empty."""
    (a0, s0), (a1, s1) = t0, t1
    if a1 <= a0:
        return None
    return round(100.0 * (s1 - s0) / (a1 - a0), 2)


def _run_suite_stamped(
    specs, spark, names: list[str], sf_dir: str, repeats: int, tag: str
) -> tuple[dict[str, float], float, float | None]:
    """_run_suite plus the steal fraction measured over the suite's OWN
    window. Round 12's ground-truth comparison consumed a 4.22%-steal
    32-core sample at face value and flagged 16 phantom regressions —
    per-suite steal windows (not just the whole-run stamp) let any
    consumer discount a single suite's numbers mechanically."""
    t0 = _cpu_times()
    timings, total = _run_suite(specs, spark, names, sf_dir, repeats, tag)
    steal = _suite_steal(t0, _cpu_times())
    return timings, total, steal


def _suite_keys(suite: str) -> tuple[str, str]:
    """Record keys of one SUITES entry: its total of medians and its
    per-query medians."""
    return f"{suite}_suite", f"{suite}_queries"


def _testdata_generation(sf_dir: str) -> str:
    """Generation stamp of the timed corpus: newest parquet mtime under
    ``sf_dir`` (UTC, second resolution). The driver REGENERATES
    /root/testdata every round, so per-query wall-clock deltas are
    comparable ONLY between records carrying the SAME stamp — round 10
    measured a +26 % uniform swing across code-untouched queries from
    generation drift alone (BASELINE.md round-10 continuity runs).
    Stamped into every record; ``main`` adds an explicit comparability
    warning when the previous record's stamp differs."""
    import glob

    mtimes = [
        os.stat(p).st_mtime
        for p in glob.glob(os.path.join(sf_dir, "**", "*.parquet"), recursive=True)
    ]
    if not mtimes:
        return "unknown"
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(max(mtimes)))


def _host_facts(spark) -> dict[str, object]:
    """What the numbers ran on: ``cpus`` is the session's task slots
    (the ``local[N]`` width) and ``spark_version`` the JVM's Spark, so a
    record read alone says whether two totals are comparable."""
    return {
        "cpus": spark.sparkContext.defaultParallelism,
        "spark_version": spark.version,
    }


def _stdout_line(record: dict, out_path: str) -> str:
    """The driver records only a 4096-char TAIL of stdout and parses the
    final line as JSON (round-5 verdict #4: the r5 record came back
    "parsed": null because the full per-suite dump overflowed that
    window). So stdout gets a COMPACT line — headline per-query
    timings plus per-suite totals, comfortably under 4 KB — and the
    full per-suite detail goes to the committed file, anchored to a
    commit rather than a captured stream."""
    compact = {
        k: v
        for k, v in record.items()
        if not (k.endswith("_queries") and k != "queries")
    }
    compact["detail_file"] = out_path
    line = json.dumps(compact)
    if len(line) > 4000:  # belt and braces: drop per-query detail too
        compact.pop("queries", None)
        line = json.dumps(compact)
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    generation = _testdata_generation(sf_dir)

    from big_data_analysis_of_airline_data_set_spark.plans import all_queries
    from big_data_analysis_of_airline_data_set_spark.plans.events_queries import (
        ensure_events_landed,
    )
    from big_data_analysis_of_airline_data_set_spark.session import get_session

    bench_t_all0, bench_t_st0 = _cpu_times()

    spark = get_session("bench")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()

    from big_data_analysis_of_airline_data_set_spark.streaming import jobs as _sjobs

    _sjobs.DRAIN_SINK = STREAM_SINK

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # Land the timed dir's events table for the streaming queries during
    # warm-up so no timed sample absorbs the one-time landing copy
    # (round-3 ADVICE on events_tumbling_stream's first repeat).
    ensure_events_landed(spark, sf_dir)
    _warm(specs, spark, HEADLINE, sf_dir)

    steal_by_suite: dict[str, float | None] = {}
    timings, total, hl_steal = _run_suite_stamped(
        specs, spark, HEADLINE, sf_dir, repeats, "headline"
    )
    headline_samples = [{"value": total, "steal_pct": hl_steal}]
    # The headline total is the round-over-round ground truth, and a
    # single steal-hit sample makes every per-query delta a phantom
    # (r12: 16/16 "regressions" at 4.22% steal while the same-day
    # 8-core run was faster on every query). Above STEAL_RERUN_PCT the
    # headline suite re-runs ONCE and the better-fenced (lower-steal)
    # sample is reported; both samples stay in the record.
    if hl_steal is not None and hl_steal > STEAL_RERUN_PCT:
        print(
            f"# headline steal {hl_steal}% > {STEAL_RERUN_PCT}% — re-running"
            " the headline suite once for a better-fenced sample",
            file=sys.stderr,
        )
        timings2, total2, hl_steal2 = _run_suite_stamped(
            specs, spark, HEADLINE, sf_dir, repeats, "headline-rerun"
        )
        headline_samples.append({"value": total2, "steal_pct": hl_steal2})
        # pick the better-fenced sample: materially lower steal wins;
        # when the two windows' steal is within noise of each other
        # (±0.5 pct points), the lower total wins instead — a 0.1-point
        # steal difference must not outrank a real wall-clock gap
        if hl_steal2 is not None and (
            hl_steal2 < hl_steal - 0.5
            or (abs(hl_steal2 - hl_steal) <= 0.5 and total2 < total)
        ):
            timings, total, hl_steal = timings2, total2, hl_steal2
    steal_by_suite["headline"] = hl_steal

    from big_data_analysis_of_airline_data_set_spark.plans.ml_queries import (
        raw_metrics_query,
    )

    t0 = time.perf_counter()
    _materialize(raw_metrics_query(ML_FIT_FAMILY)(spark, sf_dir))
    ml_fit = time.perf_counter() - t0
    print(f"# ml_quick_fit (raw {ML_FIT_FAMILY} metrics): {ml_fit:.2f}s", file=sys.stderr)

    suite_record: dict[str, object] = {}
    for suite, names in SUITES.items():
        _warm(specs, spark, names, sf_dir)
        suite_timings, suite_total, steal_by_suite[suite] = _run_suite_stamped(
            specs, spark, names, sf_dir, repeats, suite
        )
        total_key, queries_key = _suite_keys(suite)
        suite_record[total_key] = suite_total
        suite_record[queries_key] = suite_timings
        print(f"# {total_key}: {suite_total}s {suite_timings}", file=sys.stderr)

    t0 = time.perf_counter()
    _materialize(specs[ML_VARIANT_QUERY].fn(spark, sf_dir))
    ml_variants = time.perf_counter() - t0
    print(f"# ml_variant_sweep: {ml_variants:.2f}s", file=sys.stderr)

    # Skew stress (round-3 verdict #8): one deliberately hot key carries
    # ~70% of lineitem; time the three join strategies so the skew
    # posture is a tracked number. Results are asserted identical first
    # (a strategy that drifted semantically must fail loudly, not post a
    # fast wrong number).
    from big_data_analysis_of_airline_data_set_spark.operators.skew_stress import (
        skew_stress_plans,
    )

    def _rows(df):
        return sorted((r.skew_key, r.n_rows, r.weighted_amount) for r in df.collect())

    warm_plans = skew_stress_plans(spark, WARM_DIR) if (
        os.path.isdir(WARM_DIR)
        and os.path.realpath(WARM_DIR) != os.path.realpath(sf_dir)
    ) else {}
    for df in warm_plans.values():
        _materialize(df)
    plans = skew_stress_plans(spark, sf_dir)
    expected = _rows(plans["broadcast"])
    skew_samples: dict[str, list[float]] = {name: [] for name in plans}
    for r in range(repeats):
        for name, df in plans.items():
            t0 = time.perf_counter()
            got = _rows(df)
            skew_samples[name].append(time.perf_counter() - t0)
            assert got == expected, f"skew strategy {name} diverged"
    skew_timings = {n: round(statistics.median(ts), 3) for n, ts in skew_samples.items()}
    skew_total = round(sum(skew_timings.values()), 3)
    print(f"# skew_suite: {skew_total}s {skew_timings}", file=sys.stderr)

    record = {
        "metric": "suite_wall_clock",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "repeats": repeats,
        "ml_quick_fit": round(ml_fit, 3),
        "ml_variant_sweep": round(ml_variants, 3),
        **suite_record,
        "skew_suite": skew_total,
        "skew_queries": skew_timings,
        "sf": float(sf),
        "testdata_generation": generation,
        **_host_facts(spark),
        # *_stream entries timed through this sink (see BASELINE.md
        # round-12 methodology note; "noop" from r12 on).
        "stream_sink": STREAM_SINK,
        # Per-suite steal windows + the headline steal fence (round-13;
        # r12 verdict item 1): "queries"/"value" above are the CHOSEN
        # headline sample; headline_samples lists every sample taken
        # (1 normally, 2 when the fence re-ran), each with the steal
        # fraction over its own window.
        "steal_by_suite": steal_by_suite,
        "headline_samples": headline_samples,
    }
    bench_t_all1, bench_t_st1 = _cpu_times()
    if bench_t_all1 > bench_t_all0:
        record["steal_pct"] = round(
            100.0 * (bench_t_st1 - bench_t_st0)
            / (bench_t_all1 - bench_t_all0),
            2,
        )
    # Mechanical cross-generation fence (round-10 verdict item 4): if
    # the previous committed record was measured against a different
    # testdata generation, say so IN the record — per-query deltas
    # across generations are ill-posed (the corpus changed, not the
    # code; round 10's 170× contamination surprise).
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    try:
        with open(out_path) as f:
            prev_gen = json.loads(f.readline()).get("testdata_generation")
        if prev_gen and prev_gen != generation:
            record["comparability"] = (
                f"per-query deltas vs the previous record are ill-posed: "
                f"testdata generation changed ({prev_gen} -> {generation})"
            )
    except (OSError, ValueError):
        pass
    line = _stdout_line(record, out_path)
    try:
        with open(out_path, "w") as f:
            f.write(json.dumps(record) + "\n")
    except OSError as exc:  # the bench record must still reach stdout
        print(f"# bench file write failed: {exc}", file=sys.stderr)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
