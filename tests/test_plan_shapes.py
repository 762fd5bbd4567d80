"""Physical-plan regression tests: the optimizations the engine relies
on at 100 TB must actually appear in the plans (SURVEY.md §4) — a
correct-but-degenerate plan (no pushdown, shuffled dims, cartesian
fallback) is a failure even when results match."""

from __future__ import annotations

import pytest

from big_data_analysis_of_airline_data_set_spark.plans import all_queries

# Building the ml_* queries' DataFrames trains MLlib estimators
# (minutes); their join discipline is covered by tests/test_ml.py on the
# same code paths.
_PLAN_GUARD_NAMES = sorted(
    n for n in all_queries() if not n.startswith("ml_")
)


def _plan(spark, sf_dir, name: str, mode: str = "formatted") -> str:
    df = all_queries()[name].fn(spark, sf_dir)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "filter_status")
    assert "PushedFilters" in plan
    assert "EqualTo(o_orderstatus,F)" in plan.replace(" ", "")


def test_projection_prunes_scan_schema(spark, sf_dir):
    plan = _plan(spark, sf_dir, "projection")
    # ReadSchema must contain ONLY the three projected columns
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read and "l_quantity" in read
    assert "l_extendedprice" not in read and "l_shipdate" not in read


def test_flagship_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(spark, sf_dir, "flagship_delay_summary_by_carrier")
    assert plan.count("BroadcastHashJoin") >= 2  # tree + per-node sections
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_flagship_sql_same_join_strategy(spark, sf_dir):
    plan = _plan(spark, sf_dir, "flagship_sql")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_topk_uses_partial_topk_not_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "top_k")
    assert "TakeOrderedAndProject" in plan


def test_aggregations_are_partial_final(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sum_by_year")
    assert "partial_" in plan  # map-side combine before the shuffle


def test_chi_square_sql_aggregates_orders_once(spark, sf_dir):
    """The marginals are windows over the one contingency-cell
    aggregate: one orders scan, no join to bring the totals back."""
    plan = _plan(spark, sf_dir, "chi_square_sql", mode="simple")
    assert plan.count("FileScan parquet") == 1
    assert "orders.parquet" in plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # BroadcastNestedLoopJoin included


def test_semi_anti_join_strategies(spark, sf_dir):
    for name in ("join_semi", "join_anti"):
        plan = _plan(spark, sf_dir, name)
        assert "LeftSemi" in plan or "LeftAnti" in plan
        assert "CartesianProduct" not in plan


def test_whole_stage_codegen_active(spark, sf_dir):
    plan = _plan(spark, sf_dir, "case_label", mode="simple")
    # '*' prefixes mark WholeStageCodegen stages in simple explain output
    assert "*(1)" in plan


def test_time_digits_no_python_udf(spark, sf_dir):
    plan = _plan(spark, sf_dir, "time_digits")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_partition_pruning_on_partitioned_layout(spark, sf_dir, tmp_path):
    """Year-partitioned parquet + year filter → PartitionFilters in the
    scan (the reference's temporal split P4 becomes pruning for free)."""
    import pyspark.sql.functions as F

    from big_data_analysis_of_airline_data_set_spark.sources.readers import (
        read_testdata_table,
    )

    out = str(tmp_path / "orders_by_year")
    o = read_testdata_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    o.write.mode("overwrite").partitionBy("o_year").parquet(out)
    df = spark.read.parquet(out).filter(F.col("o_year") == 1995)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(jmode)
    assert "PartitionFilters" in plan
    assert "o_year" in plan.split("PartitionFilters")[1][:200]


def test_asof_join_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "asof_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # one shuffle on the key, window after


def test_minhash_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_minhash_lsh", mode="simple")
    assert "CartesianProduct" not in plan  # banded bucket equi-join only


def test_embedding_banded_no_cartesian(spark, sf_dir):
    """dedup_embedding_cosine routes candidates through the (band, sig)
    equi-join — the round-1 all-pairs theta-join (BNLJ) must not
    reappear in the catalog plan."""
    plan = _plan(spark, sf_dir, "dedup_embedding_cosine", mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_probe_prunes_partitions_no_refit(spark, sf_dir):
    """ann_ivf_topk must probe a prebuilt cell-partitioned index: the
    probe plan prunes on the cell partition column, and repeated calls
    reuse the cached index instead of refitting KMeans."""
    import time

    from big_data_analysis_of_airline_data_set_spark.plans.content import q_ann_ivf

    q_ann_ivf(spark, sf_dir).collect()  # warm/build once
    t0 = time.time()
    q_ann_ivf(spark, sf_dir).collect()
    probe_secs = time.time() - t0
    assert probe_secs < 5.0, f"probe took {probe_secs:.1f}s — index refit suspected"
    plan = _plan(spark, sf_dir, "ann_ivf_topk")
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters")[1][:300]


def test_interval_join_stays_keyed(spark, sf_dir):
    """The time predicates ride on the user_id equi-join — no
    nested-loop fallback."""
    plan = _plan(spark, sf_dir, "events_interval_join", mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_multimodal_is_arrow_batched(spark, sf_dir):
    plan = _plan(spark, sf_dir, "multimodal_asset_stats", mode="simple")
    # mapInPandas shows as MapInPandas (Arrow), not row-wise BatchEvalPython
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_datetime_family_is_scan_project_only(spark, sf_dir):
    """Pure scalar family: no exchange, no Python eval — one codegen'd
    scan+project."""
    plan = _plan(spark, sf_dir, "datetime_functions", mode="simple")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_multi_rollup_single_scan_single_shuffle(spark, sf_dir):
    """minute/hour/day grains come from ONE grouping-sets pass: exactly
    one file scan, one Expand, one exchange — not a union of three
    aggregations that re-scans the raw table per grain."""
    plan = _plan(spark, sf_dir, "events_multi_rollup", mode="simple")
    assert plan.count("FileScan") == 1
    assert "Union" not in plan
    assert plan.count("Exchange") == 1
    assert "Expand" in plan


def test_grouping_sets_single_expand_single_shuffle(spark, sf_dir):
    """GROUPING SETS compiles to Expand + one partial/final aggregate —
    not |sets| separate scans unioned together."""
    plan = _plan(spark, sf_dir, "grouping_sets_agg")
    assert "Expand" in plan
    assert "Union" not in plan
    assert "partial_" in plan  # map-side combine still applies post-Expand


def test_stats_moments_one_aggregate_pass(spark, sf_dir):
    """All ten moments fold into ONE hash aggregate (single shuffle),
    not one pass per statistic."""
    plan = _plan(spark, sf_dir, "stats_moments", mode="simple")
    assert plan.count("Exchange") <= 2  # agg shuffle (+ AQE read), no more


def test_minhash_signatures_shuffle_free(spark, sf_dir):
    """Signature computation is array_min∘transform per row — the only
    exchanges left in the whole pipeline are the repartition spread, the
    band bucket join, and the candidate dedup; the 16-way explode+groupBy
    signature shuffle must NOT reappear."""
    plan = _plan(spark, sf_dir, "dedup_minhash_lsh", mode="simple")
    assert "array_min" in plan
    # the old shape aggregated exploded shingles: HashAggregate with 16
    # min(xxhash64(...)) functions — its absence is the regression guard
    # (the only Generate left is the 8-struct band melt, constant-width)
    assert "min(xxhash64" not in plan


def test_new_event_and_text_queries_no_cartesian(spark, sf_dir):
    """funnel/retention/tfidf/full-outer all join on keys (broadcast
    where small) — nested-loop or cartesian fallback is a regression."""
    for name in ("events_funnel", "events_retention", "text_tfidf", "join_full_outer"):
        plan = _plan(spark, sf_dir, name, mode="simple")
        assert "CartesianProduct" not in plan, name
        # the single intentional cross join (tfidf's 1-row corpus-size
        # scalar) must ride a broadcast, never a shuffled NLJ
        if "NestedLoopJoin" in plan:
            assert "BroadcastNestedLoopJoin" in plan, name


@pytest.mark.parametrize("name", _PLAN_GUARD_NAMES)
def test_no_degenerate_join_in_any_catalog_query(spark, name):
    """Every catalog query, current and future: no CartesianProduct
    anywhere, and any nested-loop join must ride a broadcast (the only
    legitimate uses are 1-row scalar joins, e.g. chi-square totals).
    Registry reordering or a new query can't silently admit a
    degenerate plan."""
    plan = _plan(spark, "/root/testdata/sf0.001", name, mode="simple")
    assert "CartesianProduct" not in plan, name
    if "NestedLoopJoin" in plan:
        assert "BroadcastNestedLoopJoin" in plan, name


def test_map_and_lateral_scan_side_only(spark, sf_dir):
    """Scalar map family and posexplode_outer are scan-side operators —
    no exchange may appear."""
    for name in ("map_functions", "lateral_explode"):
        plan = _plan(spark, sf_dir, name, mode="simple")
        assert "Exchange" not in plan, name


def test_runtime_bloom_filter_semi_join_reduction(spark, sf_dir):
    """At 100 TB a selective dimension filter should be pushed to the
    fact side as a runtime bloom filter (Spark's InjectRuntimeFilter),
    pruning fact rows BEFORE the join shuffle. Pin that the engine's
    session admits the rewrite when the join is shuffle-based (the
    thresholds here only simulate the big-fact/small-dim size ratio of
    the production scenario; by default broadcast + tiny scans suppress
    it locally)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:2000]
        assert "might_contain" in plan.lower() or "BloomFilter" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_multimodal_decode_pipeline_is_map_only(spark, sf_dir):
    """Builder mapInPandas → decode mapInPandas must chain without any
    Exchange: the decode audit is a pure map pipeline — at 100 TB a
    shuffle between the two Python stages would double the Arrow
    serialization for nothing."""
    for name in ("multimodal_decode_image", "multimodal_decode_audio",
                 "multimodal_image_resize"):
        df = all_queries()[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"{name}: unexpected shuffle\n{plan[:1500]}"


def test_quality_classifier_is_shuffle_free(spark, sf_dir):
    """Hashed-ngram scoring is a map-only Column expression — zero
    Python stage, and the ONLY Exchange permitted is the round-10
    small-input fan-out rebalance (a round-robin repartition of the
    RAW (id, text) rows BEFORE any per-gram work — scan partitioning
    is sized by input bytes, blind to the ~100× per-gram md5 fan-out).
    On an input that already has enough partitions the rebalance is a
    no-op and the plan must be Exchange-free — the 100 TB shape."""
    from big_data_analysis_of_airline_data_set_spark.text.quality_classifier import (
        quality_scores,
    )

    df = all_queries()["text_quality_classifier"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Exchange") <= 1
    if "Exchange" in plan:
        assert "roundrobin" in plan.lower()  # raw-row rebalance, not a key shuffle
    # wide input: pre-partitioned past defaultParallelism -> no added Exchange
    from big_data_analysis_of_airline_data_set_spark.sources.readers import (
        read_testdata_table,
    )

    docs = read_testdata_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism + 3
    )
    wide_plan = (
        quality_scores(docs)._jdf.queryExecution().executedPlan().toString()
    )
    # the input's own repartition is one Exchange; the scorer must not
    # add a second
    assert wide_plan.count("Exchange") == 1


def test_winsorize_approx_uses_sketch_not_sort(spark, sf_dir):
    """The default winsorize path must compute thresholds with the
    approx_percentile sketch (partial_approx aggregation), never a
    sort-based exact percentile — that is the whole point of the
    round-4 default flip."""
    df = all_queries()["feature_winsorize"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString().lower()
    assert "approx_percentile" in plan
    exact_df = all_queries()["feature_winsorize_exact"].fn(spark, sf_dir)
    exact_plan = exact_df._jdf.queryExecution().executedPlan().toString().lower()
    # negative check required: "approx_percentile(" contains
    # "percentile(", so the positive match alone is vacuous
    assert "approx_percentile" not in exact_plan
    assert "percentile(" in exact_plan


def test_quantized_rerank_partial_topk_no_shuffle_scoring(spark, sf_dir):
    """The int8 first pass must stay a single scan feeding per-partition
    heaps (TakeOrderedAndProject), with the scoring UDF Arrow-batched —
    never a global sort or a cartesian."""
    plan = _plan(spark, sf_dir, "ann_quantized_rerank")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" in plan  # pandas_udf, not row-at-a-time


def test_dsir_bucket_table_broadcasts(spark, sf_dir):
    """The B-row bucket-ratio table must broadcast back over the token
    stream (map-side join), and the heavy aggregates must combine
    map-side before the shuffle."""
    plan = _plan(spark, sf_dir, "curation_dsir_resample")
    assert "BroadcastHashJoin" in plan
    assert "partial_" in plan
    assert "CartesianProduct" not in plan


def test_gopher_rules_single_projection_no_shuffle(spark, sf_dir):
    """All five rules + keep must fold into ONE projection directly over
    a pruned scan — zero exchanges. (The higher-order lambda filters
    keep this Project out of whole-stage codegen by design; shuffle-
    freedom and scan pruning are the properties that matter at scale.)"""
    plan = _plan(spark, sf_dir, "text_gopher_rules")
    assert "Exchange" not in plan
    # formatted mode prints each node in the tree AND a detail section —
    # exactly one numbered scan node means exactly one scan
    assert plan.count("Scan parquet  (") == 1
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" in read and "n_chars" not in read


def test_text_plans_tokenize_once_per_row(spark, sf_dir):
    """Round-11 expression-shape guard: the audited text plans must
    hold exactly ONE regexp split per plan leg — the dict-of-Columns
    consumers used to re-tokenize per selected column (28 splits/row
    in text_lang_id, 16 in text_gopher_rules; tests/
    expression_audit.py is the sweep tool, BASELINE.md round 11 the
    record). The struct variants bind tokens once and emit through an
    inline() generator that CollapseProject cannot merge into."""
    from big_data_analysis_of_airline_data_set_spark.plans import all_queries

    specs = all_queries()
    for name, max_splits in (
        ("text_lang_id", 1),
        ("text_stats", 1),
        ("text_gopher_rules", 1),
    ):
        plan = (
            specs[name]
            .fn(spark, sf_dir)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert plan.count("split(") <= max_splits, (
            f"{name}: {plan.count('split(')} splits in optimized plan"
        )


def test_bloom_prefilter_is_map_side_before_shuffle(spark, sf_dir):
    """The Bloom membership test must run in the scan/project stage of
    the big side — BELOW the join's exchange — and stay a Column
    expression (no Python UDF)."""
    plan = _plan(spark, sf_dir, "join_bloom_prefiltered", mode="extended")
    # the literal-array bit tests stay Column expressions (codegen),
    # never a Python eval node
    assert "element_at" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # the membership filter must appear as a Filter on the lineitem
    # side (map-side, pre-shuffle) — i.e. a Filter node mentioning the
    # bit-mask array test, not a post-join condition
    assert any(
        "Filter" in l and "element_at" in l
        for l in plan.splitlines()
    ), "bloom membership test is not a pre-join Filter"


def test_entity_resolution_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_entity_resolution")
    assert "CartesianProduct" not in plan


def test_resample_ffill_two_shuffles_max(spark, sf_dir):
    """obs groupBy shuffles on (series, bucket); the grid join and the
    window both run on series-partitioned data. The grid explode must
    NOT shuffle per generated row, and nothing may fall back to a
    cartesian join."""
    plan = _plan(spark, sf_dir, "events_resample_ffill")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") <= 4  # agg + bounds + join sides + window


def test_join_delta_both_joins_keyed(spark, sf_dir):
    plan = _plan(spark, sf_dir, "incremental_join_delta")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hll_registers_single_partial_final_aggregate(spark, sf_dir):
    """The HLL build must be ONE partial+final aggregate (map-side
    collapse to ≤ m rows per group before the shuffle) with no window,
    no sort, no Python — the constant-shuffle property the sketch
    exists for."""
    plan = _plan(spark, sf_dir, "sketch_hll_distinct", mode="extended")
    assert "partial_" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_heavy_hitter_cms_filter_is_map_side(spark, sf_dir):
    """The CMS estimate filter must run in the fact scan's stage — a
    Filter over element_at probes against the scalar-subquery counter
    array (r11 shape: no crossJoin/BroadcastNestedLoopJoin carry),
    below any exchange, with no Python anywhere. The catalog query's
    own plan truncates at the survivors' localCheckpoint, so the
    prefilter stage is examined pre-checkpoint here (same construction
    heavy_hitter_join uses); the downstream joins are then checked on
    the full catalog plan."""
    from pyspark.sql import functions as F

    from big_data_analysis_of_airline_data_set_spark.operators.bloom_join import (
        ship_as_scalar_subquery,
    )
    from big_data_analysis_of_airline_data_set_spark.operators.heavy_hitter_join import (
        build_cms_counters,
        cms_estimate_expr,
    )
    from big_data_analysis_of_airline_data_set_spark.sources.readers import (
        read_testdata_table,
    )

    li = read_testdata_table(spark, sf_dir, "lineitem").select("l_partkey")
    counters = build_cms_counters(li, term_col="l_partkey", width=4096)
    arr, view = ship_as_scalar_subquery(spark, counters)
    pre = li.filter(
        cms_estimate_expr(F.col("l_partkey"), arr, depth=4, width=4096) >= 38
    )
    spark.catalog.dropTempView(view)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "extended"
    )
    plan = pre._jdf.queryExecution().explainString(jmode)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert any(
        "Filter" in l and "element_at" in l for l in plan.splitlines()
    ), "CMS estimate test is not a pre-join Filter"
    assert "BroadcastNestedLoopJoin" not in plan
    physical = plan.split("== Physical Plan ==")[-1]
    assert "Exchange" not in physical.replace("ReusedExchange", ""), (
        "prefilter stage shuffles before filtering"
    )

    full = _plan(spark, sf_dir, "join_heavy_hitters_cm", mode="extended")
    assert "CartesianProduct" not in full
    assert "BroadcastNestedLoopJoin" not in full
    assert "BroadcastHashJoin" in full
    assert "BatchEvalPython" not in full and "ArrowEvalPython" not in full


def test_streamed_sketch_state_is_constant_sized(spark, sf_dir):
    """The streamed CMS drain's state is the (j, bucket) cell table:
    the drained table must never exceed d·w rows no matter the stream
    volume — the reason sketches stream where exact counts cannot."""
    from big_data_analysis_of_airline_data_set_spark.plans.events_queries import (
        _CMS_STREAM_DEPTH,
        _CMS_STREAM_WIDTH,
        _landed_events_dir,
    )
    from big_data_analysis_of_airline_data_set_spark.streaming.jobs import (
        run_cms_sketch_stream_available_now,
    )

    cells = run_cms_sketch_stream_available_now(
        spark,
        _landed_events_dir(spark, sf_dir),
        depth=_CMS_STREAM_DEPTH,
        width=_CMS_STREAM_WIDTH,
        query_name="cms_state_size_check",
        max_files_per_trigger=None,
        stream_shuffle_partitions=4,
    )
    assert cells.count() <= _CMS_STREAM_DEPTH * _CMS_STREAM_WIDTH


# --------------------- wave-7/8/9 plan guards ---------------------


def test_q6_scan_only_all_predicates_pushed(spark, sf_dir):
    """Q6 is the pure pushdown benchmark: every predicate reaches the
    parquet scan and no row data is ever hash-shuffled (the only
    exchange feeds the single-row final aggregate)."""
    plan = _plan(spark, sf_dir, "tpch_q6_style")
    flat = plan.replace(" ", "")
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_discount,0.05)" in flat
    assert "LessThanOrEqual(l_discount,0.07)" in flat
    assert "LessThan(l_quantity,24.0)" in flat
    assert "Exchange hashpartitioning" not in plan
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_extendedprice" in read and "o_" not in read


def test_q2_correlated_min_is_broadcast_not_smj(spark, sf_dir):
    """The per-brand minima must come back as a broadcast, never a
    sort-merge self-join of part."""
    plan = _plan(spark, sf_dir, "tpch_q2_style")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    flat = plan.replace(" ", "")
    assert "LessThanOrEqual(p_size,10)" in flat  # pushed to BOTH scans


def test_q14_single_conditional_aggregation_pass(spark, sf_dir):
    """Promo and total revenue accumulate in ONE partial+final
    aggregation over the join — not two scans of lineitem."""
    plan = _plan(spark, sf_dir, "tpch_q14_style")
    # lineitem + part once each; formatted mode prints every node
    # twice (tree line + detail section)
    assert plan.count("Scan parquet") <= 4
    assert "partial_" in plan
    assert "BroadcastHashJoin" in plan


def test_q4_exists_is_left_semi(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q4_style")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_top_n_queries_use_partial_topk(spark, sf_dir):
    for name in ("tpch_q10_style", "tpch_q18_style"):
        plan = _plan(spark, sf_dir, name)
        assert "TakeOrderedAndProject" in plan, name


def test_kmeans_distance_fold_no_explode_no_python(spark, sf_dir):
    """The k-means distance computation must stay a codegen HOF fold:
    no Generate (explode fan-out) and no Python evaluation; the 8-row
    centroid side rides a broadcast nested-loop join by design."""
    plan = _plan(spark, sf_dir, "embedding_kmeans_assign")
    assert "Generate" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_decile_lift_rownumber_confined_to_buckets(spark, sf_dir):
    """The gains table's only full-data window is row_number
    partitioned by the range bucket — the global-frame windows
    (offsets, cumulative shares) run on buckets/deciles-sized rows.
    Guard: a row_number window spec partitioned by _b exists, and no
    row_number runs unpartitioned."""
    plan = _plan(spark, sf_dir, "customer_decile_lift")
    flat = plan.replace(" ", "")
    assert "row_number" in flat
    assert "partitionBy_b" not in flat  # sanity: formatted uses brackets
    import re

    rn_specs = re.findall(r"row_number\(\)[^\n]*", flat)
    assert rn_specs and all("[_b" in s for s in rn_specs)


# --------------------- round-7 single-partition-window retirement ---------------------


def test_bm25_topk_is_partial_topk_no_window(spark, sf_dir):
    """The BM25 top-25 must compile to TakeOrderedAndProject (per-
    partition k-heaps), never a row_number over an unpartitioned
    window that sorts the whole scored corpus in one task."""
    plan = _plan(spark, sf_dir, "text_bm25_topk")
    assert "TakeOrderedAndProject" in plan
    assert "row_number" not in plan.replace(" ", "")


def _data_sized_window_specs_all_bucket_partitioned(plan: str, order_cols):
    """Every windowspecdefinition ordering by a data-level column must
    be partitioned by the range bucket `_b`; the only unpartitioned
    windows left run on the 64-row bucket frame (`_nb`/`_wb`/`_ab`
    chains)."""
    import re

    flat = plan.replace(" ", "")
    specs = re.findall(r"windowspecdefinition\([^)]*\)", flat)
    data_specs = [
        s for s in specs if any(f"{c}#" in s for c in order_cols)
    ]
    assert data_specs, f"no data-level window specs found in plan"
    bad = [s for s in data_specs if not s.startswith("windowspecdefinition(_b#")]
    assert not bad, f"data-sized window not bucket-partitioned: {bad}"


def test_rfm_quartiles_decomposed_no_global_ntile(spark, sf_dir):
    """RFM quartile assignment must not plan a single ntile/ordered
    window over the user frame: each dimension's ranking row_number is
    confined to a range-bucket partition."""
    plan = _plan(spark, sf_dir, "events_rfm_segments")
    assert "ntile" not in plan.replace(" ", "")
    _data_sized_window_specs_all_bucket_partitioned(
        plan, ["recency_days", "frequency", "monetary"]
    )


def test_pareto_cumulative_confined_to_buckets(spark, sf_dir):
    """The descending revenue cumulative (rank + cumsum) runs only
    within range-bucket partitions; cross-bucket state lives on the
    64-row bucket frame."""
    plan = _plan(spark, sf_dir, "stats_pareto_coverage")
    _data_sized_window_specs_all_bucket_partitioned(plan, ["rev", "cust"])


def test_ks_drift_cdf_windows_bucket_partitioned(spark, sf_dir):
    """The pooled-CDF RANGE windows order by the pooled value `_v`
    only inside a range-bucket partition — the last data-sized global
    sort in the repo stays retired."""
    plan = _plan(spark, sf_dir, "stats_ks_drift")
    _data_sized_window_specs_all_bucket_partitioned(plan, ["_v"])


def test_streamed_hdr_state_is_constant_sized(spark, sf_dir):
    """The streamed HDR quantile drain's state is the (group, bucket
    code) count table: must never exceed groups × code-space rows no
    matter the stream volume — the rank-sketch membership card."""
    from big_data_analysis_of_airline_data_set_spark.plans.events_queries import (
        _HDR_STREAM_SUB_BITS,
        _landed_events_dir,
    )
    from big_data_analysis_of_airline_data_set_spark.streaming.jobs import (
        run_hdr_sketch_stream_available_now,
    )

    sk = run_hdr_sketch_stream_available_now(
        spark,
        _landed_events_dir(spark, sf_dir),
        sub_bits=_HDR_STREAM_SUB_BITS,
        query_name="hdr_state_size_check",
        max_files_per_trigger=None,
        stream_shuffle_partitions=4,
    )
    rows = sk.collect()
    groups = {r["group"] for r in rows}
    # 64-bit cents, s=5: <= 64 + 57*32 codes ~ 1888 per group
    assert len(rows) <= len(groups) * 1900


def test_rfm_null_user_ids_keep_oracle_parity(spark, sf_dir, tmp_path):
    """Anonymous events (NULL user_id) are excluded in BOTH engines —
    an unfiltered NULL group would silently vanish in the quartile
    equi-joins (Spark) while surviving in the oracle's GROUP BY,
    flipping the entry red on any testdata generation with anonymous
    events. Regression: inject NULL user_ids and re-check parity.
    (The filter itself sits inside the lazily checkpointed subtree,
    so a plan-text assertion can't see it.)"""
    import duckdb

    from big_data_analysis_of_airline_data_set_spark.plans import all_queries
    from tests.oracle_harness import check_query

    con = duckdb.connect()
    con.execute(
        f"""COPY (SELECT * REPLACE (
                 CASE WHEN user_id % 17 = 0 THEN NULL ELSE user_id END
                 AS user_id)
             FROM read_parquet('{sf_dir}/events.parquet'))
            TO '{tmp_path}/events.parquet' (FORMAT PARQUET)"""
    )
    n_null = con.execute(
        f"SELECT count(*) FROM read_parquet('{tmp_path}/events.parquet')"
        " WHERE user_id IS NULL"
    ).fetchone()[0]
    con.close()
    assert n_null > 0  # the injection must actually produce NULL rows
    check_query(spark, all_queries()["events_rfm_segments"], str(tmp_path))
