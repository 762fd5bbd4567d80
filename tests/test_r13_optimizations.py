"""Round-13 optimization pins: value-equivalence and plan-shape guards
for the changed operator internals (single-exchange loop builds, KMV
pre-dedup, exact-percentile spread, CV prefix-once surface)."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_analysis_of_airline_data_set_spark.plans.graph_queries import (
    part_supplier_edges,
)
from big_data_analysis_of_airline_data_set_spark.sketches.kmv import kmv_sketch
from big_data_analysis_of_airline_data_set_spark.sources.readers import (
    read_testdata_table,
)
from big_data_analysis_of_airline_data_set_spark.stats.winsorize import (
    spread_rows_for_heavy_agg,
    winsorize_summary,
)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_kmv_dedups_batch_inputs_only(spark):
    """Batch sketches dedup (group, value) before hashing; a streaming
    input must not (an unwatermarked streaming distinct holds every
    pair in state). Driver-only: analyzed plans, no job runs. Value
    identity is covered by the sketch_kmv_* oracle parity cases."""
    stream = spark.readStream.format("rate").load()
    batch = spark.range(10).select(F.col("id").alias("value"))
    for df, dedups in ((stream, False), (batch, True)):
        src = df.select(F.lit("g").alias("grp"), F.col("value").alias("val"))
        sk = kmv_sketch(src, group_col="grp", value_col="val", k=4)
        plan = sk._jdf.queryExecution().analyzed().toString()
        assert ("Deduplicate" in plan) == dedups, plan


def test_loop_edge_build_single_exchange_and_identical(spark, sf_dir):
    """repartition(key)-then-distinct must dedup in place (ONE Exchange
    in the executed plan — hashpartitioning(src) satisfies the distinct
    aggregate's clustering requirement) and produce exactly the rows of
    the old distinct-then-repartition chain."""
    fwd = part_supplier_edges(read_testdata_table(spark, sf_dir, "lineitem"))
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    new = edges.repartition(F.col("src")).distinct()
    old = edges.distinct().repartition(F.col("src"))
    plan_new = new._jdf.queryExecution().executedPlan().toString()
    plan_old = old._jdf.queryExecution().executedPlan().toString()
    assert plan_new.count("Exchange") == 1
    assert plan_old.count("Exchange") == 2  # the shape the build left behind
    assert _rows(new) == _rows(old)


def test_spread_for_heavy_agg_gate_and_equivalence(spark, sf_dir):
    li = read_testdata_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    spread = spread_rows_for_heavy_agg(li, "l_extendedprice")
    if li.rdd.getNumPartitions() * 2 > width:
        assert spread is li  # gate: wide input left untouched
    else:
        # a keyed repartition was applied (AQE may still coalesce the
        # exchange on tiny inputs — that post-shuffle width is AQE's
        # call, not the helper's; the helper's contract is the exchange)
        assert spread is not li
        assert "repartitionbyexpression" in (
            spread._jdf.queryExecution().logical().toString().lower()
        )
    # equivalence of the consumer either way
    exact = winsorize_summary(
        read_testdata_table(spark, sf_dir, "lineitem"),
        group_col="l_returnflag",
        value_col="l_extendedprice",
        exact=True,
    )
    assert len(_rows(exact)) >= 1


def test_spread_gate_noop_when_input_already_wide(spark, sf_dir):
    li = read_testdata_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    wide = li.repartition(width)  # at least half the session width
    assert spread_rows_for_heavy_agg(wide, "l_extendedprice") is wide


def test_prefix_tuned_model_exposes_cv_surface(spark, sf_dir):
    """PrefixTunedModel must forward avgMetrics (CV) so best_params
    works, and its bestModel must carry the prefix stages + classifier
    exactly like a whole-Pipeline CV fit."""
    from big_data_analysis_of_airline_data_set_spark.ml.estimators import (
        make_estimator,
        quick_grid,
    )
    from big_data_analysis_of_airline_data_set_spark.ml.pipeline import (
        build_feature_pipeline,
    )
    from big_data_analysis_of_airline_data_set_spark.ml.tuning import (
        best_params,
        fit_cv_prefix_once,
    )
    from big_data_analysis_of_airline_data_set_spark.plans import ml_queries as mq

    df = mq._supervised_lineitem(spark, sf_dir)
    est = make_estimator("logistic_regression")
    grid = quick_grid("logistic_regression", est)
    model = fit_cv_prefix_once(
        build_feature_pipeline(mq._CATEGORICAL, mq._NUMERIC),
        est,
        grid,
        df,
        num_folds=2,
    )
    assert len(model.avgMetrics) == len(grid)
    bp = best_params(model)
    assert bp  # non-empty, drawn from the grid
    clf = model.bestModel.stages[-1]
    assert clf.numFeatures > 0 and clf.numClasses == 2
    assert model.transform(df.limit(5)).count() == 5
