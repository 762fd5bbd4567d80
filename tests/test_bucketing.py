"""Bucketed joins plan without a shuffle; compaction reduces file
counts without changing data."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from big_data_analysis_of_airline_data_set_spark.sources.bucketing import (
    bucketed_join,
    write_bucketed_table,
)
from big_data_analysis_of_airline_data_set_spark.sources.compaction import compact_parquet
from big_data_analysis_of_airline_data_set_spark.sources.readers import read_testdata_table


def _plan(df) -> str:
    spark = df.sparkSession
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    return df._jdf.queryExecution().explainString(jmode)


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    orders = read_testdata_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    lineitem = read_testdata_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    ).withColumnRenamed("l_orderkey", "o_orderkey")

    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    write_bucketed_table(orders, "b_orders", bucket_by="o_orderkey", num_buckets=8,
                         sort_by="o_orderkey")
    write_bucketed_table(lineitem, "b_lineitem", bucket_by="o_orderkey", num_buckets=8,
                         sort_by="o_orderkey")

    # force the non-broadcast path: at testdata scale Spark would
    # broadcast (and skip bucketing); at fact⋈fact scale it can't.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "b_orders", "b_lineitem", "o_orderkey")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located buckets: shuffle-free

        # unbucketed twin DOES shuffle (the assertion means something)
        plain = orders.join(lineitem, "o_orderkey")
        plain_plan = _plan(plain)
        assert "Exchange" in plain_plan

        # and the result matches the plain join
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_compact_parquet_roundtrip(spark, sf_dir, tmp_path):
    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    li = read_testdata_table(spark, sf_dir, "lineitem")
    li.repartition(64).write.mode("overwrite").parquet(src)  # 64 tiny files
    n_before = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_before >= 32

    compact_parquet(spark, src, dst, target_file_bytes=8 * 1024 * 1024)
    n_after = len([f for f in os.listdir(dst) if f.endswith(".parquet")])
    assert n_after < n_before
    back = spark.read.parquet(dst)
    assert back.count() == li.count()
    a = li.agg(F.sum("l_quantity")).collect()[0][0]
    b = back.agg(F.sum("l_quantity")).collect()[0][0]
    assert abs(a - b) < 1e-6
