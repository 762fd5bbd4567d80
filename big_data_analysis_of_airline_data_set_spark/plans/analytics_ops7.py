"""Decision-support analytics catalog, wave 13: percent-of-parent
hierarchy shares (the two-level BI rollup) and a feature-hashing
collision audit (the hashing-trick diagnostic for categorical
feature encoding).

No reference analogue (mosama1994 Scripts/1-2 are single-table).
Catalog contract as everywhere: decimal/integer-exact accumulation,
IEEE-identical float division, round(6) statistics.

Both entries enter the correctness window by ledger
age (see ``plans/__init__.correctness_window``)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..sources.readers import read_testdata_table
from .spec import QuerySpec


# ------------- percent-of-parent hierarchy shares -------------


def q_rollup_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region → nation revenue hierarchy with each level's share of
    its parent: nation % of region, region % of grand total — the
    drill-down table every BI layer renders.

    Scale shape: ONE aggregation reduces the fact join to the
    nation-level frame (O(nations) rows); the region and grand
    totals are windows over that TINY frame partitioned by region /
    unpartitioned — never over fact rows. Revenue stays DECIMAL
    through both window sums; the two shares are the only float
    ops."""
    nation = read_testdata_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = read_testdata_table(spark, sf_dir, "region").select(
        "r_regionkey", "r_name"
    )
    cust = read_testdata_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    orders = read_testdata_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    per_nation = (
        per_cust.join(cust, per_cust.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum("rev").alias("rev"))
    )
    w_region = W.partitionBy("r_name")
    w_all = W.partitionBy()
    return per_nation.select(
        "r_name",
        "n_name",
        F.col("rev").cast("double").alias("revenue"),
        F.round(
            F.col("rev").cast("double")
            / F.sum("rev").over(w_region).cast("double"),
            6,
        ).alias("pct_of_region"),
        F.round(
            F.sum("rev").over(w_region).cast("double")
            / F.sum("rev").over(w_all).cast("double"),
            6,
        ).alias("region_pct_of_total"),
    ).orderBy("r_name", "n_name")


_SHARE_ORACLE = """
WITH per_cust AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
), per_nation AS (
  SELECT r_name, n_name, SUM(rev) AS rev
  FROM per_cust
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2
)
SELECT r_name, n_name,
       CAST(rev AS DOUBLE) AS revenue,
       round(CAST(rev AS DOUBLE)
             / CAST(SUM(rev) OVER (PARTITION BY r_name) AS DOUBLE), 6)
         AS pct_of_region,
       round(CAST(SUM(rev) OVER (PARTITION BY r_name) AS DOUBLE)
             / CAST(SUM(rev) OVER () AS DOUBLE), 6)
         AS region_pct_of_total
FROM per_nation
ORDER BY r_name, n_name
"""


# ------------- feature-hashing collision audit -------------

_HASH_DIM = 64  # deliberately small so collisions exist at every sf


def q_feature_hashing_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick collision audit: part brand+type categories hash
    into a 64-bucket feature space (md5 prefix mod D — the
    engine-replayable stand-in for the usual murmur); reports bucket
    occupancy, distinct-category collisions, and the collision rate
    the encoder would silently absorb.

    The practical read: distinct_categories > 1 buckets tell you how
    much signal the chosen D destroys BEFORE a model is trained —
    at 100 TB the category vocabulary is only knowable this way.

    Engine parity: the bucket is the established 56-bit md5-prefix →
    BIGINT decode mod D; counts are exact."""
    part = read_testdata_table(spark, sf_dir, "part")
    cat = F.concat_ws("|", F.col("p_brand"), F.col("p_type"))
    bucket = (
        F.conv(F.substring(F.md5(cat), 1, 14), 16, 10).cast("long")
        % _HASH_DIM
    )
    per_bucket = (
        part.select(cat.alias("category"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("category").alias("n_categories"),
        )
    )
    return per_bucket.select(
        "bucket",
        "n_rows",
        "n_categories",
        (F.col("n_categories") > 1).alias("has_collision"),
    ).orderBy("bucket")


# 56-bit md5-prefix decode — the proven cross-engine fragment (see
# curation_queries._MD5_56): exact BIGINT shift-adds, never a double
# power (16^13 sums exceed 2^53 and would mis-round the modulus).
_HASHING_ORACLE = f"""
WITH rows_hashed AS (
  SELECT category,
         CAST(list_sum(list_transform(generate_series(1, 14), j ->
              CAST(strpos('0123456789abcdef', substr(h, j, 1)) - 1
                   AS BIGINT)
              * (CAST(1 AS BIGINT) << (4 * (14 - j)))))
              AS BIGINT) % {_HASH_DIM} AS bucket
  FROM (SELECT concat_ws('|', p_brand, p_type) AS category,
               md5(concat_ws('|', p_brand, p_type)) AS h
        FROM part) s
)
SELECT bucket,
       count(*) AS n_rows,
       count(DISTINCT category) AS n_categories,
       count(DISTINCT category) > 1 AS has_collision
FROM rows_hashed
GROUP BY bucket
ORDER BY bucket
"""


QUERIES = [
    QuerySpec(
        "rollup_share_of_parent",
        q_rollup_share_of_parent,
        _SHARE_ORACLE,
        "Nation-of-region and region-of-total revenue shares",
    ),
    QuerySpec(
        "feature_hashing_audit",
        q_feature_hashing_audit,
        _HASHING_ORACLE,
        "Hashing-trick bucket occupancy and collision rate",
    ),
]
