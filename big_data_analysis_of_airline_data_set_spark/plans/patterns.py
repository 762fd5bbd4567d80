"""Classic OLAP patterns the engine must support beyond the reference's
own surface: as-of, range (bucketized), point-in-time and bucketed
co-located joins; exact and sketched quantiles; unpivot; SCD2 upsert,
snapshot diff and incremental merges; sink round trips; Z-order cells;
the 2-D Pareto skyline and market-basket pairs; and mergeable
sketches (KMV, HLL and its pairwise set algebra, HDR, count-min). The
TPC-H shapes live in ``tpch.py``, the graph queries in
``graph_queries.py``.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.asof import as_of_join
from ..operators.skyline import skyline_2d
from ..sources.local import local_rows
from ..sources.readers import read_testdata_table
from .spec import US_DAY, QuerySpec


# --- as-of join -------------------------------------------------------------

def _purchases_and_clicks(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    ev = read_testdata_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    # one click per (user, ts): deterministic tie handling on both sides
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("event_id"))
    )
    return purchases, clicks


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase, the user's most recent click at-or-before it
    (union + window implementation; DuckDB's native ASOF JOIN is the
    oracle)."""
    purchases, clicks = _purchases_and_clicks(spark, sf_dir)
    joined = as_of_join(
        purchases,
        clicks,
        on="user_id",
        left_cols=["event_id"],
        right_cols=["event_id"],
    )
    return joined.select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("r_event_id").alias("click_id"),
    )


_ASOF_ORACLE = """
WITH purchases AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
clicks AS (
  SELECT user_id, ts, max(event_id) AS event_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
)
SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
FROM purchases p
ASOF JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


# --- range join via bucketing ----------------------------------------------

_BANDS = [(0, "budget"), (1, "low"), (2, "mid"), (3, "high"), (4, "premium")]


def q_range_join_bucketized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → price band. The range predicate (lo <= price < hi) is
    rewritten as an equi-join on a computed band id — the bucketization
    trick that turns a broadcast-nested-loop range join into a hash
    join at scale."""
    o = read_testdata_table(spark, sf_dir, "orders")
    bands = local_rows(spark, _BANDS, "band_id int, band_name string")
    band_id = F.least(F.floor(F.col("o_totalprice") / 100_000), F.lit(4)).cast("int")
    return (
        o.withColumn("band_id", band_id)
        .join(F.broadcast(bands), "band_id")
        .groupBy("band_name")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


_RANGE_ORACLE = """
WITH bands(band_id, band_name) AS (
  VALUES (0, 'budget'), (1, 'low'), (2, 'mid'), (3, 'high'), (4, 'premium')
)
SELECT band_name, count(*) AS n_orders
FROM orders JOIN bands
  ON least(CAST(floor(o_totalprice / 100000) AS INT), 4) = band_id
GROUP BY band_name
"""


# --- exact quantiles --------------------------------------------------------

def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (the oracle-checkable baseline for
    approx_percentile, which is sketch-based and engine-specific)."""
    o = read_testdata_table(spark, sf_dir, "orders")
    return o.agg(
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 6).alias("q25"),
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("q50"),
        F.round(F.expr("percentile(o_totalprice, 0.75)"), 6).alias("q75"),
    )


_QUANTILES_ORACLE = """
SELECT round(quantile_cont(o_totalprice, 0.25), 6) AS q25,
       round(quantile_cont(o_totalprice, 0.5), 6) AS q50,
       round(quantile_cont(o_totalprice, 0.75), 6) AS q75
FROM orders
"""


# --- unpivot ----------------------------------------------------------------

def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide → long via stack() (the inverse of the flagship's pivot)."""
    li = read_testdata_table(spark, sf_dir, "lineitem")
    return li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "stack(2, 'discount', l_discount, 'tax', l_tax) AS (charge_type, amount)",
    )


_UNPIVOT_ORACLE = """
SELECT l_orderkey, l_linenumber, 'discount' AS charge_type, l_discount AS amount FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem
"""


# --- SCD2 upsert emulation --------------------------------------------------

def q_scd2_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-less SCD2: customers with a pending order get a new
    version (+100 balance); prior row retained as non-current. Built
    from semi/anti joins + union — the v1 CDC recipe where Delta's
    MERGE INTO isn't available."""
    c = read_testdata_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    changed_keys = _pending_custkeys(spark, sf_dir)
    unchanged = c.join(changed_keys, "c_custkey", "left_anti").select(
        "c_custkey", "c_acctbal",
        F.lit(1).cast("long").alias("version"),
        F.lit(True).alias("is_current"),
    )
    old_versions = c.join(changed_keys, "c_custkey", "left_semi").select(
        "c_custkey", "c_acctbal",
        F.lit(1).cast("long").alias("version"),
        F.lit(False).alias("is_current"),
    )
    new_versions = c.join(changed_keys, "c_custkey", "left_semi").select(
        "c_custkey",
        (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
        F.lit(2).cast("long").alias("version"),
        F.lit(True).alias("is_current"),
    )
    return unchanged.unionByName(old_versions).unionByName(new_versions)


_SCD2_ORACLE = """
WITH changed AS (
  SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'P'
)
SELECT c_custkey, c_acctbal, CAST(1 AS BIGINT) AS version, TRUE AS is_current
FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM changed)
UNION ALL
SELECT c_custkey, c_acctbal, 1, FALSE
FROM customer WHERE c_custkey IN (SELECT c_custkey FROM changed)
UNION ALL
SELECT c_custkey, c_acctbal + 100.0, 2, TRUE
FROM customer WHERE c_custkey IN (SELECT c_custkey FROM changed)
"""


def q_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentile (approx_percentile / KLL), made
    oracle-checkable.

    The sketch value is engine-specific, so the query emits the exact
    median plus ``within_bound`` — whether the sketch landed within 5%
    relative error (accuracy=1000 bounds rank error to n/1000, far
    tighter than 5% in value on this distribution).  The oracle computes
    the exact median (quantile_cont, same linear interpolation as
    Spark's percentile) and a TRUE literal; a drifting sketch flips the
    boolean and fails the hash.
    """
    o = read_testdata_table(spark, sf_dir, "orders")
    agg = o.agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("_exact"),
        F.expr("approx_percentile(o_totalprice, 0.5, 1000)").alias("_approx"),
    )
    return agg.select(
        F.round("_exact", 6).alias("q50_exact"),
        (
            F.abs(F.col("_approx") - F.col("_exact")) / F.col("_exact")
            <= F.lit(0.05)
        ).alias("within_bound"),
    )


_QUANTILES_APPROX_ORACLE = """
SELECT round(quantile_cont(o_totalprice, 0.5), 6) AS q50_exact,
       TRUE AS within_bound
FROM orders
"""


def q_quantiles_approx_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The grouped form of quantiles_approx: per-group KLL sketches
    merge map-side (partial aggregation) before one shuffle on the
    group key — the shape that matters at scale, where a global sort
    per group would be prohibitive. Same within_bound contract: exact
    per-group median beside a 5%-relative-error boolean on the sketch."""
    li = read_testdata_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("_exact"),
        F.expr("approx_percentile(l_extendedprice, 0.5, 1000)").alias("_approx"),
    )
    return agg.select(
        "l_returnflag",
        F.round("_exact", 6).alias("q50_exact"),
        (
            F.abs(F.col("_approx") - F.col("_exact")) / F.col("_exact")
            <= F.lit(0.05)
        ).alias("within_bound"),
    )


_QUANTILES_APPROX_GROUP_ORACLE = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 6) AS q50_exact,
       TRUE AS within_bound
FROM lineitem GROUP BY l_returnflag
"""


def q_count_min_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch (the family member HLL/KLL built-ins
    don't cover), built declaratively with md5-replayable hash families
    — constant-size (d·w) shuffle regardless of vocabulary. Exact top-k
    term counts sit beside the sketch estimates; unlike the HLL/KLL
    queries no within-bound fallback is needed because the sketch is
    deterministic: the oracle re-derives every estimate exactly."""
    from ..sketches.countmin import heavy_hitters_with_estimates
    from ..sources.readers import read_testdata_table
    from ..text.analysis import tokens_col

    d = read_testdata_table(spark, sf_dir, "documents")
    occ = d.select(F.explode(tokens_col(F.col("text"))).alias("term"))
    return heavy_hitters_with_estimates(occ, term_col="term", k=20)


_CMS_DOCS_OCC = (
    "SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term"
    " FROM documents"
)


def count_min_oracle_sql(
    occ_select: str = _CMS_DOCS_OCC,
    depth: int = 4,
    width: int = 1024,
    k: int = 20,
) -> str:
    """DuckDB replay of the CMS build + exact top-k + probe estimates
    over any ``occ_select`` yielding a ``term`` column — ONE builder
    for the batch (documents tokens) and streaming (events user ids)
    catalog entries, mirroring sketches.countmin.heavy_hitters_report
    Spark-side."""
    h = (
        "list_sum(list_transform(generate_series(1, 14), j -> "
        "CAST(strpos('0123456789abcdef', substr(md5('{p}_' || term), j, 1)) - 1"
        " AS BIGINT) * (CAST(1 AS BIGINT) << (4 * (14 - j)))))"
    )
    h1, h2 = h.format(p="a"), h.format(p="b")
    return f"""
WITH occ AS (
  {occ_select}
), hashed AS (
  SELECT term, {h1} AS h1, {h2} AS h2 FROM occ
), cells AS (
  SELECT j, (h1 + j * h2) % {width} AS bucket, count(*) AS s
  FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, {depth - 1})) AS j)
  GROUP BY 1, 2
), exact AS (
  SELECT term, CAST(count(*) AS BIGINT) AS exact_count
  FROM occ GROUP BY term
  ORDER BY exact_count DESC, term ASC LIMIT {k}
), probes AS (
  SELECT term, exact_count, j, (h1 + j * h2) % {width} AS bucket
  FROM (SELECT term, exact_count, {h1} AS h1, {h2} AS h2 FROM exact) e
  CROSS JOIN (SELECT unnest(generate_series(0, {depth - 1})) AS j)
)
SELECT term, exact_count,
       CAST(min(s) AS BIGINT) AS cms_estimate,
       min(s) >= exact_count AS overestimates
FROM probes JOIN cells USING (j, bucket)
GROUP BY term, exact_count
"""


# ------------------------- PIT join + snapshot diff -------------------------

# Shared "changed customers" rule: one definition for the SCD2/PIT/diff
# family (review finding: four copy-pasted sites could drift).
_PENDING_SQL = "SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'P'"


def _pending_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_testdata_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "P")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )



_PIT_LO, _PIT_SPLIT, _PIT_HI = "1900-01-01", "1998-01-01", "9999-12-31"


def _scd2_dim_with_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic SCD2 customer dimension WITH validity ranges:
    pending-order customers get v1 [lo, split) and v2 [split, hi) with
    +100 balance; everyone else one all-time version — the same change
    rule as q_scd2_upsert, extended to the time axis."""
    c = read_testdata_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    changed = _pending_custkeys(spark, sf_dir)
    lo = F.lit(_PIT_LO).cast("timestamp")
    mid = F.lit(_PIT_SPLIT).cast("timestamp")
    hi = F.lit(_PIT_HI).cast("timestamp")
    one_ver = c.join(changed, "c_custkey", "left_anti").select(
        "c_custkey", "c_acctbal", F.lit(1).cast("long").alias("version"),
        lo.alias("valid_from"), hi.alias("valid_to"),
    )
    v1 = c.join(changed, "c_custkey", "left_semi").select(
        "c_custkey", "c_acctbal", F.lit(1).cast("long").alias("version"),
        lo.alias("valid_from"), mid.alias("valid_to"),
    )
    v2 = c.join(changed, "c_custkey", "left_semi").select(
        "c_custkey", (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
        F.lit(2).cast("long").alias("version"),
        mid.alias("valid_from"), hi.alias("valid_to"),
    )
    return one_ver.unionByName(v1).unionByName(v2)


def q_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join (operators/pit.py): every order sees the
    customer version valid AT ITS ORDER DATE — the feature-store
    lookup that prevents label leakage. Aggregated per version so the
    oracle hash covers which side of the validity split every order
    landed on."""
    from ..operators.pit import point_in_time_join

    fact = read_testdata_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderdate", "o_totalprice"
    )
    dim = _scd2_dim_with_ranges(spark, sf_dir)
    joined = point_in_time_join(
        fact, dim, key="c_custkey", time_col="o_orderdate"
    )
    return joined.groupBy("version").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.count_distinct("c_custkey").alias("n_custs"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total"),
    )


_PIT_ORACLE = f"""
WITH changed AS (
  SELECT o_custkey AS k FROM ({_PENDING_SQL}) p
), dim AS (
  SELECT c_custkey, c_acctbal, CAST(1 AS BIGINT) AS version,
         TIMESTAMP '{_PIT_LO}' AS vf, TIMESTAMP '{_PIT_HI}' AS vt
  FROM customer WHERE c_custkey NOT IN (SELECT k FROM changed)
  UNION ALL
  SELECT c_custkey, c_acctbal, 1,
         TIMESTAMP '{_PIT_LO}', TIMESTAMP '{_PIT_SPLIT}'
  FROM customer WHERE c_custkey IN (SELECT k FROM changed)
  UNION ALL
  SELECT c_custkey, c_acctbal + 100.0, 2,
         TIMESTAMP '{_PIT_SPLIT}', TIMESTAMP '{_PIT_HI}'
  FROM customer WHERE c_custkey IN (SELECT k FROM changed)
)
SELECT version,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_custs,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders o JOIN dim d
  ON o.o_custkey = d.c_custkey
 AND o.o_orderdate >= d.vf AND o.o_orderdate < d.vt
GROUP BY version
"""


_DIFF_ADD_MOD, _DIFF_DROP_MOD = 89, 97


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot CDC (operators/incremental.py snapshot_diff): two
    deterministic snapshots of customer — 'old' missing every
    custkey % 89 == 0 row (added later), 'new' missing % 97 == 0
    (removed) and carrying +100 balances for pending-order customers
    (changed) — classified row-by-row with one full-outer join."""
    from ..operators.incremental import snapshot_diff

    c = read_testdata_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    changed = _pending_custkeys(spark, sf_dir)
    old = c.filter(F.col("c_custkey") % _DIFF_ADD_MOD != 0)
    new = (
        c.filter(F.col("c_custkey") % _DIFF_DROP_MOD != 0)
        .join(changed.withColumn("_chg", F.lit(1)), "c_custkey", "left")
        .select(
            "c_custkey",
            (F.col("c_acctbal") + F.when(F.col("_chg").isNotNull(), 100.0)
             .otherwise(0.0)).alias("c_acctbal"),
        )
    )
    return snapshot_diff(old, new, key="c_custkey", compare_cols=["c_acctbal"])


_SNAPSHOT_DIFF_ORACLE = f"""
WITH changed AS (
  SELECT o_custkey AS k FROM ({_PENDING_SQL}) p
), old AS (
  SELECT c_custkey, c_acctbal FROM customer
  WHERE c_custkey % {_DIFF_ADD_MOD} != 0
), new AS (
  SELECT c_custkey,
         c_acctbal + CASE WHEN c_custkey IN (SELECT k FROM changed)
                          THEN 100.0 ELSE 0.0 END AS c_acctbal
  FROM customer WHERE c_custkey % {_DIFF_DROP_MOD} != 0
)
SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
       CASE WHEN o.c_custkey IS NULL THEN 'added'
            WHEN n.c_custkey IS NULL THEN 'removed'
            WHEN o.c_acctbal IS DISTINCT FROM n.c_acctbal THEN 'changed'
            ELSE 'unchanged' END AS change_type,
       o.c_acctbal AS old_c_acctbal,
       n.c_acctbal AS new_c_acctbal
FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
"""


# ------------------------- incremental MV maintenance -------------------------

_MV_CUTOFF = "1998-01-01"


def q_incremental_mv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance (operators/incremental.py): the
    pre-cutoff orders play the EXISTING per-status summary, the
    post-cutoff orders the new delta batch; their algebraic states
    merge without rescanning history. The oracle aggregates the raw
    table directly, so green proves merge(state(A), state(B)) ==
    state(A ∪ B) value-for-value — the lossless-merge contract, not
    just the shape."""
    from ..operators.incremental import (
        aggregate_state,
        finalize_measures,
        merge_aggregate_states,
    )

    o = read_testdata_table(spark, sf_dir, "orders")
    cutoff = F.lit(_MV_CUTOFF).cast("timestamp")
    existing = aggregate_state(
        o.filter(F.col("o_orderdate") < cutoff),
        keys=["o_orderstatus"], value_col="o_totalprice",
    )
    delta = aggregate_state(
        o.filter(F.col("o_orderdate") >= cutoff),
        keys=["o_orderstatus"], value_col="o_totalprice",
    )
    merged = merge_aggregate_states(existing, delta, keys=["o_orderstatus"])
    return finalize_measures(merged, keys=["o_orderstatus"])


_MV_MERGE_ORACLE = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
         AS avg_v,
       min(o_totalprice) AS min_v,
       max(o_totalprice) AS max_v
FROM orders GROUP BY o_orderstatus
"""


_JD_CUTOFF = "2001-01-01"


def q_incremental_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN maintenance
    (operators/incremental.py:insert_only_join_delta): orders and
    lineitem each split at the cutoff into (base, delta); the operator
    produces Δ(orders⋈lineitem) from two delta-sided joins without
    touching base⋈base. The oracle computes the delta directly as the
    full join filtered to at-least-one-side-new — equality proves the
    delta algebra enumerates exactly the new pairs, no more, no
    less (the MV-merge lossless contract, for joins)."""
    from ..operators.incremental import insert_only_join_delta

    cutoff = F.lit(_JD_CUTOFF).cast("timestamp")
    o = read_testdata_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = read_testdata_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_shipdate", "l_returnflag", "l_extendedprice",
    )
    delta = insert_only_join_delta(
        o.filter(F.col("o_orderdate") < cutoff),
        o.filter(F.col("o_orderdate") >= cutoff),
        li.filter(F.col("l_shipdate") < cutoff),
        li.filter(F.col("l_shipdate") >= cutoff),
        "o_orderkey",
    )
    return delta.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


_JOIN_DELTA_ORACLE = f"""
SELECT l_returnflag,
       count(*) AS n_pairs,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderdate >= TIMESTAMP '{_JD_CUTOFF}'
   OR l_shipdate >= TIMESTAMP '{_JD_CUTOFF}'
GROUP BY l_returnflag
"""


# ------------------------- KMV distinct sketch -------------------------

_KMV_K = 96
_KMV_SPACE = 1 << 56


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct sketch (sketches/kmv.py) over
    lineitem's order keys by return flag, plus the 'ALL' row whose
    sketch is the elementwise MERGE of the per-group sketches — the
    union-cardinality op HLL offers but with EXACT md5 replay instead
    of a within-bound contract. Exact distincts ride along as the
    accuracy reference."""
    from ..sketches.kmv import kmv_distinct_by_group
    from ..sources.readers import read_testdata_table

    li = read_testdata_table(spark, sf_dir, "lineitem")
    # (flag, orderkey) carries ~1.8x duplicates and every row pays 2
    # md5s + a x96 explode — the sketch's batch dedup measured -23%
    # here (OPTIMIZATION_r13.md §2); values identical by construction
    # (min is duplicate-insensitive). The HLL twin measured +22% (1 md5,
    # no fan-out) and does not dedup.
    return kmv_distinct_by_group(
        li, group_col="l_returnflag", value_col="l_orderkey", k=_KMV_K
    )


def kmv_oracle_sql(base_select: str, k: int) -> str:
    """DuckDB replay of the KMV sketch + merge + estimate + exact
    counts over any ``base_select`` yielding ("group", val) columns —
    ONE builder for the batch (lineitem) and streaming (events)
    catalog entries, mirroring sketches.kmv.kmv_report Spark-side."""
    h = (
        "list_sum(list_transform(generate_series(1, 14), j -> "
        "CAST(strpos('0123456789abcdef', substr(md5('{p}_' || val), j, 1)) - 1"
        " AS BIGINT) * (CAST(1 AS BIGINT) << (4 * (14 - j)))))"
    )
    h1, h2 = h.format(p="ka"), h.format(p="kb")
    return f"""
WITH base AS (
  {base_select}
), hashed AS (
  SELECT "group", {h1} AS h1, {h2} AS h2 FROM base
), sk AS (
  SELECT "group", j, min((h1 + j * h2) % {_KMV_SPACE}) AS min_h
  FROM hashed
  CROSS JOIN (SELECT unnest(generate_series(0, {k - 1})) AS j)
  GROUP BY 1, 2
), merged AS (
  SELECT 'ALL' AS "group", j, min(min_h) AS min_h FROM sk GROUP BY j
), allsk AS (
  SELECT * FROM sk UNION ALL SELECT * FROM merged
), est AS (
  SELECT "group",
         CAST(count(*) AS BIGINT) AS k_minima,
         CAST((count(*) * {_KMV_SPACE}) // sum(min_h) - 1 AS BIGINT)
           AS distinct_estimate
  FROM allsk GROUP BY "group"
), ex AS (
  SELECT "group", CAST(count(DISTINCT val) AS BIGINT) AS exact_distinct
  FROM base GROUP BY "group"
  UNION ALL
  SELECT 'ALL', CAST(count(DISTINCT val) AS BIGINT) FROM base
)
SELECT "group", k_minima, distinct_estimate, exact_distinct
FROM est JOIN ex USING ("group")
"""


# ------------------- HDR quantile sketch -------------------

_HDR_SUB_BITS = 5


def q_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable rank/quantile sketch (sketches/quantile.py) over
    lineitem extended prices by return flag: HDR-style log2 bucket
    counts (bit-length + 2^5 linear sub-buckets per octave — integer-
    exact, no libm), p50/p90/p99 read off per-group cumulative bucket
    counts, plus the 'ALL' row whose sketch is the per-code SUM of the
    per-group sketches (the additive merge). True-rank fractions ride
    along as the accuracy reference. Completes the sketch family:
    KMV = distinct, HLL = grouped distinct, CMS = frequency,
    HDR = rank."""
    from ..sketches.quantile import hdr_quantiles_by_group
    from ..sources.readers import read_testdata_table

    li = read_testdata_table(spark, sf_dir, "lineitem")
    return hdr_quantiles_by_group(
        li,
        group_col="l_returnflag",
        value_col="l_extendedprice",
        sub_bits=_HDR_SUB_BITS,
    )


def hdr_oracle_sql(base_select: str, sub_bits: int) -> str:
    """DuckDB replay of the HDR quantile sketch + merge + estimates +
    true-rank reference over any ``base_select`` yielding
    ("group", val) columns — ONE builder for the batch (lineitem) and
    streaming (events) catalog entries, consuming the SAME generated
    bucket/decode expression text as the Spark side
    (sketches.quantile.code_sql / rep_sql, duckdb dialect)."""
    from ..sketches.quantile import DEFAULT_PERCENTS, code_sql, rep_sql

    code = code_sql("c", sub_bits, "duckdb")
    est_cols = ",\n         ".join(
        f"min(CASE WHEN cum >= ({p} * n + 99) // 100 THEN code END)"
        f" AS _qcode_{lab}"
        for lab, p in DEFAULT_PERCENTS
    )
    rep_cols = ",\n         ".join(
        f"{rep_sql(f'_qcode_{lab}', sub_bits, 'duckdb')} AS _qrep_{lab}"
        for lab, _ in DEFAULT_PERCENTS
    )
    est_out = ",\n       ".join(
        f"round(CAST(max(r._qrep_{lab}) AS DOUBLE) / 100.0, 6) AS est_{lab}"
        for lab, _ in DEFAULT_PERCENTS
    )
    rank_out = ",\n       ".join(
        f"round(CAST(sum(CASE WHEN ca.c <= r._qrep_{lab} THEN 1 ELSE 0 END)"
        f" AS DOUBLE) / CAST(max(r.n_rows) AS DOUBLE), 6) AS rank_{lab}"
        for lab, _ in DEFAULT_PERCENTS
    )
    return f"""
WITH base AS (
  {base_select}
), cents AS (
  SELECT "group", CAST(floor(val * 100 + 0.5) AS BIGINT) AS c
  FROM base WHERE val IS NOT NULL
), coded AS (
  SELECT "group", {code} AS code FROM cents
), sk AS (
  SELECT "group", code, CAST(count(*) AS BIGINT) AS cnt
  FROM coded GROUP BY 1, 2
), allsk AS (
  SELECT * FROM sk
  UNION ALL
  SELECT 'ALL' AS "group", code, CAST(sum(cnt) AS BIGINT) FROM sk GROUP BY code
), cum AS (
  SELECT "group", code,
         sum(cnt) OVER (PARTITION BY "group" ORDER BY code) AS cum,
         sum(cnt) OVER (PARTITION BY "group") AS n
  FROM allsk
), est AS (
  SELECT "group",
         CAST(max(n) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_buckets,
         {est_cols}
  FROM cum GROUP BY 1
), reps AS (
  SELECT "group", n_rows, n_buckets,
         {rep_cols}
  FROM est
), centsall AS (
  SELECT * FROM cents
  UNION ALL
  SELECT 'ALL' AS "group", c FROM cents
)
SELECT r."group" AS "group",
       CAST(max(r.n_rows) AS BIGINT) AS n_rows,
       CAST(max(r.n_buckets) AS BIGINT) AS n_buckets,
       {est_out},
       {rank_out}
FROM centsall ca JOIN reps r USING ("group")
GROUP BY 1
"""


# ------------------- CMS inner-product join sizing -------------------

_CJS_SPLIT_YEAR = 1999
# inner-product error is additive ~ |A|·|B|/w per row (Cormode-
# Muthukrishnan), NOT vocabulary-relative like point estimates — at
# sf0.1 (|A|≈351k, |B|≈249k) w=2^16 bounds the expected excess to
# ~1.3M over a 4.37M true size (+30%); w=1024 would drown the signal
# 5x over. The sketch stays d·w rows — constant in data size.
_CJS_DEPTH, _CJS_WIDTH = 4, 1 << 16


def q_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join size estimation (sketches/countmin.py:
    cms_join_size_estimate): how many rows would joining pre-1999
    lineitems to 1999+ lineitems on part key produce? (Testdata
    shipdates span 1995-2001, so the 1999 split leaves both eras
    populated at every sf.) Both sides have
    real multiplicities (~15 lines per part per era at sf0.1), so the
    answer is Σ cntA·cntB — the occurrence-weighted question the KMV
    join-cardinality entry (distinct-key overlap) cannot see. The CMS
    inner product answers it from two constant-size sketches without
    running the join; the exact reference rides along, and the
    one-sided guarantee (estimate ≥ exact, collisions only add) is an
    emitted boolean. Exact integer arithmetic over md5-replayable
    hashes — the oracle re-derives both numbers bit-for-bit."""
    from ..sketches.countmin import cms_join_size_estimate

    li = read_testdata_table(spark, sf_dir, "lineitem")
    key = F.col("l_partkey").cast("string").alias("term")
    a = li.filter(F.year("l_shipdate") < _CJS_SPLIT_YEAR).select(key)
    b = li.filter(F.year("l_shipdate") >= _CJS_SPLIT_YEAR).select(key)
    return cms_join_size_estimate(
        a, b, term_col_a="term", term_col_b="term",
        depth=_CJS_DEPTH, width=_CJS_WIDTH,
    )


def _cms_join_size_oracle() -> str:
    h = (
        "list_sum(list_transform(generate_series(1, 14), j -> "
        "CAST(strpos('0123456789abcdef', substr(md5('{p}_' || term), j, 1)) - 1"
        " AS BIGINT) * (CAST(1 AS BIGINT) << (4 * (14 - j)))))"
    )
    h1, h2 = h.format(p="a"), h.format(p="b")
    d, w, y = _CJS_DEPTH, _CJS_WIDTH, _CJS_SPLIT_YEAR
    return f"""
WITH a AS (
  SELECT CAST(l_partkey AS VARCHAR) AS term FROM lineitem
  WHERE year(l_shipdate) < {y}
), b AS (
  SELECT CAST(l_partkey AS VARCHAR) AS term FROM lineitem
  WHERE year(l_shipdate) >= {y}
), js AS (SELECT unnest(generate_series(0, {d - 1})) AS j),
sa AS (
  SELECT j, (h1 + j * h2) % {w} AS bucket, count(*) AS s
  FROM (SELECT {h1} AS h1, {h2} AS h2 FROM a) CROSS JOIN js
  GROUP BY 1, 2
), sb AS (
  SELECT j, (h1 + j * h2) % {w} AS bucket, count(*) AS s
  FROM (SELECT {h1} AS h1, {h2} AS h2 FROM b) CROSS JOIN js
  GROUP BY 1, 2
), ip0 AS (
  SELECT sa.j, sum(sa.s * sb.s) AS v
  FROM sa JOIN sb ON sa.j = sb.j AND sa.bucket = sb.bucket
  GROUP BY sa.j
), ip AS (
  -- spine over ALL d rows: a collision-free row's inner product is 0
  -- and must participate in the min (see cms_join_size_estimate)
  SELECT js.j, coalesce(ip0.v, 0) AS v FROM js LEFT JOIN ip0 USING (j)
), est AS (
  SELECT CAST(min(v) AS BIGINT) AS cms_join_size_estimate FROM ip
), ex AS (
  SELECT CAST(coalesce(sum(ca.n * cb.n), 0) AS BIGINT) AS exact_join_size
  FROM (SELECT term, count(*) AS n FROM a GROUP BY 1) ca
  JOIN (SELECT term, count(*) AS n FROM b GROUP BY 1) cb USING (term)
)
SELECT cms_join_size_estimate, exact_join_size,
       cms_join_size_estimate >= exact_join_size AS overestimates
FROM est CROSS JOIN ex
"""


# ------------------------- HLL register sketch -------------------------

_HLL_P = 8


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped HyperLogLog-style register sketch (sketches/hll.py) over
    lineitem's order keys by return flag, plus the 'ALL' row whose
    registers are the elementwise MAX merge of the per-group sketches —
    the max-merge complement of the KMV minima sketch (m small ints of
    state vs k longs; merge = max vs min). The whole estimator — md5
    register routing, BIN-length ranks, exact DECIMAL harmonic sum,
    literal-table linear counting — is engine-replayable, so the oracle
    hash-checks every estimate exactly, not within-bound."""
    from ..sketches.hll import hll_distinct_by_group
    from ..sources.readers import read_testdata_table

    li = read_testdata_table(spark, sf_dir, "lineitem")
    return hll_distinct_by_group(
        li, group_col="l_returnflag", value_col="l_orderkey", p=_HLL_P
    )


def hll_sql_parts(p: int) -> dict:
    """The engine-parity-critical SQL fragments of the HLL estimator,
    built ONCE for every oracle that replays it (batch, streamed,
    sliding) so the hash expression, rank CASE, harmonic-term scaling,
    and linear-counting table can never diverge between copies (the
    round-6 review's dedup finding). Scaling is 2^(sb+1) — see
    sketches/hll.py:hll_estimate for why 2^sb is a negative-shift
    bug on all-zero suffixes."""
    from ..sketches.hll import _lc_table, hll_alpha

    m = 1 << p
    sb = 56 - p  # suffix bits carrying the rank
    scale = sb + 1
    return {
        "m": m,
        "sb": sb,
        "numerator": hll_alpha(m) * m * m * float(1 << scale),
        "lc_bound": 2.5 * m,
        "lc_rows": ",\n    ".join(
            f"({v}, {est!r})" for v, est in enumerate(_lc_table(m), start=1)
        ),
        "hash_expr": (
            "list_sum(list_transform(generate_series(1, 14), j -> "
            "CAST(strpos('0123456789abcdef', substr(md5('hl_' || val), j, 1))"
            " - 1 AS BIGINT) * (CAST(1 AS BIGINT) << (4 * (14 - j)))))"
        ),
        "rank_case": (
            f"CASE WHEN h % {1 << sb} = 0 THEN {sb + 1}"
            f" ELSE {sb + 1} - length(bin(h % {1 << sb})) END"
        ),
        "term_sql": (
            f"CAST(CAST(1 AS BIGINT) << ({scale} - max_rho) AS DECIMAL(38,0))"
        ),
        "zero_term": f"CAST({1 << scale} AS DECIMAL(38,0))",
    }


def hll_oracle_sql(base_select: str, p: int) -> str:
    """DuckDB replay of the HLL register sketch + max-merge + estimate
    + exact counts over any ``base_select`` yielding ("group", val)
    columns — ONE builder for the batch (lineitem) and streaming
    (events) catalog entries, mirroring sketches.hll.hll_report
    Spark-side (same md5 hash, same BIN-length ranks, same DECIMAL
    harmonic sum, same Python-precomputed ln table — all from
    ``hll_sql_parts``)."""
    q = hll_sql_parts(p)
    return f"""
WITH base AS (
  {base_select}
), hashed AS (
  SELECT "group", {q["hash_expr"]} AS h FROM base
), regs AS (
  SELECT "group", h // {1 << q["sb"]} AS register,
         max({q["rank_case"]}) AS max_rho
  FROM hashed GROUP BY 1, 2
), merged AS (
  SELECT 'ALL' AS "group", register, max(max_rho) AS max_rho
  FROM regs GROUP BY register
), allregs AS (
  SELECT * FROM regs UNION ALL SELECT * FROM merged
), agg AS (
  SELECT "group",
         CAST({q["m"]} - count(*) AS BIGINT) AS zero_registers,
         sum({q["term_sql"]}) AS s_present
  FROM allregs GROUP BY "group"
), lc(v, lc_est) AS (VALUES
    {q["lc_rows"]}
), est AS (
  SELECT "group", zero_registers,
         {q["numerator"]!r} / CAST(s_present
             + CAST(zero_registers AS DECIMAL(38,0))
               * {q["zero_term"]} AS DOUBLE) AS e_raw
  FROM agg
), ex AS (
  SELECT "group", CAST(count(DISTINCT val) AS BIGINT) AS exact_distinct
  FROM base GROUP BY "group"
  UNION ALL
  SELECT 'ALL', CAST(count(DISTINCT val) AS BIGINT) FROM base
)
SELECT est."group", CAST({q["m"]} AS BIGINT) AS m_registers, zero_registers,
       round(CASE WHEN e_raw <= {q["lc_bound"]!r} AND zero_registers > 0
                  THEN (SELECT lc_est FROM lc WHERE v = zero_registers)
                  ELSE e_raw END, 6) AS hll_estimate,
       exact_distinct
FROM est JOIN ex ON est."group" = ex."group"
"""


# ------------------------- HLL set algebra (pairs) -------------------------


def q_sketch_hll_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise union / intersection / Jaccard estimates between the
    order-key sets of lineitem's return classes from ONE pass of
    m-register sketches (sketches/hll.py:hll_set_ops) — the mergeable
    set algebra that makes register sketches the segment-overlap wire
    format at 100 TB (per-pair work is m small rows, data-independent).
    Exact counts ride along; every estimate is engine-replayed, so the
    oracle hash-checks the full inclusion-exclusion chain."""
    from ..sketches.hll import hll_set_ops

    li = read_testdata_table(spark, sf_dir, "lineitem")
    return hll_set_ops(
        li, group_col="l_returnflag", value_col="l_orderkey", p=_HLL_P
    )


def _hll_set_ops_oracle() -> str:
    q = hll_sql_parts(_HLL_P)
    est_case = f"""
         round(CASE WHEN e_raw <= {q["lc_bound"]!r} AND zero_registers > 0
                    THEN (SELECT lc_est FROM lc WHERE v = zero_registers)
                    ELSE e_raw END, 6)"""
    return f"""
WITH base AS (
  SELECT l_returnflag AS "group", CAST(l_orderkey AS VARCHAR) AS val
  FROM lineitem
), hashed AS (
  SELECT "group", {q["hash_expr"]} AS h FROM base
), regs AS (
  SELECT "group", h // {1 << q["sb"]} AS register,
         max({q["rank_case"]}) AS max_rho
  FROM hashed GROUP BY 1, 2
), pairs AS (
  SELECT a.g AS group_a, b.g AS group_b
  FROM (SELECT DISTINCT "group" AS g FROM regs) a
  JOIN (SELECT DISTINCT "group" AS g FROM regs) b ON a.g < b.g
), uregs AS (
  SELECT p.group_a, p.group_b, r.register, max(r.max_rho) AS max_rho
  FROM pairs p
  JOIN regs r ON r."group" = p.group_a OR r."group" = p.group_b
  GROUP BY 1, 2, 3
), lc(v, lc_est) AS (VALUES
    {q["lc_rows"]}
), gagg AS (
  SELECT "group", CAST({q["m"]} - count(*) AS BIGINT) AS zero_registers,
         {q["numerator"]!r} / CAST(sum({q["term_sql"]})
             + CAST({q["m"]} - count(*) AS DECIMAL(38,0))
               * {q["zero_term"]} AS DOUBLE) AS e_raw
  FROM regs GROUP BY "group"
), pagg AS (
  SELECT group_a, group_b,
         CAST({q["m"]} - count(*) AS BIGINT) AS zero_registers,
         {q["numerator"]!r} / CAST(sum({q["term_sql"]})
             + CAST({q["m"]} - count(*) AS DECIMAL(38,0))
               * {q["zero_term"]} AS DOUBLE) AS e_raw
  FROM uregs GROUP BY 1, 2
), gest AS (
  SELECT "group",{est_case} AS est
  FROM gagg
), pest AS (
  SELECT group_a, group_b,{est_case} AS est
  FROM pagg
), dv AS (
  SELECT DISTINCT "group" AS g, val FROM base
), ex AS (
  SELECT g, CAST(count(*) AS BIGINT) AS exact FROM dv GROUP BY g
), xin AS (
  SELECT x.g AS group_a, y.g AS group_b,
         CAST(count(*) AS BIGINT) AS exact_intersection
  FROM dv x JOIN dv y ON x.val = y.val AND x.g < y.g
  GROUP BY 1, 2
)
SELECT p.group_a, p.group_b,
       CAST({q["m"]} AS BIGINT) AS m_registers,
       ga.est AS est_a, gb.est AS est_b, pe.est AS est_union,
       round(ga.est + gb.est - pe.est, 6) AS est_intersection,
       round((ga.est + gb.est - pe.est) / pe.est, 6) AS est_jaccard,
       xa.exact AS exact_a, xb.exact AS exact_b,
       CAST(coalesce(xi.exact_intersection, 0) AS BIGINT)
         AS exact_intersection,
       CAST(xa.exact + xb.exact - coalesce(xi.exact_intersection, 0)
            AS BIGINT) AS exact_union
FROM pairs p
JOIN gest ga ON ga."group" = p.group_a
JOIN gest gb ON gb."group" = p.group_b
JOIN pest pe ON pe.group_a = p.group_a AND pe.group_b = p.group_b
JOIN ex xa ON xa.g = p.group_a
JOIN ex xb ON xb.g = p.group_b
LEFT JOIN xin xi
  ON xi.group_a = p.group_a AND xi.group_b = p.group_b
"""


# -------------------- KMV join-cardinality estimation --------------------

_KMVJ_K = 96


def q_kmv_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from sketches alone (sketches/kmv.py):
    KMV sketches of the orders and customer key sets merge by
    elementwise min into the UNION sketch, and inclusion-exclusion
    (D̂_A + D̂_B − D̂_{A∪B}) estimates the key overlap — the planner-
    style cardinality estimate a 100 TB engine computes WITHOUT
    scanning either table again (sketches are build artifacts; this
    query carries k·3 longs end to end). The exact overlap rides along
    for the error audit; every number is integer arithmetic, so the
    oracle replays estimates AND error exactly."""
    from ..sketches.kmv import kmv_estimate, kmv_sketch

    o = read_testdata_table(spark, sf_dir, "orders").select(
        F.lit("a").alias("g"), F.col("o_custkey").cast("string").alias("v")
    )
    c = read_testdata_table(spark, sf_dir, "customer").select(
        F.lit("b").alias("g"), F.col("c_custkey").cast("string").alias("v")
    )
    # the sketch's batch dedup measured -47% here (OPTIMIZATION_r13.md
    # §2): the x96 explode fan-out is paid once per distinct key, not
    # once per row
    sk = kmv_sketch(o.union(c), group_col="g", value_col="v", k=_KMVJ_K)
    union_sk = sk.groupBy("j").agg(F.min("min_h").alias("min_h")).select(
        F.lit("u").alias("group"), "j", "min_h"
    )
    est = kmv_estimate(sk.unionByName(union_sk))
    wide = est.groupBy().pivot("group", ["a", "b", "u"]).sum("distinct_estimate")
    exact = (
        read_testdata_table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("k"))
        .intersect(
            read_testdata_table(spark, sf_dir, "customer").select(
                F.col("c_custkey").alias("k")
            )
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return wide.crossJoin(exact).select(
        F.col("a").alias("est_orders_keys"),
        F.col("b").alias("est_customer_keys"),
        F.col("u").alias("est_union_keys"),
        (F.col("a") + F.col("b") - F.col("u")).alias("est_overlap"),
        F.col("n").cast("long").alias("exact_overlap"),
    )


def _kmv_join_cardinality_oracle() -> str:
    h = (
        "list_sum(list_transform(generate_series(1, 14), j -> "
        "CAST(strpos('0123456789abcdef', substr(md5('{p}_' || val), j, 1)) - 1"
        " AS BIGINT) * (CAST(1 AS BIGINT) << (4 * (14 - j)))))"
    )
    h1, h2 = h.format(p="ka"), h.format(p="kb")
    return f"""
WITH base AS (
  SELECT 'a' AS g, CAST(o_custkey AS VARCHAR) AS val FROM orders
  UNION ALL
  SELECT 'b', CAST(c_custkey AS VARCHAR) FROM customer
), hashed AS (
  SELECT g, {h1} AS h1, {h2} AS h2 FROM base
), sk AS (
  SELECT g, j, min((h1 + j * h2) % {_KMV_SPACE}) AS min_h
  FROM hashed
  CROSS JOIN (SELECT unnest(generate_series(0, {_KMVJ_K - 1})) AS j)
  GROUP BY 1, 2
), allsk AS (
  SELECT * FROM sk
  UNION ALL
  SELECT 'u', j, min(min_h) FROM sk GROUP BY j
), est AS (
  SELECT g,
         CAST((count(*) * {_KMV_SPACE}) // sum(min_h) - 1 AS BIGINT) AS d
  FROM allsk GROUP BY g
), wide AS (
  SELECT max(CASE WHEN g = 'a' THEN d END) AS a,
         max(CASE WHEN g = 'b' THEN d END) AS b,
         max(CASE WHEN g = 'u' THEN d END) AS u
  FROM est
), exact AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM (
    SELECT o_custkey AS k FROM orders
    INTERSECT
    SELECT c_custkey FROM customer
  )
)
SELECT a AS est_orders_keys, b AS est_customer_keys, u AS est_union_keys,
       a + b - u AS est_overlap, n AS exact_overlap
FROM wide CROSS JOIN exact
"""


# ------------------------- sink round-trips (S4/S5) -------------------------

# Each round trip writes into a TemporaryDirectory that is removed
# before the call returns, so the call returns rows already collected.


def q_sink_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 driver-checked: write lineitem as year-partitioned parquet
    (sources/writers.py — the layout that turns the reference's
    temporal train/test filter into static partition pruning), read it
    BACK through partition discovery, and aggregate per partition. The
    oracle computes the same aggregates from the source table, so a
    sink that drops/duplicates rows or mangles the partition column
    fails the hash."""
    from ..sources.writers import write_parquet

    li = read_testdata_table(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate")
    )
    with tempfile.TemporaryDirectory(
        prefix="sink_part_rt_", ignore_cleanup_errors=True
    ) as out:
        write_parquet(li, out, partition_by=["ship_year"])
        back = spark.read.parquet(out)
        agg = back.groupBy(F.col("ship_year").cast("long").alias("ship_year")).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        return local_rows(
            spark, agg.collect(), "ship_year long, n_rows long, sum_price double"
        )


_SINK_PART_ORACLE = """
SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
       count(*) AS n_rows,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM lineitem GROUP BY 1
"""


def q_sink_report_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 driver-checked: a small report aggregate written through the
    guarded single-CSV report sink (sources/writers.py) and read back
    with an explicit schema — the reference's pandas-style metric-table
    sink, minus the coalesce(1)-on-big-data anti-pattern (the guard
    refuses large tables). Oracle = the aggregate itself; a sink that
    loses precision in CSV formatting or drops the header fails."""
    from ..sources.writers import write_report_csv

    o = read_testdata_table(spark, sf_dir, "orders")
    report = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )
    schema = "o_orderpriority string, n_orders long, total_price double"
    with tempfile.TemporaryDirectory(
        prefix="sink_csv_rt_", ignore_cleanup_errors=True
    ) as out:
        write_report_csv(report, out)
        back = spark.read.csv(out, header=True, schema=schema)
        return local_rows(spark, back.collect(), schema)


_SINK_CSV_ORACLE = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders GROUP BY 1
"""


def q_sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC columnar sink round-trip (sources/writers.py:write_orc):
    orders written as status-partitioned ORC, read back through
    partition discovery, aggregated per partition. Same
    sink-integrity contract as the parquet round-trip — dropped or
    duplicated rows, a mangled partition column, or timestamp
    re-encoding drift all fail the value hash (the max-orderdate-day
    column pins the timestamp codec)."""
    from ..sources.writers import write_orc

    o = read_testdata_table(spark, sf_dir, "orders")
    with tempfile.TemporaryDirectory(
        prefix="sink_orc_rt_", ignore_cleanup_errors=True
    ) as out:
        write_orc(o, out, partition_by=["o_orderstatus"])
        back = spark.read.orc(out)
        agg = back.groupBy(
            F.col("o_orderstatus").cast("string").alias("o_orderstatus")
        ).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
            (F.unix_micros(F.max("o_orderdate")) / F.lit(US_DAY))
            .cast("long")
            .alias("max_orderdate_day"),
        )
        return local_rows(
            spark,
            agg.collect(),
            "o_orderstatus string, n_orders long, total_price double,"
            " max_orderdate_day long",
        )


_SINK_ORC_ORACLE = f"""
SELECT o_orderstatus,
       count(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       epoch_us(CAST(max(o_orderdate) AS TIMESTAMP)) // {US_DAY}
         AS max_orderdate_day
FROM orders GROUP BY 1
"""


def q_sink_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink round-trip (sources/writers.py:write_jsonl):
    customer written as JSONL, read back with an EXPLICIT schema (the
    reader never infers — SURVEY §2.1 S1 applies to JSON too), then
    aggregated. Doubles must survive the text round-trip bit-for-bit
    (Java's shortest-repr writer + exact parser), which the decimal
    sum over re-parsed c_acctbal verifies against the parquet-sourced
    oracle."""
    from ..sources.writers import write_jsonl

    c = read_testdata_table(spark, sf_dir, "customer")
    with tempfile.TemporaryDirectory(
        prefix="sink_jsonl_rt_", ignore_cleanup_errors=True
    ) as out:
        write_jsonl(c, out)
        back = spark.read.schema(c.schema).json(out)
        agg = back.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.round(F.col("c_acctbal"), 2).cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_acctbal"),
            F.count_distinct("c_nationkey").alias("n_nations"),
        )
        return local_rows(
            spark,
            agg.collect(),
            "c_mktsegment string, n_customers long, sum_acctbal double,"
            " n_nations long",
        )


_SINK_JSONL_ORACLE = """
SELECT c_mktsegment,
       count(*) AS n_customers,
       CAST(SUM(CAST(round(c_acctbal, 2) AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_acctbal,
       CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations
FROM customer GROUP BY 1
"""


def q_join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact join through same-bucketed catalog tables
    (sources/bucketing.py): both sides written bucketed by the join
    key (8 buckets, external temp location), joined with broadcast
    disabled — and the query ASSERTS its own scale property by
    raising unless the join plan is Exchange-free SortMergeJoin
    (bucket i joins bucket i; at 100 TB this deletes the dominant
    shuffle). The aggregation after the join adds its own tiny
    exchange, which is fine — the assertion is on the join subtree.
    The oracle replays the plain join, so co-location must also be
    RESULT-identical, not just shuffle-free."""
    from ..sources.bucketing import bucketed_join, write_bucketed_table

    orders = read_testdata_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    li = read_testdata_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    tables = (("sg_bkt_orders", orders), ("sg_bkt_lineitem", li))
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    with tempfile.TemporaryDirectory(prefix="bkt_", ignore_cleanup_errors=True) as tmp:
        try:
            for name, df in tables:
                spark.sql(f"DROP TABLE IF EXISTS {name}")
                write_bucketed_table(
                    df,
                    name,
                    bucket_by="o_orderkey",
                    num_buckets=8,
                    sort_by="o_orderkey",
                    path=os.path.join(tmp, name),
                )
            spark.conf.set(key, "-1")
            joined = bucketed_join(
                spark, "sg_bkt_orders", "sg_bkt_lineitem", "o_orderkey"
            )
            jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
            plan = joined._jdf.queryExecution().explainString(jmode)
            if "SortMergeJoin" not in plan or "Exchange" in plan:
                raise AssertionError(
                    "bucketed join must plan as Exchange-free SortMergeJoin:\n"
                    + plan
                )
            agg = joined.groupBy(
                (F.col("o_orderkey") % 8).alias("key_mod")
            ).agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_qty"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_price"),
            )
            # materialize inside the conf window, before the tables go
            return local_rows(
                spark,
                agg.collect(),
                "key_mod long, n_rows long, sum_qty double, sum_price double",
            )
        finally:
            spark.conf.set(key, saved)
            for name, _ in tables:
                spark.sql(f"DROP TABLE IF EXISTS {name}")


_BUCKETED_JOIN_ORACLE = """
SELECT o_orderkey % 8 AS key_mod,
       count(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY 1
"""


def q_projection_name_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 driver-checked: name-predicate column projection
    (operators/transforms.keep_columns_matching — the reference drops
    ``*_string`` indexed copies by name pattern,
    Scripts/2_...py:137). Column pruning must reach the scan."""
    from ..operators.transforms import keep_columns_matching

    p = read_testdata_table(spark, sf_dir, "part")
    return keep_columns_matching(
        p, lambda c: c.endswith("key") or c.endswith("price") or c.endswith("size")
    )


_PROJECTION_PATTERN_ORACLE = """
SELECT p_partkey, p_size, p_retailprice FROM part
"""


# --------------------- 2-D Pareto skyline ---------------------


def q_skyline_dominance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest-and-smallest part frontier: the distinct
    (p_retailprice, p_size) pairs not dominated under minimize-both
    (operators/skyline.py:skyline_2d — per-x min, range-bucketed
    prefix minima; no global-ordering window)."""
    part = read_testdata_table(spark, sf_dir, "part").select(
        "p_retailprice", F.col("p_size").cast("long").alias("p_size")
    )
    return skyline_2d(part, "p_retailprice", "p_size", buckets=64)


_SKYLINE_ORACLE = """
WITH pairs AS (
  SELECT p_retailprice, CAST(min(p_size) AS BIGINT) AS p_size
  FROM part GROUP BY p_retailprice
)
SELECT p_retailprice, p_size
FROM pairs p
WHERE NOT EXISTS (
  SELECT 1 FROM pairs q
  WHERE q.p_retailprice < p.p_retailprice AND q.p_size <= p.p_size
)
"""


# --------------------- market-basket association rules ---------------------

_BASKET_TOPK = 20


def q_basket_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent part pairs within orders with association-rule
    readouts (support, both confidences, lift) — market-basket
    analysis, the classic retail workload class. Apriori property as
    the scale lever: parts appearing in < 2 orders are pruned BEFORE
    the pair self-join (an item below pair-support cannot form a
    frequent pair), so the explode is bounded by basket_size² over
    the pruned baskets, never |parts|². Top-k with a (support desc,
    pa, pb) total order so the limit boundary is deterministic."""
    li = read_testdata_table(spark, sf_dir, "lineitem")
    # basket table feeds the order count, the item frequencies, AND
    # both sides of the pair join — compute once
    b = (
        li.select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    norders = b.agg(F.count_distinct("o").cast("long").alias("n_orders"))
    ifreq = b.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    bk = b.join(
        ifreq.filter(F.col("cnt") >= 2).select("p"), "p", "left_semi"
    ).localCheckpoint(eager=False)
    pairs = (
        bk.alias("x")
        .join(
            bk.alias("y"),
            (F.col("x.o") == F.col("y.o")) & (F.col("x.p") < F.col("y.p")),
        )
        .groupBy(F.col("x.p").alias("pa"), F.col("y.p").alias("pb"))
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= 2)
    )
    enriched = (
        pairs.join(
            ifreq.select(F.col("p").alias("pa"), F.col("cnt").alias("cnt_a")),
            "pa",
        )
        .join(
            ifreq.select(F.col("p").alias("pb"), F.col("cnt").alias("cnt_b")),
            "pb",
        )
        .crossJoin(F.broadcast(norders))
    )
    return (
        enriched.select(
            "pa",
            "pb",
            "support",
            "cnt_a",
            "cnt_b",
            F.round(
                F.expr("CAST(support AS DOUBLE) / CAST(cnt_a AS DOUBLE)"), 6
            ).alias("conf_a_to_b"),
            F.round(
                F.expr("CAST(support AS DOUBLE) / CAST(cnt_b AS DOUBLE)"), 6
            ).alias("conf_b_to_a"),
            F.round(
                F.expr(
                    "CAST(support AS DOUBLE) * CAST(n_orders AS DOUBLE)"
                    " / (CAST(cnt_a AS DOUBLE) * CAST(cnt_b AS DOUBLE))"
                ),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("support"), F.asc("pa"), F.asc("pb"))
        .limit(_BASKET_TOPK)
    )


_BASKET_ORACLE = f"""
WITH b AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), norders AS (
  SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM b
), ifreq AS (
  SELECT p, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY p
), bk AS (
  SELECT b.o, b.p FROM b JOIN ifreq USING (p) WHERE ifreq.cnt >= 2
), pairs AS (
  SELECT x.p AS pa, y.p AS pb, CAST(count(*) AS BIGINT) AS support
  FROM bk x JOIN bk y ON x.o = y.o AND x.p < y.p
  GROUP BY 1, 2
  HAVING count(*) >= 2
)
SELECT pa, pb, support, a.cnt AS cnt_a, bb.cnt AS cnt_b,
       round(CAST(support AS DOUBLE) / CAST(a.cnt AS DOUBLE), 6)
         AS conf_a_to_b,
       round(CAST(support AS DOUBLE) / CAST(bb.cnt AS DOUBLE), 6)
         AS conf_b_to_a,
       round(CAST(support AS DOUBLE) * CAST(n_orders AS DOUBLE)
             / (CAST(a.cnt AS DOUBLE) * CAST(bb.cnt AS DOUBLE)), 6)
         AS lift
FROM pairs
JOIN ifreq a ON a.p = pa
JOIN ifreq bb ON bb.p = pb
CROSS JOIN norders
ORDER BY support DESC, pa ASC, pb ASC
LIMIT {_BASKET_TOPK}
"""


# ------------------------- Z-order layout cells -------------------------

_Z_BITS = 4  # 16x16 grid → 256 cells


def q_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering audit (operators/zorder.py): bucket
    (l_quantity, l_extendedprice) into a 16x16 grid, Morton-interleave
    the bucket bits, and aggregate per cell — the key computation that
    drives ``write_zorder_layout``'s 2-D data-skipping clustering,
    value-checked bit-for-bit (bucketize and interleave are pure
    integer/fp arithmetic the oracle replays)."""
    from ..operators.zorder import zorder_key

    li = read_testdata_table(spark, sf_dir, "lineitem")
    b = li.agg(
        F.min("l_quantity"), F.max("l_quantity"),
        F.min("l_extendedprice"), F.max("l_extendedprice"),
    ).first()
    key = zorder_key(
        F.col("l_quantity"), F.col("l_extendedprice"),
        x_bounds=(float(b[0]), float(b[1])),
        y_bounds=(float(b[2]), float(b[3])),
        bits=_Z_BITS,
    )
    return (
        li.select(key.alias("zcell"), "l_quantity", "l_extendedprice")
        .groupBy("zcell")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("l_quantity"), 6).alias("min_qty"),
            F.round(F.max("l_quantity"), 6).alias("max_qty"),
            F.round(F.min("l_extendedprice"), 6).alias("min_price"),
            F.round(F.max("l_extendedprice"), 6).alias("max_price"),
        )
    )


def _zorder_oracle() -> str:
    n = 1 << _Z_BITS
    bx = (
        f"CAST(least(greatest(floor((l_quantity - (SELECT min(l_quantity) FROM lineitem))"
        f" / ((SELECT max(l_quantity) FROM lineitem) - (SELECT min(l_quantity) FROM lineitem))"
        f" * {n}), 0), {n - 1}) AS BIGINT)"
    )
    by = (
        f"CAST(least(greatest(floor((l_extendedprice - (SELECT min(l_extendedprice) FROM lineitem))"
        f" / ((SELECT max(l_extendedprice) FROM lineitem) - (SELECT min(l_extendedprice) FROM lineitem))"
        f" * {n}), 0), {n - 1}) AS BIGINT)"
    )
    interleave = " + ".join(
        f"((bx // {1 << i}) % 2) * {1 << (2 * i)}"
        f" + ((by // {1 << i}) % 2) * {1 << (2 * i + 1)}"
        for i in range(_Z_BITS)
    )
    return f"""
WITH bucketed AS (
  SELECT {bx} AS bx, {by} AS by, l_quantity, l_extendedprice FROM lineitem
)
SELECT CAST({interleave} AS BIGINT) AS zcell,
       count(*) AS n_rows,
       round(min(l_quantity), 6) AS min_qty,
       round(max(l_quantity), 6) AS max_qty,
       round(min(l_extendedprice), 6) AS min_price,
       round(max(l_extendedprice), 6) AS max_price
FROM bucketed GROUP BY 1
"""


QUERIES: list[QuerySpec] = [
    QuerySpec(
        "zorder_cells", q_zorder_cells, _zorder_oracle(),
        "Morton bit-interleave 2-D clustering cells, value-checked"
        " bucketize+interleave arithmetic",
    ),
    QuerySpec(
        "sink_partitioned_roundtrip", q_sink_partitioned_roundtrip,
        _SINK_PART_ORACLE,
        "S4: year-partitioned parquet sink → partition-discovery read-back ≡ source",
    ),
    QuerySpec(
        "sink_report_csv_roundtrip", q_sink_report_csv_roundtrip,
        _SINK_CSV_ORACLE,
        "S5: guarded single-CSV report sink → schema read-back ≡ aggregate",
    ),
    QuerySpec(
        "sink_orc_roundtrip", q_sink_orc_roundtrip,
        _SINK_ORC_ORACLE,
        "status-partitioned ORC sink → partition-discovery read-back ≡ source",
    ),
    QuerySpec(
        "sink_jsonl_roundtrip", q_sink_jsonl_roundtrip,
        _SINK_JSONL_ORACLE,
        "JSONL sink → explicit-schema read-back, doubles bit-exact",
    ),
    QuerySpec(
        "join_bucketed_colocated", q_join_bucketed_colocated,
        _BUCKETED_JOIN_ORACLE,
        "same-bucketed catalog tables join Exchange-free (self-asserted)"
        " and result-match the plain join",
    ),
    QuerySpec(
        "projection_name_pattern", q_projection_name_pattern,
        _PROJECTION_PATTERN_ORACLE,
        "P2: name-predicate column projection (pattern-matched keep list)",
    ),
    QuerySpec(
        "pit_join_versions", q_pit_join, _PIT_ORACLE,
        "point-in-time join to SCD2 versions (feature-store lookup,"
        " hash join + range filter — never a range join)",
    ),
    QuerySpec(
        "snapshot_diff", q_snapshot_diff, _SNAPSHOT_DIFF_ORACLE,
        "snapshot CDC delta: one full-outer join classifies every row"
        " added/removed/changed/unchanged",
    ),
    QuerySpec(
        "incremental_mv_merge", q_incremental_mv_merge, _MV_MERGE_ORACLE,
        "algebraic aggregate-state merge (MV maintenance): merged"
        " partials proven == full recompute",
    ),
    QuerySpec(
        "sketch_kmv_join_cardinality", q_kmv_join_cardinality,
        _kmv_join_cardinality_oracle(),
        "join-key-overlap estimation by KMV sketch algebra"
        " (inclusion-exclusion over elementwise-min merge)",
    ),
    QuerySpec(
        "incremental_join_delta", q_incremental_join_delta, _JOIN_DELTA_ORACLE,
        "insert-only join-view delta (dA⋈B ∪ A⋈dB), proven == direct"
        " at-least-one-side-new join",
    ),
    QuerySpec(
        "sketch_kmv_distinct", q_kmv_distinct,
        kmv_oracle_sql(
            'SELECT l_returnflag AS "group",'
            " CAST(l_orderkey AS VARCHAR) AS val FROM lineitem",
            _KMV_K,
        ),
        "k-minimum-values distinct sketch + sketch-merge union row,"
        " exact md5 replay (no within-bound fallback)",
    ),
    QuerySpec(
        "sketch_quantile_hdr", q_hdr_quantiles,
        hdr_oracle_sql(
            'SELECT l_returnflag AS "group",'
            " l_extendedprice AS val FROM lineitem",
            _HDR_SUB_BITS,
        ),
        "HDR log2-bucket quantile sketch (mergeable rank sketch):"
        " p50/p90/p99 + additive-merge union row, exact integer replay",
    ),
    QuerySpec(
        "sketch_cms_join_size", q_cms_join_size, _cms_join_size_oracle(),
        "pre-join size estimation via CMS inner product (min over d"
        " rows of Σ A_j[b]·B_j[b]) — occurrence-weighted complement of"
        " KMV join cardinality; exact reference + one-sided guarantee",
    ),
    QuerySpec(
        "sketch_hll_distinct", q_hll_distinct,
        hll_oracle_sql(
            'SELECT l_returnflag AS "group",'
            " CAST(l_orderkey AS VARCHAR) AS val FROM lineitem",
            _HLL_P,
        ),
        "grouped HLL register sketch + max-merge union row: md5 register"
        " routing, DECIMAL harmonic sum, literal-table linear counting —"
        " exact replay, no within-bound fallback",
    ),
    QuerySpec(
        "sketch_count_min_heavy_hitters", q_count_min_heavy_hitters,
        count_min_oracle_sql(),
        "declarative Count-Min sketch: exact top-20 terms vs replayed estimates",
    ),
    QuerySpec(
        "quantiles_approx", q_quantiles_approx, _QUANTILES_APPROX_ORACLE,
        "approx_percentile sketch, oracled via exact median + error-bound boolean",
    ),
    QuerySpec(
        "quantiles_approx_by_group", q_quantiles_approx_by_group,
        _QUANTILES_APPROX_GROUP_ORACLE,
        "per-group KLL median sketches (map-side partial merge), same within-bound contract",
    ),
    QuerySpec(
        "asof_join", q_asof_join, _ASOF_ORACLE,
        "as-of join via union+window vs DuckDB native ASOF JOIN",
    ),
    QuerySpec(
        "range_join_bucketized", q_range_join_bucketized, _RANGE_ORACLE,
        "range predicate rewritten to bucketized equi-join",
    ),
    QuerySpec(
        "quantiles", q_quantiles, _QUANTILES_ORACLE,
        "exact interpolated percentiles",
    ),
    QuerySpec(
        "unpivot", q_unpivot, _UNPIVOT_ORACLE, "stack() unpivot"
    ),
    QuerySpec(
        "scd2_upsert", q_scd2_upsert, _SCD2_ORACLE,
        "SCD2 upsert via semi/anti joins + union",
    ),
    QuerySpec(
        "sketch_hll_set_ops", q_sketch_hll_set_ops, _hll_set_ops_oracle(),
        "Pairwise HLL union/intersection/Jaccard set algebra",
    ),
    QuerySpec(
        "basket_frequent_pairs",
        q_basket_frequent_pairs,
        _BASKET_ORACLE,
        "Apriori-pruned frequent part pairs with confidence/lift",
    ),
    QuerySpec(
        "skyline_dominance",
        q_skyline_dominance,
        _SKYLINE_ORACLE,
        "Exact 2-D Pareto skyline via range-bucketed prefix minima",
    ),
]
