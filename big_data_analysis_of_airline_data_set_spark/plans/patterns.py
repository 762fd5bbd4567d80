"""Classic OLAP patterns the engine must support beyond the reference's
own surface: as-of, range (bucketized), point-in-time and bucketed
co-located joins; exact and sketched quantiles; unpivot; SCD2 upsert,
snapshot diff and incremental merges; sink round trips; Z-order cells;
mergeable sketches (KMV, HLL, HDR, count-min); and the PageRank,
k-core, triangle, hierarchy and degree-histogram graph queries. The TPC-H shapes live in
``tpch.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import BoundedCache
from ..operators.asof import as_of_join
from ..operators.graph import (
    _PR_CHECK_EVERY,
    _PR_DP,
    _sized,
    pagerank,
    pagerank_converged,
)
from ..session import rows_width, session_width
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


# ------------------------- hierarchy flatten -------------------------


def q_graph_hierarchy_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parent-pointer hierarchy flatten by pointer doubling
    (operators/graph.py:flatten_hierarchy): the supplier keys form a
    binary-heap tree (parent = (k−1) div 2, root 0 — a synthesized but
    arbitrarily-deep hierarchy), flattened to (node, root, depth) in
    O(log depth) self-join rounds. The oracle walks the SAME forest
    with a recursive CTE — the depth of every node and the single root
    are value-checked, so a wrong hop-count addition or a pointer that
    skips a level fails the hash."""
    from ..operators.graph import flatten_hierarchy

    s = read_testdata_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("node"),
        F.when(
            F.col("s_suppkey") > 0, F.expr("(s_suppkey - 1) div 2")
        ).alias("parent"),
    )
    return flatten_hierarchy(s, max_depth=64)


_HIERARCHY_ORACLE = """
WITH RECURSIVE r(node, root, depth) AS (
  SELECT s_suppkey, s_suppkey, CAST(0 AS BIGINT)
  FROM supplier WHERE s_suppkey = 0
  UNION ALL
  SELECT s.s_suppkey, r.root, r.depth + 1
  FROM supplier s JOIN r ON (s.s_suppkey - 1) // 2 = r.node
  WHERE s.s_suppkey > 0
)
SELECT node, root, depth FROM r
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

# temp sink dirs: bounded (oldest removed once >8 live — each round-trip
# query consumes its own dir before returning control, so only the most
# recent handful can still be referenced) and removed at interpreter
# exit — the round-3 unbounded-session-cache lesson applied here too.
_SINK_DIRS: list[str] = []
_SINK_DIRS_MAX = 8
_SINK_CLEANUP_REGISTERED = False


def _sink_dir(prefix: str) -> str:
    import atexit
    import shutil
    import tempfile

    global _SINK_CLEANUP_REGISTERED
    if not _SINK_CLEANUP_REGISTERED:
        def _cleanup() -> None:
            while _SINK_DIRS:
                shutil.rmtree(_SINK_DIRS.pop(), ignore_errors=True)

        atexit.register(_cleanup)
        _SINK_CLEANUP_REGISTERED = True
    while len(_SINK_DIRS) >= _SINK_DIRS_MAX:
        shutil.rmtree(_SINK_DIRS.pop(0), ignore_errors=True)
    d = tempfile.mkdtemp(prefix=prefix)
    _SINK_DIRS.append(d)
    return d


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
    out = _sink_dir("sink_part_rt_")
    write_parquet(li, out, partition_by=["ship_year"])
    back = spark.read.parquet(out)
    agg = (
        back.groupBy(F.col("ship_year").cast("long").alias("ship_year"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
    )
    # materialize NOW (a handful of per-year rows): the returned frame
    # must not lazily read a temp dir that eviction/atexit may remove
    # before a caller collects
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
    out = _sink_dir("sink_csv_rt_")
    write_report_csv(report, out)
    schema = "o_orderpriority string, n_orders long, total_price double"
    back = spark.read.csv(out, header=True, schema=schema)
    # materialize NOW — same temp-dir-lifetime reasoning as the
    # partitioned round-trip above
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
    out = _sink_dir("sink_orc_rt_")
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
    out = _sink_dir("sink_jsonl_rt_")
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
    for name, df in (("sg_bkt_orders", orders), ("sg_bkt_lineitem", li)):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        write_bucketed_table(
            df,
            name,
            bucket_by="o_orderkey",
            num_buckets=8,
            sort_by="o_orderkey",
            path=_sink_dir(f"bkt_{name}_"),
        )
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
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
        # materialize inside the conf window AND before the temp table
        # dirs become evictable
        return local_rows(
            spark,
            agg.collect(),
            "key_mod long, n_rows long, sum_qty double, sum_price double",
        )
    finally:
        spark.conf.set(key, saved)


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


# ------------------------- iterative graph (PageRank) -------------------------

_PR_ITERS = 5


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative PageRank (operators/graph.py) over the bipartite
    part↔supplier graph from lineitem (edges both directions, distinct).
    Five synchronous rounds as a driver loop of join+aggregate steps;
    top-20 nodes, deterministic tiebreak. The oracle replays all five
    iterations as unrolled CTEs with the identical per-iteration
    DECIMAL-summed rounding, so the whole iterative computation — not
    just its shape — is value-checked."""
    li = read_testdata_table(spark, sf_dir, "lineitem")
    fwd = li.select(
        F.concat(F.lit("p"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    edges = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # pagerank yields a LAZY persisted chain: this collect is the ONE
    # action that executes the whole loop. The top-20 rows are a
    # legitimate driver boundary; the block's exit releases every cache
    # the loop pinned (even on error).
    with pagerank(edges, iterations=_PR_ITERS) as ranks:
        rows = (
            ranks.select("node", F.round("rank", 9).alias("rank"))
            .orderBy(F.desc("rank"), F.asc("node"))
            .limit(20)
            .collect()
        )
    return local_rows(spark, rows, "node string, rank double")


def _pagerank_oracle() -> str:
    prev = "r0"
    iter_ctes = []
    for i in range(1, _PR_ITERS + 1):
        iter_cte = f"""
r{i} AS (
  SELECT n.node,
         round((1 - 0.85) / (SELECT cnt FROM nn)
               + 0.85 * CAST(coalesce(s.mass, 0) AS DOUBLE), {_PR_DP}) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node,
           SUM(CAST(round(r.rank / o.deg, {_PR_DP}) AS DECIMAL(30,{_PR_DP}))) AS mass
    FROM edges e
    JOIN {prev} r ON e.src = r.node
    JOIN outdeg o ON e.src = o.src
    GROUP BY e.dst
  ) s USING (node)
)"""
        iter_ctes.append(iter_cte)
        prev = f"r{i}"
    return f"""
WITH fwd AS (
  SELECT DISTINCT 'p' || l_partkey AS src, 's' || l_suppkey AS dst FROM lineitem
), edges AS (
  SELECT src, dst FROM fwd UNION SELECT dst, src FROM fwd
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
  UNION SELECT DISTINCT dst FROM edges
), nn AS (SELECT count(*) AS cnt FROM nodes),
outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
r0 AS (
  SELECT node, round(1.0 / (SELECT cnt FROM nn), {_PR_DP}) AS rank FROM nodes
),{",".join(iter_ctes)}
SELECT node, round(rank, 9) AS rank FROM {prev}
ORDER BY rank DESC, node ASC LIMIT 20
"""


# ------------------ converged PageRank (dangling + early stop) ------------------

_PRC_MAX, _PRC_TOL = 10, 0.4


def q_graph_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-semantics PageRank (operators/graph.py:pagerank_converged)
    over the DIRECTED part→supplier graph — suppliers have no
    out-edges, so every round carries real dangling mass to
    redistribute (the bipartite double-edged graph of q_graph_pagerank
    has none) — stopping when the exact DECIMAL L1 delta between
    consecutive iterations drops under tol at a barrier check.

    tol=0.4 stops the 10-round budget at round 8 on this graph
    (delta ≈ 1.54·0.81^t, scale-free across sfs), so the early-exit
    path executes, not just compiles. The oracle unrolls all 10
    rounds + the barrier delta decisions as CTEs and selects the
    SAME stopping iteration — the convergence decision itself is
    value-checked."""
    li = read_testdata_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("p"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    with pagerank_converged(
        edges, max_iterations=_PRC_MAX, tol=_PRC_TOL
    ) as (ranks, stopped):
        rows = (
            ranks.select("node", F.round("rank", 9).alias("rank"))
            .orderBy(F.desc("rank"), F.asc("node"))
            .limit(20)
            .collect()
        )
    return local_rows(
        spark,
        [(r.node, r.rank, stopped) for r in rows],
        "node string, rank double, stopped_at long",
    )


def _pagerank_converged_oracle() -> str:
    dp = _PR_DP
    dec = f"DECIMAL(30,{dp})"
    iter_ctes = []
    prev = "r0"
    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
    # each r_i references r_{i-1} twice (mass + dangling) — inlined,
    # the expansion is 2^10 scans of lineitem (measured: fd exhaustion);
    # materialized, each round is computed once, mirroring the Spark
    # side's per-iteration persist.
    for i in range(1, _PRC_MAX + 1):
        iter_ctes.append(f"""
r{i} AS MATERIALIZED (
  SELECT n.node, n.deg,
         round((1 - 0.85) / (SELECT cnt FROM nn)
               + 0.85 * (CAST(coalesce(s.mass, 0) AS DOUBLE)
                         + CAST(coalesce(
                             (SELECT SUM(CAST(rank AS {dec}))
                              FROM {prev} WHERE deg = 0), 0) AS DOUBLE)
                           / (SELECT cnt FROM nn)),
               {dp}) AS rank
  FROM nd n LEFT JOIN (
    SELECT e.dst AS node,
           SUM(CAST(round(r.rank / r.deg, {dp}) AS {dec})) AS mass
    FROM edges e
    JOIN {prev} r ON e.src = r.node AND r.deg > 0
    GROUP BY e.dst
  ) s USING (node)
)""")
        prev = f"r{i}"
    barriers = [
        i for i in range(1, _PRC_MAX + 1)
        if i % _PR_CHECK_EVERY == 0 or i == _PRC_MAX
    ]
    deltas = " UNION ALL ".join(
        f"SELECT {i} AS iter, (SELECT SUM(CAST(round(abs(a.rank - b.rank), {dp})"
        f" AS {dec})) FROM r{i} a JOIN r{i - 1} b USING (node)) AS delta"
        for i in barriers
    )
    allr = " UNION ALL ".join(
        f"SELECT {i} AS iter, node, rank FROM r{i}" for i in barriers
    )
    return f"""
WITH edges AS MATERIALIZED (
  SELECT DISTINCT 'p' || l_partkey AS src, 's' || l_suppkey AS dst FROM lineitem
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
  UNION SELECT DISTINCT dst FROM edges
), nn AS MATERIALIZED (SELECT count(*) AS cnt FROM nodes),
outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
nd AS MATERIALIZED (
  SELECT n.node, coalesce(o.deg, 0) AS deg
  FROM nodes n LEFT JOIN outdeg o ON n.node = o.src
),
r0 AS MATERIALIZED (
  SELECT node, deg, round(1.0 / (SELECT cnt FROM nn), {dp}) AS rank FROM nd
),{",".join(iter_ctes)},
deltas AS ({deltas}),
stop AS (
  SELECT coalesce(min(iter) FILTER (WHERE delta < {_PRC_TOL}), {_PRC_MAX}) AS si
  FROM deltas
),
allr AS ({allr})
SELECT node, round(rank, 9) AS rank,
       (SELECT CAST(si AS BIGINT) FROM stop) AS stopped_at
FROM allr WHERE iter = (SELECT si FROM stop)
ORDER BY rank DESC, node ASC LIMIT 20
"""


# ------------------------- triangle counting -------------------------

_TRI_TOPK = 10
_TRI_PCT = 0.9


def _unpersist_quietly(_key, frame: DataFrame) -> None:
    """BoundedCache eviction hook for persisted frames: an entry can
    outlive its SparkSession (keys carry the applicationId precisely
    because sessions cycle), and unpersisting against a stopped
    session raises — eviction must release best-effort, never fail.

    Plan-identity caveat (the caching.PlanPin postmortem pattern):
    Spark's CacheManager keys by canonical plan and is shared across
    sessions of one SparkContext, so evicting an OLD session's entry
    whose plan matches a LIVE session's freshly-cached twin (same
    sf_dir, new applicationId) would evict the live entry too. The
    consequence is a recompute, never wrongness, and the repo's
    one-session-per-process discipline (session.get_session) makes
    the overlap unreachable in practice — noted here because the
    failure would look like an inexplicable cache miss, not an error."""
    try:
        frame.unpersist()
    except Exception:
        pass


# The co-occurrence table is PCT-INDEPENDENT: every co-supplier graph
# query (triangles at pct 0.9, k-core and LPA at 0.5) consumes the same
# (u, v, shared-part-count) frame and only the threshold filter
# differs. Building it is the dominant cost of all three queries
# (lineitem-wide shuffles), so one persisted copy per (session, sf_dir)
# serves the whole family; eviction unpersists (round-8 verdict #3).
_CO_CACHE: BoundedCache[tuple, DataFrame] = BoundedCache(
    4, on_evict=_unpersist_quietly
)


def _co_supplier_co(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-supplier co-occurrence table (u, v, c): supplier pairs
    (u < v) with the count of distinct parts both supply, persisted
    and owned by the session cache.

    Build shape — two shuffles, no join: group lineitem's (part,
    supplier) pairs by part into a sorted DISTINCT supplier array
    (collect_set dedups map-side), explode each array's ordered pairs
    (posexplode + slice, no shuffle), then hash-aggregate pair counts.
    The previous plan (distinct → self-join on part → count) paid
    three lineitem-scale shuffles and a join for the same rows.

    Skew posture at 100 TB: a part with d distinct suppliers emits
    d(d-1)/2 pairs from ONE task here — but the self-join plan
    co-partitions by part too, so the hot part's quadratic pair
    generation is single-task in BOTH plans; the explosion is inherent
    to co-occurrence counting, not to this shape. TPC-H bounds d at
    ~4-8 suppliers/part at every SF. For corpora with unbounded hot
    keys, cap or salt the per-part array upstream.

    Width: the cache keeps the partition count it is written with, and
    every query of the family scans it every call, so it is sized from
    its own row count (``session.rows_width``). The count
    materializes the session-width build — the one lineitem pass — and
    when fewer partitions suffice the table is re-cached through a
    narrow ``coalesce`` of that cache (no shuffle, no lineitem rescan)
    and the wide copy released. At scale the rows fill the session
    width and the re-cache is skipped."""
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _CO_CACHE.get(key)
    if hit is None:
        li = read_testdata_table(spark, sf_dir, "lineitem")
        per_part = (
            li.select(
                F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
            )
            .groupBy("p")
            .agg(F.sort_array(F.collect_set("s")).alias("ss"))
        )
        pairs = per_part.select(
            F.posexplode("ss").alias("i", "u"), "ss"
        ).select(
            "u",
            F.explode(
                F.slice(F.col("ss"), F.col("i") + F.lit(2), F.size("ss"))
            ).alias("v"),
        )
        hit = (
            pairs.groupBy("u", "v").agg(F.count(F.lit(1)).alias("c")).persist()
        )
        width = session_width(spark)
        n = rows_width(width, hit.count())
        if n < width:
            wide, hit = hit, hit.coalesce(n).persist()
            hit.count()
            wide.unpersist()
        _CO_CACHE.put(key, hit)
    return hit


def _co_supplier_edges(
    spark: SparkSession, sf_dir: str, pct: float
) -> tuple[DataFrame, int]:
    """Edge set of the strong co-supplier graph, and a bound on its row
    count: suppliers become neighbors when their shared-part count
    exceeds the ``pct`` percentile of all co-occurrence counts (a
    RELATIVE threshold, so the graph stays non-trivial at every scale
    factor). The bound is the co-occurrence row count, taken in the
    threshold's own aggregate. The underlying co-occurrence table is
    session-cached (see _co_supplier_co) — ONE copy of the graph
    construction serves triangles, k-core, and LPA (round-6 review
    dedup finding; round-8 verdict made it per-session instead of
    per-query). Callers must NOT unpersist the result's lineage — the
    cache owns the persisted co frame."""
    co = _co_supplier_co(spark, sf_dir)
    thr, rows = co.agg(
        F.expr(f"percentile(c, {pct})"), F.count(F.lit(1))
    ).first()
    return co.filter(F.col("c") > thr).select("u", "v"), rows


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting (operators/graph.py triangle_counts) over the
    strong co-supplier graph: suppliers become neighbors when their
    shared-part count exceeds the 90th percentile of all co-occurrence
    counts (a RELATIVE threshold, so the graph stays non-trivial at
    every scale factor). Output: the top-10 vertices by triangle
    participation plus a TOTAL row. The co-occurrence table lives in
    the session cache (shared with k-core and LPA); the DEGREE-ORIENTED
    edge set is persisted for the duration (it is consumed by all
    three wedge-join scans, so the orientation's degree joins run
    once), collected, and released — the pagerank
    result-materialization pattern. The oracle replays the plain
    id-ordered closure: orientation changes which join finds each
    triangle, never the triangle set, so results are identical by
    construction."""
    from ..operators.graph import orient_by_degree, triangle_counts

    edges, _ = _co_supplier_edges(spark, sf_dir, _TRI_PCT)
    e = orient_by_degree(edges, u="u", v="v").persist()
    # per_vertex feeds TWO actions (top-10 collect + total agg) — persist
    # it too, or the whole wedge closure runs twice (review finding)
    per_vertex = triangle_counts(e, u="s", v="t", oriented=True).persist()
    top = (
        per_vertex.select(
            F.col("vertex").cast("string").alias("vertex"), "n_triangles"
        )
        .orderBy(F.desc("n_triangles"), F.asc("vertex"))
        .limit(_TRI_TOPK)
        .collect()
    )
    # each triangle contributes 3 vertex participations
    total = per_vertex.agg((F.sum("n_triangles") / 3).cast("long")).first()[0]
    per_vertex.unpersist()
    e.unpersist()
    rows = [("TOTAL", int(total or 0))] + [(r.vertex, r.n_triangles) for r in top]
    return local_rows(spark, rows, "vertex string, n_triangles long")


_TRIANGLES_ORACLE = f"""
WITH ps AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
), co AS (
  SELECT a.s AS u, b.s AS v, count(*) AS c
  FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
  GROUP BY 1, 2
), thr AS (SELECT quantile_cont(c, {_TRI_PCT}) AS t FROM co),
e AS (SELECT u, v FROM co CROSS JOIN thr WHERE c > t),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1 JOIN e e2 ON e1.v = e2.u
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
), pv AS (
  SELECT vertex, CAST(count(*) AS BIGINT) AS n_triangles
  FROM (SELECT a AS vertex FROM tri UNION ALL
        SELECT b FROM tri UNION ALL SELECT c FROM tri)
  GROUP BY vertex
)
SELECT 'TOTAL' AS vertex,
       CAST(coalesce((SELECT count(*) FROM tri), 0) AS BIGINT) AS n_triangles
UNION ALL
SELECT * FROM (
  SELECT CAST(vertex AS VARCHAR), n_triangles FROM pv
  ORDER BY n_triangles DESC, CAST(vertex AS VARCHAR) ASC LIMIT {_TRI_TOPK}
)
"""


# ------------------------- k-core decomposition -------------------------

_KCORE_PCT = 0.5       # co-occurrence threshold percentile (denser than
                       # the triangles graph so peeling has structure)
_KCORE_FRAC = 0.6      # k = floor(0.6 * median degree) + 1 — below the
                       # median, so near-regular graphs keep a core
                       # (k above the median cascades to empty on them)
_KCORE_ROUNDS = 12     # observed peeling depth <= 4 at every sf


def q_graph_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (operators/graph.py:k_core) of the
    co-supplier graph at the 50th-percentile co-occurrence threshold,
    with k derived from the DATA — floor(0.6 × median symmetric
    degree) + 1 — so the core is non-trivial and the peeling
    converges at every scale factor (relative thresholds, the
    q_graph_triangles lesson). Output: every core vertex with its
    in-core degree. The oracle unrolls 12 peel rounds as MATERIALIZED
    CTEs (each round references the previous survivor set TWICE — the
    2^N inlining trap) and reads the fixpoint round; the Spark loop
    stops at the fixpoint count, so convergence itself is
    value-checked."""
    from ..operators.graph import k_core

    e, rows = _co_supplier_edges(spark, sf_dir, _KCORE_PCT)
    # symmetrize ONCE — the median-degree statistic and the peel loop
    # share it (k_core is told symmetric=True so it skips its own
    # union+distinct; round-6 review finding). Cached at the width its
    # rows need (at most 2 per co-occurrence row), not the union's 2 ×
    # the co table's partitions; k_core sizes its edge table from it.
    sym = _sized(
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))),
        2 * rows,
        "u",
    ).persist()
    med = (
        sym.groupBy("u")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.expr("percentile(n, 0.5)"))
        .first()[0]
    )
    import math

    k = int(math.floor(_KCORE_FRAC * float(med))) + 1
    try:
        core = k_core(
            sym, k=k, u="u", v="v", max_rounds=_KCORE_ROUNDS, symmetric=True
        )
    finally:
        # release even when k_core raises (exhausted round budget) —
        # the pagerank error-path discipline (the co table
        # underneath belongs to the session cache, not this query)
        sym.unpersist()
    # k_core's result is an EAGER localCheckpoint — already materialized
    # and decoupled from co/e, so the inputs are safe to release above
    # and the frame returns lazily (no driver round-trip of the core)
    return core.select(
        F.col("vertex").cast("long").alias("vertex"),
        F.col("core_degree").cast("long").alias("core_degree"),
    )


def _k_core_oracle() -> str:
    prev = "a0"
    rounds = []
    for i in range(1, _KCORE_ROUNDS + 1):
        rounds.append(f"""
a{i} AS MATERIALIZED (
  SELECT s.s AS vertex, CAST(count(*) AS BIGINT) AS core_degree
  FROM sym s
  JOIN {prev} x ON s.s = x.vertex
  JOIN {prev} y ON s.d = y.vertex
  GROUP BY s.s
  HAVING count(*) >= (SELECT k FROM kv)
)""")
        prev = f"a{i}"
    return f"""
WITH ps AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
), co AS (
  SELECT a.s AS u, b.s AS v, count(*) AS c
  FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
  GROUP BY 1, 2
), thr AS (SELECT quantile_cont(c, {_KCORE_PCT}) AS t FROM co),
e AS MATERIALIZED (SELECT u, v FROM co CROSS JOIN thr WHERE c > t),
sym AS MATERIALIZED (SELECT u AS s, v AS d FROM e UNION SELECT v, u FROM e),
kv AS MATERIALIZED (
  SELECT CAST(floor({_KCORE_FRAC} * quantile_cont(n, 0.5)) + 1 AS BIGINT) AS k
  FROM (SELECT s, count(*) AS n FROM sym GROUP BY s)
),
a0 AS MATERIALIZED (SELECT DISTINCT s AS vertex FROM sym),{",".join(rounds)}
SELECT vertex, core_degree FROM {prev}
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


# ------------- bit-length-binned degree distribution -------------


def q_graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log₂-binned degree distribution of the customer→order
    bipartite graph (the first diagnostic before choosing a skew
    strategy: how heavy is the degree tail?).

    Engine parity: the bin is the integer BIT LENGTH of the degree —
    LENGTH(BIN(deg)) is the engine-neutral floor(log₂)+1 (both
    engines print minimal binary strings; float log2 misbins at
    power-of-two boundaries, see the repo gotcha). All counts
    exact."""
    orders = read_testdata_table(spark, sf_dir, "orders")
    deg = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("deg")
    )
    return (
        deg.groupBy(
            F.length(F.bin(F.col("deg"))).cast("long").alias("deg_bits")
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("deg").alias("min_deg"),
            F.max("deg").alias("max_deg"),
            F.sum("deg").alias("total_orders"),
        )
        .orderBy("deg_bits")
    )


_DEGREE_ORACLE = """
SELECT CAST(length(bin(deg)) AS BIGINT) AS deg_bits,
       count(*) AS n_customers,
       min(deg) AS min_deg,
       max(deg) AS max_deg,
       CAST(SUM(deg) AS BIGINT) AS total_orders
FROM (SELECT o_custkey, count(*) AS deg FROM orders GROUP BY 1) d
GROUP BY 1
ORDER BY 1
"""


QUERIES: list[QuerySpec] = [
    QuerySpec(
        "zorder_cells", q_zorder_cells, _zorder_oracle(),
        "Morton bit-interleave 2-D clustering cells, value-checked"
        " bucketize+interleave arithmetic",
    ),
    QuerySpec(
        "graph_pagerank", q_graph_pagerank, _pagerank_oracle(),
        "iterative PageRank (5 rounds) over part↔supplier graph,"
        " value-checked via unrolled-CTE replay",
    ),
    QuerySpec(
        "graph_pagerank_converged", q_graph_pagerank_converged,
        _pagerank_converged_oracle(),
        "full-semantics PageRank: dangling-mass redistribution + exact"
        " DECIMAL L1 early stop; the stop decision itself is oracled",
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
        "graph_triangles", q_graph_triangles, _TRIANGLES_ORACLE,
        "triangle counting via degree-ordered wedge closure over the"
        " percentile-thresholded co-supplier graph",
    ),
    QuerySpec(
        "graph_k_core", q_graph_k_core, _k_core_oracle(),
        "iterative k-core peeling (data-derived k) to fixpoint;"
        " 12-round MATERIALIZED-CTE oracle value-checks convergence",
    ),
    QuerySpec(
        "graph_degree_histogram",
        q_graph_degree_histogram,
        _DEGREE_ORACLE,
        "Bit-length-binned degree distribution (skew diagnostic)",
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
        "graph_hierarchy_flatten", q_graph_hierarchy_flatten,
        _HIERARCHY_ORACLE,
        "pointer-doubling hierarchy flatten (O(log depth) rounds),"
        " recursive-CTE oracle",
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
]
