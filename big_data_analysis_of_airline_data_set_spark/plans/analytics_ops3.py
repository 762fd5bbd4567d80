"""Decision-support analytics catalog, wave 7: the remaining TPC-H
query shapes adapted to the testdata schema (correlated-min lookup,
EXISTS semi-join, market share, conditional split, promo share,
large-volume HAVING, disjunctive predicate join, scalar-subquery +
anti-join), plus lag-1 autocorrelation, a decile gains table on the
bucketed-rank operator, and embedding label centroids.

No reference analogue (the reference's relational surface has zero
joins — mosama1994 Scripts/1-2 are single-table; these are engine
surface per the brief). Catalog contract as everywhere: Spark-first
plans with a DuckDB oracle replaying identical arithmetic — decimal
accumulation for order-independent sums, integer-exact moment sums
where the data is integral, IEEE-identical float division, round(6)
on statistics.

All eleven entries enter the correctness window by ledger
age (see ``plans/__init__.correctness_window``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..operators.ranking import bucketed_global_rank, ntile_from_rank
from ..sources.readers import read_testdata_table
from .spec import QuerySpec

_US_DAY = 86_400_000_000


# ------------- TPC-H Q2-style correlated-min lookup -------------


def q_tpch_q2_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest part per brand among small parts (size <= 10) — the
    Q2 shape: a correlated MIN subquery re-joined to recover the
    winning rows (all ties kept).

    Scale shape: the size filter is pushed to both part scans; the
    per-brand minima collapse to a 25-row frame that broadcasts back,
    so the 'correlated subquery' costs one hash aggregation plus a
    broadcast-hash join — no shuffle of the base table at all."""
    small = read_testdata_table(spark, sf_dir, "part").filter(
        F.col("p_size") <= 10
    )
    mins = small.groupBy(F.col("p_brand").alias("mb")).agg(
        F.min("p_retailprice").alias("min_price")
    )
    return (
        small.join(
            F.broadcast(mins),
            (F.col("p_brand") == F.col("mb"))
            & (F.col("p_retailprice") == F.col("min_price")),
        )
        .select(
            "p_brand",
            "p_partkey",
            "p_name",
            "p_retailprice",
            F.col("p_size").cast("long").alias("p_size"),
        )
    )


_Q2_ORACLE = """
SELECT p_brand, p_partkey, p_name, p_retailprice,
       CAST(p_size AS BIGINT) AS p_size
FROM part p
WHERE p_size <= 10
  AND p_retailprice = (SELECT min(p_retailprice) FROM part q
                       WHERE q.p_brand = p.p_brand AND q.p_size <= 10)
"""


# ------------- TPC-H Q4-style EXISTS semi-join -------------


def q_tpch_q4_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority counts of orders with at least one line shipped more
    than a year after the order date — the Q4 EXISTS shape on the
    columns this schema has (no commit/receipt dates).

    Scale shape: LEFT SEMI join, so lineitem never materializes into
    the output and duplicate matches never multiply rows; both sides
    shuffle once on the order key and the non-equi lateness predicate
    rides the hash join as a residual filter."""
    orders = read_testdata_table(spark, sf_dir, "orders")
    li = read_testdata_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 365 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


_Q4_ORACLE = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey
    AND l_shipdate > o_orderdate + INTERVAL 365 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ------------- TPC-H Q8-style market share -------------


def q_tpch_q8_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-nation market share of ECONOMY-part revenue inside
    AMERICA, per order year — Q8 generalized to every nation in the
    region (share-of-total instead of one hard-coded nation).

    Scale shape: region ⨝ nation is O(10) rows — broadcast, then the
    supplier join shrinks to region-local suppliers before touching
    the facts. Revenue accumulates as DECIMAL per (year, nation) — a
    tiny frame — and the share denominator is a per-year window SUM
    over that frame in DECIMAL (exact, order-independent), so the
    only float op is the final division."""
    nations = (
        read_testdata_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "AMERICA")
        .join(
            read_testdata_table(spark, sf_dir, "nation"),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    sup = read_testdata_table(spark, sf_dir, "supplier").join(
        F.broadcast(nations), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "n_name")
    parts = read_testdata_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY"
    ).select("p_partkey")
    orders = read_testdata_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("long").alias("o_year")
    )
    li = read_testdata_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    one_minus_d = (F.lit(1.0) - F.col("l_discount")).cast("decimal(4,2)")
    rev = (
        li.join(parts, li.l_partkey == parts.p_partkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_year", "n_name")
        .agg(F.sum(price * one_minus_d).alias("rev"))
    )
    total = W.partitionBy("o_year")
    return (
        rev.withColumn("tot", F.sum("rev").over(total))
        .select(
            "o_year",
            "n_name",
            F.col("rev").cast("double").alias("revenue"),
            F.round(
                F.col("rev").cast("double") / F.col("tot").cast("double"), 6
            ).alias("mkt_share"),
        )
        .orderBy("o_year", "n_name")
    )


_Q8_ORACLE = """
WITH rev AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, n_name,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS rev
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
  GROUP BY 1, 2
)
SELECT o_year, n_name,
       CAST(rev AS DOUBLE) AS revenue,
       round(CAST(rev AS DOUBLE)
             / CAST(SUM(rev) OVER (PARTITION BY o_year) AS DOUBLE), 6)
         AS mkt_share
FROM rev
ORDER BY o_year, n_name
"""


# ------------- TPC-H Q12-style conditional split -------------


def q_tpch_q12_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High- vs low-priority line counts per shipping-speed bucket
    (fast <= 90 days, normal <= 365, late beyond) — the Q12 shape
    with the lateness bucket standing in for the missing ship mode.

    Scale shape: one shuffle each side on the order key, then the
    CASE split folds into a single map-side-combined aggregation over
    three groups; day difference on midnight timestamps is exact and
    engine-identical."""
    orders = read_testdata_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = read_testdata_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    lag = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(lag <= 90, F.lit("fast"))
        .when(lag <= 365, F.lit("normal"))
        .otherwise(F.lit("late"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(bucket.alias("speed_bucket"))
        .agg(
            F.sum(high.cast("long")).alias("high_priority_lines"),
            F.sum((~high).cast("long")).alias("low_priority_lines"),
        )
        .orderBy("speed_bucket")
    )


_Q12_ORACLE = """
SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 90
            THEN 'fast'
            WHEN date_diff('day', o_orderdate, l_shipdate) <= 365
            THEN 'normal'
            ELSE 'late' END AS speed_bucket,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_lines,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_priority_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
ORDER BY 1
"""


# ------------- TPC-H Q14-style promo share -------------


def q_tpch_q14_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROMO-part revenue share per ship month across the full date
    range — Q14 as a monthly series instead of one pinned month.

    Scale shape: part collapses to (key, is-promo flag) before the
    join — small enough to broadcast at any SF where parts fit, with
    AQE falling back to shuffle-hash beyond; both the promo and total
    revenue accumulate as DECIMAL in ONE aggregation pass (a
    conditional sum, not two scans)."""
    parts = read_testdata_table(spark, sf_dir, "part").select(
        "p_partkey", (F.col("p_type") == "PROMO").alias("is_promo")
    )
    li = read_testdata_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    one_minus_d = (F.lit(1.0) - F.col("l_discount")).cast("decimal(4,2)")
    amount = price * one_minus_d
    zero = F.lit(0).cast("decimal(23,4)")
    return (
        li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
        .groupBy(
            F.year("l_shipdate").cast("long").alias("ship_year"),
            F.month("l_shipdate").cast("long").alias("ship_month"),
        )
        .agg(
            F.sum(F.when(F.col("is_promo"), amount).otherwise(zero)).alias(
                "promo"
            ),
            F.sum(amount).alias("total"),
        )
        .select(
            "ship_year",
            "ship_month",
            F.round(
                F.lit(100.0)
                * F.col("promo").cast("double")
                / F.col("total").cast("double"),
                6,
            ).alias("promo_pct"),
        )
        .orderBy("ship_year", "ship_month")
    )


_Q14_ORACLE = """
SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
       CAST(month(l_shipdate) AS BIGINT) AS ship_month,
       round(100.0
             * CAST(SUM(CASE WHEN p_type = 'PROMO'
                             THEN CAST(l_extendedprice AS DECIMAL(18,2))
                                  * CAST(1.0 - l_discount AS DECIMAL(4,2))
                             ELSE CAST(0 AS DECIMAL(23,4)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE),
             6) AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ------------- TPC-H Q18-style large-volume orders -------------


def q_tpch_q18_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 large-volume orders (total quantity > 300) with their
    customers — the Q18 HAVING-over-groupBy re-joined to the order
    and customer dimensions.

    Scale shape: the HAVING aggregation reduces lineitem to the rare
    qualifying orders FIRST (map-side combine on the order key), so
    the joins back to orders and customer move only survivors; the
    final top-20 is a TakeOrdered, not a global sort. Quantities
    accumulate as DECIMAL for exact threshold comparison."""
    li = read_testdata_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty")
        )
        .filter(F.col("qty") > 300)
    )
    orders = read_testdata_table(spark, sf_dir, "orders")
    cust = read_testdata_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            (F.unix_micros(F.col("o_orderdate")) / F.lit(_US_DAY))
            .cast("long")
            .alias("o_orderdate_day"),
            "o_totalprice",
            F.col("qty").cast("double").alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


_Q18_ORACLE = f"""
SELECT c_name, c_custkey, o_orderkey,
       epoch_us(CAST(o_orderdate AS TIMESTAMP)) // {_US_DAY}
         AS o_orderdate_day,
       o_totalprice,
       CAST(qty AS DOUBLE) AS total_qty
FROM (SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
      FROM lineitem GROUP BY 1 HAVING qty > 300) big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 20
"""


# ------------- TPC-H Q19-style disjunctive predicate join -------------


def q_tpch_q19_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from three OR'd (brand, size-range, quantity-range)
    channels, reported per brand — the Q19 disjunctive-predicate
    join.

    Scale shape: the disjunction splits into a PART-side prefilter
    (brand ∈ {12,23,34} AND size <= widest range — pushed to the part
    scan, shrinking the build side before the join) plus the full
    residual OR evaluated inside the join; quantity bounds also
    prefilter the lineitem scan to the union span [1, 45]."""
    part = read_testdata_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34")
        & (F.col("p_size") >= 1)
        & (F.col("p_size") <= 25)
    ).select("p_partkey", "p_brand", "p_size")
    li = read_testdata_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 45)
    )
    q, s, b = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    channel = (
        ((b == "Brand#12") & s.between(1, 15) & q.between(1, 25))
        | ((b == "Brand#23") & s.between(1, 20) & q.between(10, 35))
        | ((b == "Brand#34") & s.between(1, 25) & q.between(20, 45))
    )
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    one_minus_d = (F.lit(1.0) - F.col("l_discount")).cast("decimal(4,2)")
    return (
        li.join(
            F.broadcast(part), (li.l_partkey == part.p_partkey) & channel
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("line_count"),
            F.sum(price * one_minus_d).cast("double").alias("revenue"),
        )
        .orderBy("p_brand")
    )


_Q19_ORACLE = """
SELECT p_brand,
       count(*) AS line_count,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE)
         AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 25)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
       AND l_quantity BETWEEN 10 AND 35)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 20 AND 45)
GROUP BY p_brand
ORDER BY p_brand
"""


# ------------- TPC-H Q22-style dormant high-balance customers -------------


def q_tpch_q22_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Above-average-balance customers with no orders since 2001 —
    Q22's scalar-average subquery + anti-join, with 'no recent
    orders' standing in for 'no orders at all' (this generator gives
    every customer at least one order) and the nation key for the
    phone country code.

    Scale shape: the scalar average is a 2-number aggregate broadcast
    back (crossJoin(broadcast) — no correlated rescan); the LEFT ANTI
    join probes only the date-filtered order keys (filter pushed to
    the orders scan); balances accumulate as DECIMAL cents."""
    cust = read_testdata_table(spark, sf_dir, "customer")
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    avg_pos = cust.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(bal).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_bal")
    )
    recent = read_testdata_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        cust.crossJoin(F.broadcast(avg_pos))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(bal).cast("double").alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


_Q22_ORACLE = """
SELECT c_nationkey, count(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
                               AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


# ------------- lag-1 autocorrelation of daily counts -------------


def q_stats_autocorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each event type's daily count series
    (consecutive calendar days only — a gap contributes no pair).

    Engine parity: daily counts are integers, so every moment sum
    (Σx, Σy, Σxy, Σx², Σy²) accumulates EXACTLY in BIGINT —
    order-independent with no decimal quantization needed; the two
    variance factors are cast to double BEFORE multiplying (their
    product can exceed int64), and the only float ops are that
    product, the sqrt, and the final division. Degenerate series
    (zero variance) yield NULL via nullif."""
    e = read_testdata_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.expr(f"unix_micros(ts) div {_US_DAY}").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    w = W.partitionBy("event_type").orderBy("day")
    pairs = (
        daily.withColumn("nday", F.lead("day").over(w))
        .withColumn("y", F.lead("x").over(w))
        .filter(F.col("nday") == F.col("day") + 1)
    )
    agg = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n_pairs")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return agg.select(
        "event_type",
        "n_pairs",
        F.round(num / F.nullif(F.sqrt(vx * vy), F.lit(0.0)), 6).alias(
            "autocorr_lag1"
        ),
    ).orderBy("event_type")


_AUTOCORR_ORACLE = f"""
WITH daily AS (
  SELECT event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) // {_US_DAY} AS day,
         count(*) AS x
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT event_type, x,
         lead(day) OVER (PARTITION BY event_type ORDER BY day) AS nday,
         lead(x) OVER (PARTITION BY event_type ORDER BY day) AS y,
         day
  FROM daily
), p AS (SELECT * FROM pairs WHERE nday = day + 1),
agg AS (
  SELECT event_type,
         count(*) AS n_pairs,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM p GROUP BY 1
)
SELECT event_type, n_pairs,
       round(CAST(n_pairs * sxy - sx * sy AS DOUBLE)
             / nullif(sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
                           * CAST(n_pairs * syy - sy * sy AS DOUBLE)),
                      0.0), 6) AS autocorr_lag1
FROM agg
ORDER BY event_type
"""


# ------------- customer decile gains table -------------


def q_customer_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains table over customer lifetime spend: exact revenue
    deciles (NTILE semantics) with per-decile revenue and cumulative
    revenue share.

    Scale shape: the ranking that the textbook plan does with ONE
    global ordered window runs instead on
    operators/ranking.py:bucketed_global_rank — range-bucketed prefix
    counts, with row_number confined to one bucket's rows — and the
    NTILE assignment is recomputed from (rank, n) in exact integer
    arithmetic (ntile_from_rank). Revenue accumulates as DECIMAL
    cents end-to-end; floats appear only in the rounded shares."""
    orders = read_testdata_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    ranked = bucketed_global_rank(
        rev, val="rev", tiebreak="o_custkey", buckets=64, descending=True
    )
    n_total = rev.agg(F.count(F.lit(1)).cast("long").alias("n"))
    tiled = ranked.crossJoin(F.broadcast(n_total)).withColumn(
        "decile", ntile_from_rank("_rank", "n", 10)
    )
    per = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("rev").alias("drev"),
    )
    cum_w = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    tot_w = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        per.withColumn("cum", F.sum("drev").over(cum_w))
        .withColumn("tot", F.sum("drev").over(tot_w))
        .select(
            "decile",
            "n_customers",
            F.col("drev").cast("double").alias("decile_revenue"),
            F.round(
                F.col("cum").cast("double") / F.col("tot").cast("double"), 6
            ).alias("cum_revenue_share"),
        )
        .orderBy("decile")
    )


_DECILE_ORACLE = """
WITH rev AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
), tiled AS (
  SELECT rev,
         CAST(ntile(10) OVER (ORDER BY rev DESC, o_custkey ASC) AS BIGINT)
           AS decile
  FROM rev
), per AS (
  SELECT decile, count(*) AS n_customers, SUM(rev) AS drev
  FROM tiled GROUP BY 1
)
SELECT decile, n_customers,
       CAST(drev AS DOUBLE) AS decile_revenue,
       round(CAST(SUM(drev) OVER (ORDER BY decile
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS DOUBLE)
             / CAST(SUM(drev) OVER () AS DOUBLE), 6) AS cum_revenue_share
FROM per
ORDER BY decile
"""


# ------------- embedding label centroids -------------


def q_embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the 64-d embedding column: vector count,
    centroid L2 norm, and the first coordinate of the mean vector.

    Scale shape: posexplode fans each vector into 64 (label, dim)
    cells, then ONE hash aggregation (map-side combined on
    label × dim — bounded keys) produces the per-dimension sums; the
    second aggregation folds 64 rows per label. Float32 values widen
    exactly to double, quantize at 6 dp into DECIMAL for
    order-independent sums, and the means re-quantize before the
    norm's square-sum so both engines square identical decimals."""
    emb = read_testdata_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    )
    dim = ex.groupBy("label", "pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.round(F.col("v").cast("double"), 6).cast("decimal(18,6)")
        ).alias("s"),
    )
    mean = dim.select(
        "label",
        "pos",
        "n",
        (F.col("s").cast("double") / F.col("n").cast("double")).alias("m"),
    )
    mq = F.round(F.col("m"), 6).cast("decimal(18,6)")
    return (
        mean.groupBy("label")
        .agg(
            F.max("n").cast("long").alias("n_vectors"),
            F.round(
                F.sqrt(F.sum(mq * mq).cast("double")), 6
            ).alias("centroid_norm"),
            F.min(F.when(F.col("pos") == 0, F.round(F.col("m"), 6))).alias(
                "mean_dim0"
            ),
        )
        .orderBy("label")
    )


_CENTROID_ORACLE = """
WITH ex AS (
  SELECT label, u.i - 1 AS pos, embedding[u.i] AS v
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
), dim AS (
  SELECT label, pos, count(*) AS n,
         SUM(CAST(round(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6))) AS s
  FROM ex GROUP BY 1, 2
), mean AS (
  SELECT label, pos, n,
         CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m
  FROM dim
)
SELECT label,
       CAST(max(n) AS BIGINT) AS n_vectors,
       round(sqrt(CAST(SUM(CAST(round(m, 6) AS DECIMAL(18,6))
                           * CAST(round(m, 6) AS DECIMAL(18,6)))
                       AS DOUBLE)), 6) AS centroid_norm,
       min(CASE WHEN pos = 0 THEN round(m, 6) END) AS mean_dim0
FROM mean
GROUP BY label
ORDER BY label
"""


QUERIES = [
    QuerySpec(
        "tpch_q2_style",
        q_tpch_q2_style,
        _Q2_ORACLE,
        "Correlated-min lookup re-joined with broadcast minima",
    ),
    QuerySpec(
        "tpch_q4_style",
        q_tpch_q4_style,
        _Q4_ORACLE,
        "EXISTS late-shipment semi-join, counts by priority",
    ),
    QuerySpec(
        "tpch_q8_style",
        q_tpch_q8_style,
        _Q8_ORACLE,
        "Per-year supplier-nation market share inside one region",
    ),
    QuerySpec(
        "tpch_q12_style",
        q_tpch_q12_style,
        _Q12_ORACLE,
        "Priority split by shipping-speed bucket (Q12 shape)",
    ),
    QuerySpec(
        "tpch_q14_style",
        q_tpch_q14_style,
        _Q14_ORACLE,
        "Monthly PROMO revenue share via one conditional agg pass",
    ),
    QuerySpec(
        "tpch_q18_style",
        q_tpch_q18_style,
        _Q18_ORACLE,
        "Large-volume orders: HAVING prereduction then dim joins",
    ),
    QuerySpec(
        "tpch_q19_style",
        q_tpch_q19_style,
        _Q19_ORACLE,
        "Disjunctive brand/size/qty channels with pushed prefilters",
    ),
    QuerySpec(
        "tpch_q22_style",
        q_tpch_q22_style,
        _Q22_ORACLE,
        "Scalar-average filter + anti-join for dormant customers",
    ),
    QuerySpec(
        "stats_autocorr_daily",
        q_stats_autocorr_daily,
        _AUTOCORR_ORACLE,
        "Integer-exact lag-1 autocorrelation of daily counts",
    ),
    QuerySpec(
        "customer_decile_lift",
        q_customer_decile_lift,
        _DECILE_ORACLE,
        "Gains table from bucketed global rank (no global window)",
    ),
    QuerySpec(
        "embedding_label_centroids",
        q_embedding_label_centroids,
        _CENTROID_ORACLE,
        "Per-label centroid norms via decimal-exact dimension sums",
    ),
]
