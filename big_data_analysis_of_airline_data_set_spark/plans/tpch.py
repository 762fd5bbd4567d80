"""The TPC-H family: all 22 query shapes adapted to the testdata
schema, with their DuckDB oracles. Q11/Q20 substitute lineitem volume
for the absent partsupp stock columns, Q9 synthesizes unit cost, and
every other adaptation is stated in its query's docstring.

No reference analogue (mosama1994 Scripts/1-2 are single-table), so
these are the engine's join surface. Money follows the decimal-exact
kit in ``spec.py``: the net line price is ``discounted_price()`` and
its SQL twin ``DISCOUNTED_PRICE_SQL``, summed as DECIMAL and cast to
DOUBLE once. Q6 (price × discount) and Q9 (DECIMAL(12,2) price inside
a profit term) spell their own products on purpose. Whole days are
``day_bucket``/``day_bucket_sql``. Floats appear only in final
divisions, rounded to 6 where they are statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..sources.readers import read_testdata_table
from .spec import (
    DISCOUNTED_PRICE_SQL,
    QuerySpec,
    day_bucket,
    day_bucket_sql,
    discounted_price,
)


# ------------- TPC-H Q1-style pricing summary -------------


def q_tpch_q1_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary per (return flag, line status) — Q1 verbatim on
    this schema: 2-key groupBy with eight exact-decimal aggregates.

    Engine parity: the derived measures multiply DECIMAL(18,2) prices
    by DECIMAL(4,2) factors — exact in both engines (<= 38 digits, no
    scale truncation), so the sums are order-independent."""
    li = read_testdata_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1999-12-31").cast("timestamp")
    )
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    one_plus_t = (F.lit(1.0) + F.col("l_tax")).cast("decimal(4,2)")
    cnt = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(discounted_price()).cast("double").alias("sum_disc_price"),
            F.sum(discounted_price() * one_plus_t).cast("double").alias("sum_charge"),
            (F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double") / cnt).alias("avg_qty"),
            (F.sum(price).cast("double") / cnt).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            cnt.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q1_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM({DISCOUNTED_PRICE_SQL}) AS DOUBLE) AS sum_disc_price,
  CAST(SUM({DISCOUNTED_PRICE_SQL}
           * CAST(1.0 + l_tax AS DECIMAL(4,2))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
  round(avg(l_discount), 6) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1999-12-31 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


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


# ------------- TPC-H Q3-style star join -------------


def q_tpch_q3_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unshipped-revenue top-10: customer(segment) ⨝ orders(date) ⨝
    lineitem(date), grouped on the order, ranked by revenue.

    Scale shape: both fact filters reach the parquet scans (pushed
    predicates); the customer side collapses to a filtered single
    column before joining, so AQE's runtime size estimate sees the
    small build side and plans a broadcast-hash join for it at any SF
    where it fits, falling back to shuffle-hash beyond — exactly the
    decision we want made at runtime, not hard-coded. orders ⨝
    lineitem co-partitions on the order key (one shuffle each), and
    the final top-10 is a TakeOrdered, not a global sort."""
    cutoff = F.lit("1998-06-30").cast("timestamp")
    cust = (
        read_testdata_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = read_testdata_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < cutoff
    )
    li = read_testdata_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > cutoff
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            "o_orderkey",
            day_bucket("o_orderdate").alias("o_orderdate_day"),
            "o_orderpriority",
        )
        .agg(F.sum(discounted_price()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


_Q3_ORACLE = f"""
SELECT o_orderkey,
       {day_bucket_sql('o_orderdate')} AS o_orderdate_day,
       o_orderpriority,
       CAST(SUM({DISCOUNTED_PRICE_SQL}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-06-30 00:00:00'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
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


# ------------- TPC-H Q5-style 6-way join -------------


def q_tpch_q5_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier revenue by nation inside one region — the 6-way
    join with the c_nationkey = s_nationkey locality predicate.

    Scale shape: region ⨝ nation is O(10²) rows at ANY scale factor —
    broadcast explicitly (no estimate needed). The locality predicate
    rides the supplier join as a second equi-key, so it participates
    in the hash join instead of becoming a post-join filter. The two
    fact joins (orders on order key, supplier on supp key) are the
    only shuffles; the date filter is pushed to the orders scan."""
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1999-01-01").cast("timestamp")
    nations = (
        read_testdata_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "ASIA")
        .join(
            read_testdata_table(spark, sf_dir, "nation"),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    cust = read_testdata_table(spark, sf_dir, "customer").join(
        F.broadcast(nations), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", "c_nationkey", "n_name")
    orders = read_testdata_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = read_testdata_table(spark, sf_dir, "lineitem")
    sup = read_testdata_table(spark, sf_dir, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            sup,
            (li.l_suppkey == sup.s_suppkey)
            & (F.col("c_nationkey") == sup.s_nationkey),
        )
        .groupBy("n_name")
        .agg(F.sum(discounted_price()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


_Q5_ORACLE = f"""
SELECT n_name,
       CAST(SUM({DISCOUNTED_PRICE_SQL}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


# ------------- TPC-H Q6-style forecast revenue band -------------


def q_tpch_q6_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-revenue-change query: discount revenue from 1996
    lines in the 5-7% discount band under quantity 24 — Q6 verbatim
    on this schema.

    Scale shape: a pure scan-side query — ALL three predicates and
    the two-column projection push to the parquet scan, and the
    single-row answer comes from one partial+final aggregation with
    no shuffle of row data. The discount literals compare as the
    same parquet-read doubles in both engines."""
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1997-01-01").cast("timestamp")
    li = read_testdata_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo)
        & (F.col("l_shipdate") < hi)
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return li.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(price * disc).cast("double").alias("revenue"),
    )


_Q6_ORACLE = """
SELECT count(*) AS n_lines,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


# ------------- TPC-H Q7-style two-nation trade volume -------------


def q_tpch_q7_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping volume between NATION_1 customers and NATION_2
    suppliers (both directions), per ship year — the Q7 shape.

    Scale shape: nation is O(25) rows, read twice under different
    aliases and broadcast into customer and supplier, which both
    shrink to two single-nation slivers BEFORE touching the facts;
    the two fact joins shuffle once each on their keys and the
    direction filter is a residual on the joined pair."""
    nation_c = read_testdata_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin("NATION_1", "NATION_2"))
    nation_s = read_testdata_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin("NATION_1", "NATION_2"))
    cust = read_testdata_table(spark, sf_dir, "customer").join(
        F.broadcast(nation_c), F.col("c_nationkey") == F.col("c_nk")
    ).select("c_custkey", "cust_nation")
    sup = read_testdata_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation_s), F.col("s_nationkey") == F.col("s_nk")
    ).select("s_suppkey", "supp_nation")
    orders = read_testdata_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = read_testdata_table(spark, sf_dir, "lineitem")
    return (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(discounted_price()).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


_Q7_ORACLE = f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(SUM({DISCOUNTED_PRICE_SQL}) AS DOUBLE) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE sn.n_name IN ('NATION_1', 'NATION_2')
  AND cn.n_name IN ('NATION_1', 'NATION_2')
  AND sn.n_name <> cn.n_name
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
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
    rev = (
        li.join(parts, li.l_partkey == parts.p_partkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_year", "n_name")
        .agg(F.sum(discounted_price()).alias("rev"))
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


_Q8_ORACLE = f"""
WITH rev AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, n_name,
         SUM({DISCOUNTED_PRICE_SQL}) AS rev
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


# ------------- TPC-H Q9-style product profit -------------


def q_tpch_q9_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit on widget parts by supplier nation and order year — Q9
    with unit cost synthesized as 10% of retail price (this schema
    has no partsupp table).

    Engine parity: every money term is a small-precision DECIMAL
    product sized so BOTH engines stay inside exact decimal
    arithmetic (retail < 10^7 → DECIMAL(9,2); quantity <= 500 →
    DECIMAL(4,1); the 0.1 cost factor DECIMAL(2,1)) — Spark's own
    hazard is precision-39+ scale truncation, DuckDB's the int64
    fast-path product, and both stay clear at these widths."""
    parts = read_testdata_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("widget")
    ).select("p_partkey", F.col("p_retailprice").cast("decimal(9,2)").alias("retail"))
    sup = read_testdata_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = read_testdata_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    orders = read_testdata_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("long").alias("o_year")
    )
    li = read_testdata_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    one_minus_d = (F.lit(1.0) - F.col("l_discount")).cast("decimal(4,2)")
    qty = F.col("l_quantity").cast("decimal(4,1)")
    cost_rate = F.lit("0.1").cast("decimal(2,1)")
    amount = price * one_minus_d - F.col("retail") * qty * cost_rate
    return (
        li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("n_name", "o_year")
        .agg(F.sum(amount).cast("double").alias("profit"))
        .orderBy("n_name", F.desc("o_year"))
    )


_Q9_ORACLE = """
SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * CAST(1.0 - l_discount AS DECIMAL(4,2))
                - CAST(p_retailprice AS DECIMAL(9,2))
                  * CAST(l_quantity AS DECIMAL(4,1))
                  * CAST(0.1 AS DECIMAL(2,1))) AS DOUBLE) AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
ORDER BY n_name, o_year DESC
"""


# ------------- TPC-H Q10-style returned-item reporting -------------


def q_tpch_q10_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by revenue lost to returns ('R' lines) on
    1997 orders, with their nation — the Q10 shape.

    Scale shape: both date and return-flag filters push to the
    scans; revenue reduces per customer BEFORE the nation broadcast
    join, and the top-20 is a TakeOrdered."""
    cust = read_testdata_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nation = read_testdata_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    lo = F.lit("1997-01-01").cast("timestamp")
    hi = F.lit("1998-01-01").cast("timestamp")
    orders = read_testdata_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    ).select("o_orderkey", "o_custkey")
    li = read_testdata_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(discounted_price()).alias("rev"))
    )
    return (
        rev.join(cust, rev.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            "c_custkey",
            "c_name",
            F.col("rev").cast("double").alias("revenue"),
            "c_acctbal",
            "n_name",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


_Q10_ORACLE = f"""
SELECT c_custkey, c_name,
       CAST(rev AS DOUBLE) AS revenue, c_acctbal, n_name
FROM (SELECT o_custkey, SUM({DISCOUNTED_PRICE_SQL}) AS rev
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY 1) r
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# ------------- TPC-H Q11-style important parts -------------


def q_tpch_q11_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose revenue exceeds 1.5× the average part's revenue —
    Q11's fraction-of-total threshold with lineitem revenue standing
    in for the absent partsupp stock value.

    Scale shape: one groupBy reduces lineitem to per-part DECIMAL
    revenue (lazily checkpointed — it feeds both the threshold
    scalar and the filter); the threshold is a 2-number aggregate
    broadcast back, so the Q11 correlated HAVING costs no second
    fact scan."""
    li = read_testdata_table(spark, sf_dir, "lineitem")
    pr = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("s")
        )
        .localCheckpoint(eager=False)
    )
    thr = pr.agg(
        (
            F.lit(1.5)
            * F.sum("s").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("threshold")
    )
    return (
        pr.crossJoin(F.broadcast(thr))
        .filter(F.col("s").cast("double") > F.col("threshold"))
        .select(
            "l_partkey",
            F.col("s").cast("double").alias("part_revenue"),
            F.round("threshold", 6).alias("threshold"),
        )
        .orderBy("l_partkey")
    )


_Q11_ORACLE = """
WITH pr AS (
  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS s
  FROM lineitem GROUP BY 1
), thr AS (
  SELECT 1.5 * CAST(SUM(s) AS DOUBLE) / CAST(count(*) AS DOUBLE)
           AS threshold
  FROM pr
)
SELECT l_partkey, CAST(s AS DOUBLE) AS part_revenue,
       round(threshold, 6) AS threshold
FROM pr, thr
WHERE CAST(s AS DOUBLE) > threshold
ORDER BY l_partkey
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


# ------------- TPC-H Q13-style order-count distribution -------------


def q_tpch_q13_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of per-customer order counts, including
    zero-order customers — the Q13 LEFT JOIN + double aggregation.

    Scale shape: count(o_orderkey) ignores the NULLs a LEFT join
    produces for orderless customers (exactly the Q13 trick), the
    first aggregation reduces to one row per customer, and the
    second collapses that to O(distinct counts) rows."""
    cust = read_testdata_table(spark, sf_dir, "customer").select("c_custkey")
    orders = read_testdata_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


_Q13_ORACLE = """
SELECT c_count, count(*) AS custdist
FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey) pc
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
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
    amount = discounted_price()
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


_Q14_ORACLE = f"""
SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
       CAST(month(l_shipdate) AS BIGINT) AS ship_month,
       round(100.0
             * CAST(SUM(CASE WHEN p_type = 'PROMO'
                             THEN {DISCOUNTED_PRICE_SQL}
                             ELSE CAST(0 AS DECIMAL(23,4)) END) AS DOUBLE)
             / CAST(SUM({DISCOUNTED_PRICE_SQL}) AS DOUBLE),
             6) AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ------------- TPC-H Q15-style top supplier -------------


def q_tpch_q15_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier(s) by 1996-Q1 revenue — Q15's view + scalar-max
    re-join, all ties kept.

    Scale shape: the quarter filter pushes to the lineitem scan and
    revenue reduces per supplier first; the scalar max is a 1-row
    aggregate broadcast back, and the equality re-join is EXACT
    because revenue is a DECIMAL (float maxima would be
    order-dependent and could match zero or several rows)."""
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1996-04-01").cast("timestamp")
    li = read_testdata_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    # rev feeds the max scalar and the re-join — lazy checkpoint or
    # the lineitem aggregation runs twice
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.sum(discounted_price()).alias("total_rev"))
        .localCheckpoint(eager=False)
    )
    top = rev.agg(F.max("total_rev").alias("max_rev"))
    sup = read_testdata_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        rev.join(F.broadcast(top), rev.total_rev == top.max_rev)
        .join(sup, rev.l_suppkey == sup.s_suppkey)
        .select(
            "s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_rev")
        )
        .orderBy("s_suppkey")
    )


_Q15_ORACLE = f"""
WITH rev AS (
  SELECT l_suppkey, SUM({DISCOUNTED_PRICE_SQL}) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY 1
)
SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev = (SELECT max(total_rev) FROM rev)
ORDER BY s_suppkey
"""


# ------------- TPC-H Q16-style supplier variety -------------


def q_tpch_q16_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct suppliers able to ship each (brand, size) — Q16 with
    the lineitem join standing in for the missing partsupp table,
    excluding one brand and the PROMO type.

    Scale shape: part prefilters push to its scan and the join
    output reduces through an exact count_distinct on (brand, size)
    — a two-stage partial aggregation, no row explosion."""
    parts = read_testdata_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45") & (F.col("p_type") != "PROMO")
    ).select("p_partkey", "p_brand", F.col("p_size").cast("long").alias("p_size"))
    li = read_testdata_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    return (
        li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size")
    )


_Q16_ORACLE = """
SELECT p_brand, CAST(p_size AS BIGINT) AS p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
GROUP BY 1, 2
ORDER BY supplier_cnt DESC, p_brand, p_size
"""


# ------------- TPC-H Q17-style small-quantity revenue -------------


def q_tpch_q17_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average yearly revenue lost if small-quantity lines (below
    half the part's average quantity) went unshipped, per brand —
    the Q17 correlated-average shape.

    Scale shape: the per-part average is a groupBy over lineitem
    re-joined on the part key (co-partitioned with the detail join —
    one shuffle each), NOT a correlated rescan per row; the average
    is an exact DECIMAL sum over an integral column divided by a
    count, so the float threshold is engine-identical."""
    li = read_testdata_table(spark, sf_dir, "lineitem")
    avg_q = li.groupBy(F.col("l_partkey").alias("ap")).agg(
        (
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_qty")
    )
    parts = read_testdata_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand"
    )
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    return (
        li.join(avg_q, li.l_partkey == F.col("ap"))
        .filter(F.col("l_quantity") < F.lit(0.5) * F.col("avg_qty"))
        .join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(price).cast("double") / F.lit(7.0), 6).alias(
                "avg_yearly"
            ),
        )
        .orderBy("p_brand")
    )


_Q17_ORACLE = """
WITH avg_q AS (
  SELECT l_partkey AS ap,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS avg_qty
  FROM lineitem GROUP BY 1
)
SELECT p_brand, count(*) AS n_lines,
       round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / 7.0, 6) AS avg_yearly
FROM lineitem
JOIN avg_q ON l_partkey = ap
JOIN part ON l_partkey = p_partkey
WHERE l_quantity < 0.5 * avg_qty
GROUP BY p_brand
ORDER BY p_brand
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
            day_bucket("o_orderdate").alias("o_orderdate_day"),
            "o_totalprice",
            F.col("qty").cast("double").alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


_Q18_ORACLE = f"""
SELECT c_name, c_custkey, o_orderkey,
       {day_bucket_sql('o_orderdate')} AS o_orderdate_day,
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
    return (
        li.join(
            F.broadcast(part), (li.l_partkey == part.p_partkey) & channel
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("line_count"),
            F.sum(discounted_price()).cast("double").alias("revenue"),
        )
        .orderBy("p_brand")
    )


_Q19_ORACLE = f"""
SELECT p_brand,
       count(*) AS line_count,
       CAST(SUM({DISCOUNTED_PRICE_SQL}) AS DOUBLE) AS revenue
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


# ------------- TPC-H Q20-style excess-volume suppliers -------------


def q_tpch_q20_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who shipped more than 100 units of widget parts
    during 1996, with their nation — Q20's part-name + date + volume
    threshold chain, shipped volume standing in for the absent
    availqty.

    Scale shape: the widget filter pushes to the part scan and
    broadcasts; the date filter pushes to lineitem; the HAVING
    aggregation reduces to qualifying suppliers BEFORE the supplier
    and nation dimension joins; the quantity threshold compares an
    exact DECIMAL sum."""
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1997-01-01").cast("timestamp")
    parts = read_testdata_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("widget")
    ).select("p_partkey")
    li = read_testdata_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    vol = (
        li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"))
        .filter(F.col("qty") > 100)
    )
    sup = read_testdata_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nation = read_testdata_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return (
        vol.join(sup, vol.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .select(
            "s_suppkey",
            "s_name",
            "n_name",
            F.col("qty").cast("double").alias("widget_qty"),
        )
        .orderBy("s_suppkey")
    )


_Q20_ORACLE = """
SELECT s_suppkey, s_name, n_name, CAST(qty AS DOUBLE) AS widget_qty
FROM (SELECT l_suppkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_name LIKE '%widget%'
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY 1 HAVING qty > 100) v
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
ORDER BY s_suppkey
"""


# ------------- TPC-H Q21-style waiting suppliers -------------


def q_tpch_q21_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who alone shipped late (> 365 days) on
    multi-supplier orders — Q21's double-EXISTS re-expressed as an
    aggregate: per (order, supplier) late flags, keep orders with
    >= 2 suppliers and exactly one late, charge that supplier.

    Scale shape: the EXISTS/NOT-EXISTS pair becomes ONE groupBy over
    the flag frame (count + sum of late) instead of two extra joins
    against lineitem; the flag frame feeds the candidate filter and
    the waiter lookup, so it is lazily checkpointed rather than
    recomputed from the fact scan."""
    orders = read_testdata_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    li = read_testdata_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 365 DAYS")
    ).cast("long")
    flags = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("late"))
        .localCheckpoint(eager=False)
    )
    cand = (
        flags.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum("late").alias("n_late"),
        )
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .select("l_orderkey")
    )
    sup = read_testdata_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        flags.filter(F.col("late") == 1)
        .join(cand, "l_orderkey")
        .join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


_Q21_ORACLE = """
WITH flags AS (
  SELECT l_orderkey, l_suppkey,
         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 365 DAY
                  THEN 1 ELSE 0 END) AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
), cand AS (
  SELECT l_orderkey FROM flags
  GROUP BY 1 HAVING count(*) >= 2 AND sum(late) = 1
)
SELECT s_name, count(*) AS numwait
FROM flags
JOIN cand USING (l_orderkey)
JOIN supplier ON l_suppkey = s_suppkey
WHERE late = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
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


QUERIES = [
    QuerySpec(
        "tpch_q1_style",
        q_tpch_q1_style,
        _Q1_ORACLE,
        "TPC-H Q1 shape: 2-key groupBy, 8 exact-decimal aggregates",
    ),
    QuerySpec(
        "tpch_q2_style",
        q_tpch_q2_style,
        _Q2_ORACLE,
        "Correlated-min lookup re-joined with broadcast minima",
    ),
    QuerySpec(
        "tpch_q3_style",
        q_tpch_q3_style,
        _Q3_ORACLE,
        "Segment/date-filtered 3-way star join, top-10 by revenue",
    ),
    QuerySpec(
        "tpch_q4_style",
        q_tpch_q4_style,
        _Q4_ORACLE,
        "EXISTS late-shipment semi-join, counts by priority",
    ),
    QuerySpec(
        "tpch_q5_style",
        q_tpch_q5_style,
        _Q5_ORACLE,
        "6-way local-supplier revenue join with broadcast dims",
    ),
    QuerySpec(
        "tpch_q6_style",
        q_tpch_q6_style,
        _Q6_ORACLE,
        "Scan-only forecast revenue band, all predicates pushed",
    ),
    QuerySpec(
        "tpch_q7_style",
        q_tpch_q7_style,
        _Q7_ORACLE,
        "Two-nation trade volume with twice-aliased nation broadcast",
    ),
    QuerySpec(
        "tpch_q8_style",
        q_tpch_q8_style,
        _Q8_ORACLE,
        "Per-year supplier-nation market share inside one region",
    ),
    QuerySpec(
        "tpch_q9_style",
        q_tpch_q9_style,
        _Q9_ORACLE,
        "Widget profit by nation/year, synthetic 10% unit cost",
    ),
    QuerySpec(
        "tpch_q10_style",
        q_tpch_q10_style,
        _Q10_ORACLE,
        "Top-20 customers by returned revenue with nation dim",
    ),
    QuerySpec(
        "tpch_q11_style",
        q_tpch_q11_style,
        _Q11_ORACLE,
        "Fraction-of-total revenue threshold via broadcast scalar",
    ),
    QuerySpec(
        "tpch_q12_style",
        q_tpch_q12_style,
        _Q12_ORACLE,
        "Priority split by shipping-speed bucket (Q12 shape)",
    ),
    QuerySpec(
        "tpch_q13_style",
        q_tpch_q13_style,
        _Q13_ORACLE,
        "Order-count distribution incl. zero via LEFT + count(col)",
    ),
    QuerySpec(
        "tpch_q14_style",
        q_tpch_q14_style,
        _Q14_ORACLE,
        "Monthly PROMO revenue share via one conditional agg pass",
    ),
    QuerySpec(
        "tpch_q15_style",
        q_tpch_q15_style,
        _Q15_ORACLE,
        "Top supplier via exact decimal scalar-max re-join",
    ),
    QuerySpec(
        "tpch_q16_style",
        q_tpch_q16_style,
        _Q16_ORACLE,
        "Supplier variety per (brand,size) with exact distinct",
    ),
    QuerySpec(
        "tpch_q17_style",
        q_tpch_q17_style,
        _Q17_ORACLE,
        "Small-quantity revenue loss vs per-part average threshold",
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
        "tpch_q20_style",
        q_tpch_q20_style,
        _Q20_ORACLE,
        "Excess-volume suppliers: HAVING prereduction then dims",
    ),
    QuerySpec(
        "tpch_q21_style",
        q_tpch_q21_style,
        _Q21_ORACLE,
        "Lone-late-supplier attribution as one aggregate pass",
    ),
    QuerySpec(
        "tpch_q22_style",
        q_tpch_q22_style,
        _Q22_ORACLE,
        "Scalar-average filter + anti-join for dormant customers",
    ),
]
