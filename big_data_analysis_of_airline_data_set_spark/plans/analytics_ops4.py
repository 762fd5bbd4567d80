"""Decision-support analytics catalog, wave 8: the second half of the
adaptable TPC-H shapes (Q7 two-nation volume, Q9 profit, Q10 returns,
Q13 order-count distribution, Q15 top supplier, Q16 supplier variety,
Q17 small-quantity loss, Q21 waiting suppliers), plus a fixed-seed
k-means assignment pass over the embedding table and per-user
calendar lag/rolling features.

No reference analogue (the reference's relational surface has zero
joins — mosama1994 Scripts/1-2 are single-table; these are engine
surface per the brief). Catalog contract as everywhere: Spark-first
plans with a DuckDB oracle replaying identical arithmetic — decimal
accumulation for order-independent money sums, integer-scaled
arithmetic where a float formula would be engine-divergent,
IEEE-identical float division, round(6) on statistics.

All ten entries enter the correctness window by ledger
age (see ``plans/__init__.correctness_window``)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..sources.readers import read_testdata_table
from .spec import QuerySpec

_US_DAY = 86_400_000_000


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
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    one_minus_d = (F.lit(1.0) - F.col("l_discount")).cast("decimal(4,2)")
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
        .agg(F.sum(price * one_minus_d).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


_Q7_ORACLE = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE)
         AS revenue
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
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    one_minus_d = (F.lit(1.0) - F.col("l_discount")).cast("decimal(4,2)")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(price * one_minus_d).alias("rev"))
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


_Q10_ORACLE = """
SELECT c_custkey, c_name,
       CAST(rev AS DOUBLE) AS revenue, c_acctbal, n_name
FROM (SELECT o_custkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS rev
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
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    one_minus_d = (F.lit(1.0) - F.col("l_discount")).cast("decimal(4,2)")
    # rev feeds the max scalar and the re-join — lazy checkpoint or
    # the lineitem aggregation runs twice
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.sum(price * one_minus_d).alias("total_rev"))
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


_Q15_ORACLE = """
WITH rev AS (
  SELECT l_suppkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(1.0 - l_discount AS DECIMAL(4,2)))
           AS total_rev
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


# ------------- fixed-seed k-means assignment -------------


def q_embedding_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means assignment pass: every embedding goes to the
    nearest of 8 fixed seed centroids (the 8 lowest vec_ids), with
    per-cluster size and mean squared distance.

    Engine parity: coordinates quantize to integer micro-units
    (operators/vector_quant.py:quantize_micro — exact in BIGINT), so
    squared distances are EXACT integers and the argmin is a
    deterministic (d², cid) struct-min — no float comparison
    anywhere until the reported mean. Scale shape: the 8 centroids
    broadcast; the distance fold is a codegen zip_with/aggregate
    over each row's array (no 64× explode, no Python UDF); one hash
    agg per cluster ends it."""
    from ..operators.vector_quant import quantize_micro, squared_distance

    emb = read_testdata_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", quantize_micro(F.col("embedding")).alias("vq")
    )
    cents = (
        emb.orderBy("vec_id")
        .limit(8)
        .select(
            F.col("vec_id").alias("cid"),
            quantize_micro(F.col("embedding")).alias("cq"),
        )
    )
    d2 = squared_distance(F.col("vq"), F.col("cq"))
    best = (
        vecs.crossJoin(F.broadcast(cents))
        .select("vec_id", F.struct(d2.alias("d2"), F.col("cid")).alias("s"))
        .groupBy("vec_id")
        .agg(F.min("s").alias("s"))
    )
    return (
        best.groupBy(F.col("s.cid").alias("cid"))
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            F.round(
                F.sum(F.col("s.d2")).cast("double")
                / F.lit(1e12)
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_sq_dist"),
        )
        .orderBy("cid")
    )


_KMEANS_ORACLE = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))
           AS vq
  FROM embeddings
), cents AS (
  SELECT vec_id AS cid, vq AS cq FROM q ORDER BY vec_id LIMIT 8
), pairs AS (
  SELECT vec_id, cid,
         CAST(list_sum(list_transform(generate_series(1, len(vq)),
              i -> (vq[i] - cq[i]) * (vq[i] - cq[i]))) AS BIGINT) AS d2
  FROM q, cents
), best AS (
  SELECT vec_id, d2, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
  FROM pairs
)
SELECT cid, count(*) AS n_assigned,
       round(CAST(SUM(d2) AS DOUBLE) / 1e12 / CAST(count(*) AS DOUBLE), 6)
         AS mean_sq_dist
FROM best WHERE rn = 1
GROUP BY cid
ORDER BY cid
"""


# ------------- per-user calendar lag / rolling features -------------


def q_events_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily feature frame for model training: previous
    CALENDAR day's spend (NULL across gaps, not the previous row's)
    and the trailing-7-calendar-day mean via a RANGE window.

    Scale shape: everything partitions by user — state is one user's
    bounded day series; the RANGE frame makes the trailing week a
    calendar semantics, not a row count, with no gap-fill explode
    needed. Daily sums quantize to DECIMAL(18,6) and the rolling
    mean divides exact decimal sums, so floats appear only in the
    rounded outputs."""
    e = read_testdata_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id", F.expr(f"unix_micros(ts) div {_US_DAY}").alias("day")
    ).agg(
        F.sum(F.round(F.col("value"), 6).cast("decimal(18,6)")).alias("v")
    )
    row_w = W.partitionBy("user_id").orderBy("day")
    range_w = (
        W.partitionBy("user_id").orderBy("day").rangeBetween(-6, 0)
    )
    prev_day = F.lag("day").over(row_w)
    prev_v = F.lag("v").over(row_w)
    return daily.select(
        "user_id",
        "day",
        F.col("v").cast("double").alias("value"),
        F.when(prev_day == F.col("day") - 1, prev_v)
        .cast("double")
        .alias("lag1"),
        F.count(F.lit(1)).over(range_w).alias("n7"),
        F.round(
            F.sum("v").over(range_w).cast("double")
            / F.count(F.lit(1)).over(range_w).cast("double"),
            6,
        ).alias("avg7"),
    )


_LAG_ORACLE = f"""
WITH daily AS (
  SELECT user_id,
         epoch_us(CAST(ts AS TIMESTAMP)) // {_US_DAY} AS day,
         SUM(CAST(round(value, 6) AS DECIMAL(18,6))) AS v
  FROM events GROUP BY 1, 2
)
SELECT user_id, day,
       CAST(v AS DOUBLE) AS value,
       CAST(CASE WHEN lag(day) OVER w = day - 1
                 THEN lag(v) OVER w END AS DOUBLE) AS lag1,
       count(*) OVER r AS n7,
       round(CAST(SUM(v) OVER r AS DOUBLE)
             / CAST(count(*) OVER r AS DOUBLE), 6) AS avg7
FROM daily
WINDOW w AS (PARTITION BY user_id ORDER BY day),
       r AS (PARTITION BY user_id ORDER BY day
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


QUERIES = [
    QuerySpec(
        "tpch_q7_style",
        q_tpch_q7_style,
        _Q7_ORACLE,
        "Two-nation trade volume with twice-aliased nation broadcast",
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
        "tpch_q13_style",
        q_tpch_q13_style,
        _Q13_ORACLE,
        "Order-count distribution incl. zero via LEFT + count(col)",
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
        "tpch_q21_style",
        q_tpch_q21_style,
        _Q21_ORACLE,
        "Lone-late-supplier attribution as one aggregate pass",
    ),
    QuerySpec(
        "embedding_kmeans_assign",
        q_embedding_kmeans_assign,
        _KMEANS_ORACLE,
        "Integer-exact nearest-centroid assignment, 8 fixed seeds",
    ),
    QuerySpec(
        "events_lag_features",
        q_events_lag_features,
        _LAG_ORACLE,
        "Calendar lag-1 and trailing-7-day RANGE-window features",
    ),
]
