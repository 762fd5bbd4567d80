"""Relational query catalog over the driver testdata star schema.

Each entry re-expresses a reference operator (SURVEY.md §2 / FIXTURES.md
§B mapping) on the TPC-H-ish tables, with a DuckDB oracle. The flight
semantics they stand in for are cited per query.

Scale notes baked into the plans:
- dimension joins (nation, region) are explicitly ``broadcast()``;
- the orders⋈customer join shuffles on the join key only after
  filters/projections have been pushed down;
- pivots pass an explicit category list → no extra distinct-collect job
  (SURVEY.md §4.2 "needs custom work" item 2);
- aggregations are partial+final hash aggs (Catalyst default).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.flight_exprs import (
    city_from_city_state,
    delay_status,
    hhmm_hour,
    hhmm_minute,
)
from ..operators.transforms import (
    deterministic_sample,
    drop_any_null,
    filter_eq,
    project_without,
    union_positional,
)
from ..sources.readers import read_testdata_table
from .spec import QuerySpec


# Synthetic "arrival delay minutes" analog on orders: deterministic in any
# engine, range -60..60 including the 0 boundary (FIXTURES.md edge rule).
def _delay_min(col: Column | None = None) -> Column:
    c = F.col("o_orderkey") if col is None else col
    return (c % 121 - 60).cast("long")


_DELAY_SQL = "(o_orderkey % 121 - 60)"

# "Cancelled" analog: pending orders.
_CANCELLED_SQL = "o_orderstatus = 'P'"

_GROUPS = ("Before_Time", "On_Time", "Small_delay", "Medium_Delay", "Large_Delay", "Cancelled")

_GROUP_CASE_SQL = f"""
    CASE WHEN {_CANCELLED_SQL} THEN 'Cancelled'
         WHEN {_DELAY_SQL} < 0 THEN 'Before_Time'
         WHEN {_DELAY_SQL} = 0 THEN 'On_Time'
         WHEN {_DELAY_SQL} <= 15 THEN 'Small_delay'
         WHEN {_DELAY_SQL} <= 60 THEN 'Medium_Delay'
         ELSE 'Large_Delay' END
"""


def _order_delay_group() -> F.Column:
    d = _delay_min()
    return (
        F.when(F.col("o_orderstatus") == "P", F.lit("Cancelled"))
        .when(d < 0, F.lit("Before_Time"))
        .when(d == 0, F.lit("On_Time"))
        .when(d <= 15, F.lit("Small_delay"))
        .when(d <= 60, F.lit("Medium_Delay"))
        .otherwise(F.lit("Large_Delay"))
    )


# ---------------------------------------------------------------------------
# Flagship — SURVEY.md §7.1: scan → project → filter-free CASE bucket →
# joins → groupBy + pivot(explicit values) + row total + orderBy.
# Flight semantics: airline × delay-group stacked-bar dataset (A9, viz2).
# ---------------------------------------------------------------------------

def flagship_delay_summary_by_carrier(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_testdata_table(spark, sf_dir, "orders").withColumn("grp", _order_delay_group())
    customer = read_testdata_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = read_testdata_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "inner")
        # nation is a classic small dim: always broadcast, never shuffle it.
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "inner")
    )
    pivoted = (
        joined.groupBy(F.col("n_name").alias("carrier"))
        .pivot("grp", list(_GROUPS))  # explicit values: no distinct pre-job
        .count()
    )
    cols = [F.coalesce(F.col(g), F.lit(0)).cast("long").alias(g.lower()) for g in _GROUPS]
    total = sum(F.coalesce(F.col(g), F.lit(0)) for g in _GROUPS).cast("long").alias("total")
    return pivoted.select(F.col("carrier"), *cols, total).orderBy(F.desc("total"), "carrier")


_FLAGSHIP_ORACLE = f"""
SELECT n_name AS carrier,
       count(*) FILTER (WHERE grp = 'Before_Time')  AS before_time,
       count(*) FILTER (WHERE grp = 'On_Time')      AS on_time,
       count(*) FILTER (WHERE grp = 'Small_delay')  AS small_delay,
       count(*) FILTER (WHERE grp = 'Medium_Delay') AS medium_delay,
       count(*) FILTER (WHERE grp = 'Large_Delay')  AS large_delay,
       count(*) FILTER (WHERE grp = 'Cancelled')    AS cancelled,
       count(*) AS total
FROM (SELECT o_custkey, {_GROUP_CASE_SQL} AS grp FROM orders) o
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY total DESC, carrier
"""


# ---------------------------------------------------------------------------
# Projections / filters / row-level transforms (P1-P14)
# ---------------------------------------------------------------------------

def q_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2 — column-set projection; prunes the parquet scan to 3 cols
    (reference 40-col drop, Scripts/1_cs_777_cleaning_data.py:41-48)."""
    li = read_testdata_table(spark, sf_dir, "lineitem")
    keep = {"l_orderkey", "l_linenumber", "l_quantity"}
    return project_without(li, [c for c in li.columns if c not in keep])


def q_filter_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 — equality filter (Cancelled == False analog,
    Scripts/1_cs_777_cleaning_data.py:50-53); pushed to row-group stats."""
    return filter_eq(read_testdata_table(spark, sf_dir, "orders"), "o_orderstatus", "F").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


def q_filter_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 — temporal split filter (Year == 2022 train/test split,
    Scripts/3_cs_777_logistic_regression.py:52-53)."""
    o = read_testdata_table(spark, sf_dir, "orders")
    return (
        o.filter(F.year("o_orderdate") == 1995)
        .select("o_orderkey", F.year("o_orderdate").cast("long").alias("o_year"), "o_totalprice")
    )


def q_drop_any_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 — any-null elimination (df.na.drop(),
    Scripts/1_cs_777_cleaning_data.py:56)."""
    ev = read_testdata_table(spark, sf_dir, "events")
    return drop_any_null(ev).select("event_id", "user_id", "event_type", "value")


def q_case_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 — CASE-derived binary label (Delay_Status rule incl. the <= 0
    boundary, Scripts/1_cs_777_cleaning_data.py:68)."""
    li = read_testdata_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        delay_status(F.col("l_discount"), F.col("l_tax") - 0.02)
        .cast("long")
        .alias("delay_status"),
    )


def q_time_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/P9/P10 — hhmm hour/minute extraction with the reference's exact
    string-substr semantics (Scripts/1_cs_777_cleaning_data.py:79-92):
    3-digit times give a 1-digit hour, t<100 → hour 0, minutes unpadded."""
    ev = read_testdata_table(spark, sf_dir, "events")
    hhmm = (F.hour("ts") * 100 + F.minute("ts")).cast("double")
    ev = ev.withColumn("hhmm", hhmm)
    return ev.select(
        "event_id",
        "hhmm",
        hhmm_hour(F.col("hhmm")).cast("long").alias("dep_hour"),
        hhmm_minute(F.col("hhmm")).cast("long").alias("dep_minute"),
    )


def q_city_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 — split(',').getItem(0) on a "City, ST"-shaped string
    (Scripts/1_cs_777_cleaning_data.py:75-76), string built from
    nation ⋈ broadcast(region)."""
    n = read_testdata_table(spark, sf_dir, "nation")
    r = read_testdata_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    df = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "inner")
    city_state = F.concat(F.col("n_name"), F.lit(", "), F.col("r_name"))
    return df.select(
        "n_nationkey",
        city_state.alias("city_state"),
        city_from_city_state(city_state).alias("city"),
    )


def q_cast_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 — double→int→string and bool→int cast chains
    (Scripts/1_cs_777_cleaning_data.py:79-98)."""
    li = read_testdata_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("int").cast("string").alias("qty_str"),
        (F.col("l_returnflag") == "R").cast("long").alias("returned_int"),
    )


def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13 — determinized sample: key % 100 == 0 (oracle-checkable stand-in
    for df.sample(0.001, seed=777), nb:8; see FIXTURES.md §B)."""
    o = read_testdata_table(spark, sf_dir, "orders")
    return deterministic_sample(o, F.col("o_orderkey"), 100).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


def q_union_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 — positional UNION ALL re-assembly (cancelled ∪ cleaned,
    Scripts/1_cs_777_cleaning_data.py:50-58; yearly union nb:5)."""
    o = read_testdata_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    part1 = o.filter(F.col("o_orderstatus") == "F")
    part2 = o.filter(F.col("o_orderstatus") != "F")
    return union_positional([part1, part2])


# ---------------------------------------------------------------------------
# Aggregations (A1-A9) + sorts/limits/distinct (O1-O5)
# ---------------------------------------------------------------------------

def q_global_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — global count (nb:9-10)."""
    return read_testdata_table(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n_rows"))


def q_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — per-column sample variance (Summarizer.metrics('variance'),
    Scripts/2_cs_777_statistical_analysis_feature_selection.py:124-126)."""
    li = read_testdata_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.var_samp("l_extendedprice"), 6).alias("var_extendedprice"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_quantity"),
    )


def q_correlation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — pairwise Pearson correlation (Correlation.corr,
    Scripts/2_...py:61; pairwise-SQL form per SURVEY.md §5.2)."""
    li = read_testdata_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.corr("l_discount", "l_tax"), 6).alias("corr_discount_tax"),
    )


def q_chi_square_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — chi-square statistic from a contingency table, computed
    relationally (ChiSquareTest analog, Scripts/2_...py:91-93; SQL-form
    oracle per SURVEY.md §5.2). Observed-cells-only formula on both sides."""
    o = read_testdata_table(spark, sf_dir, "orders")
    cells = (
        o.groupBy(
            F.col("o_orderpriority").alias("p"),
            (F.col("o_orderkey") % 2).cast("long").alias("lab"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    rows_t = cells.groupBy("p").agg(F.sum("c").alias("rc"))
    cols_t = cells.groupBy("lab").agg(F.sum("c").alias("cc"))
    n = cells.agg(F.sum("c").alias("n"))
    joined = cells.join(rows_t, "p").join(cols_t, "lab").crossJoin(n)
    exp = F.col("rc") * F.col("cc") / F.col("n")
    return joined.agg(
        F.round(F.sum(F.pow(F.col("c") - exp, 2) / exp), 6).alias("chi2"),
        F.count(F.lit(1)).alias("n_cells"),
    )


def q_sum_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — SUM by year (Distance-by-Year viz query, viz1:2). Money summed
    exactly via DECIMAL(18,2) then cast to double (order-independent)."""
    o = read_testdata_table(spark, sf_dir, "orders")
    sum_dec = F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
    return (
        o.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            sum_dec.cast("double").alias("sum_totalprice"),
            F.count(F.lit(1)).alias("n_orders"),
            (sum_dec.cast("double") / F.count(F.lit(1))).alias("avg_totalprice"),
        )
        .orderBy("o_year")
    )


def q_count_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — COUNT by month (flights-per-month viz query, viz1:4)."""
    o = read_testdata_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.month("o_orderdate").cast("long").alias("o_month"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_month")
    )


def q_count_by_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — COUNT by day-of-week (viz1:6). ISO dow (Mon=1) on both sides:
    Spark weekday()+1 == DuckDB isodow()."""
    o = read_testdata_table(spark, sf_dir, "orders")
    return (
        o.groupBy((F.weekday("o_orderdate") + 1).cast("long").alias("dow"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("dow")
    )


def q_delay_group_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — bucketized CASE column then GROUP BY (DelayGroup histogram,
    viz1:8; bins frozen in functions.flight_exprs.DELAY_GROUPS)."""
    o = read_testdata_table(spark, sf_dir, "orders").withColumn("delay_group", _order_delay_group())
    return o.groupBy("delay_group").agg(F.count(F.lit(1)).alias("n_orders"))


def q_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2/O3 — orderBy desc + limit with deterministic tie-break
    (driver-side sorts of Scripts/2_...py:126, viz2:7, done distributed)."""
    li = read_testdata_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("l_partkey"))
        .limit(10)
    )


def q_distinct_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 — distinct value set (np.unique over Airline, viz2:3)."""
    return read_testdata_table(spark, sf_dir, "part").select("p_brand").distinct()


# ---------------------------------------------------------------------------
# Joins (§2.3: none in the reference; required engine surface) + windows
# ---------------------------------------------------------------------------

def q_join_inner_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner joins + agg: revenue by nation. customer⋈nation is a
    broadcast; orders⋈customer shuffles on the key after pushdown."""
    o = read_testdata_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = read_testdata_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_testdata_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sum_dec = F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(sum_dec.cast("double").alias("revenue"), F.count(F.lit(1)).alias("n_orders"))
    )


def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers having ≥1 pending order."""
    c = read_testdata_table(spark, sf_dir, "customer")
    o = read_testdata_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with NO pending order."""
    c = read_testdata_table(spark, sf_dir, "customer")
    o = read_testdata_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


def q_window_top_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window function (§2.5: driver-side sorts made distributed):
    row_number over (custkey, totalprice desc) → each customer's largest
    order, deterministic tie-break on orderkey."""
    from pyspark.sql.window import Window

    o = read_testdata_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


def flagship_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship expressed through the spark.sql string API over
    registered temp views — demonstrating the SQL entry point the
    reference never had (SURVEY.md §3: no spark.sql call exists there)
    produces the identical result (same oracle as the DataFrame form)."""
    for name in ("orders", "customer", "nation"):
        read_testdata_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(
        f"""
        SELECT n_name AS carrier,
               count(IF(grp = 'Before_Time', 1, NULL))  AS before_time,
               count(IF(grp = 'On_Time', 1, NULL))      AS on_time,
               count(IF(grp = 'Small_delay', 1, NULL))  AS small_delay,
               count(IF(grp = 'Medium_Delay', 1, NULL)) AS medium_delay,
               count(IF(grp = 'Large_Delay', 1, NULL))  AS large_delay,
               count(IF(grp = 'Cancelled', 1, NULL))    AS cancelled,
               count(*) AS total
        FROM (SELECT o_custkey, {_GROUP_CASE_SQL} AS grp FROM orders) o
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY total DESC, carrier
        """
    )


QUERIES: list[QuerySpec] = [
    QuerySpec(
        "flagship_sql",
        flagship_sql,
        _FLAGSHIP_ORACLE,
        "flagship via the spark.sql string API (same oracle as DataFrame form)",
    ),
    QuerySpec(
        "flagship_delay_summary_by_carrier",
        flagship_delay_summary_by_carrier,
        _FLAGSHIP_ORACLE,
        "A9 pivot flagship: carrier × delay-group counts + totals",
    ),
    QuerySpec(
        "projection",
        q_projection,
        "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
        "P1 column pruning",
    ),
    QuerySpec(
        "filter_status",
        q_filter_status,
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'F'",
        "P3 equality filter",
    ),
    QuerySpec(
        "filter_year",
        q_filter_year,
        "SELECT o_orderkey, year(o_orderdate) AS o_year, o_totalprice "
        "FROM orders WHERE year(o_orderdate) = 1995",
        "P4 temporal filter",
    ),
    QuerySpec(
        "drop_any_null",
        q_drop_any_null,
        "SELECT event_id, user_id, event_type, value FROM events "
        "WHERE event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL "
        "AND event_type IS NOT NULL AND value IS NOT NULL AND props IS NOT NULL",
        "P5 na.drop",
    ),
    QuerySpec(
        "case_label",
        q_case_label,
        "SELECT l_orderkey, l_linenumber, "
        "CAST(CASE WHEN l_discount <= 0 AND l_tax - 0.02 <= 0 THEN 0 ELSE 1 END AS BIGINT) "
        "AS delay_status FROM lineitem",
        "P6 Delay_Status CASE rule",
    ),
    QuerySpec(
        "time_digits",
        q_time_digits,
        """
        SELECT event_id,
               CAST(hour(ts)*100 + minute(ts) AS DOUBLE) AS hhmm,
               CAST(CASE WHEN hour(ts)*100 + minute(ts) >= 1000
                         THEN substring(CAST(hour(ts)*100 + minute(ts) AS VARCHAR), 1, 2)
                         WHEN hour(ts)*100 + minute(ts) >= 100
                         THEN substring(CAST(hour(ts)*100 + minute(ts) AS VARCHAR), 1, 1)
                         ELSE '0' END AS BIGINT) AS dep_hour,
               CAST(right(CAST(hour(ts)*100 + minute(ts) AS VARCHAR), 2) AS BIGINT) AS dep_minute
        FROM events
        """,
        "P7/P9 hhmm string-substr extraction quirk",
    ),
    QuerySpec(
        "city_split",
        q_city_split,
        "SELECT n_nationkey, n_name || ', ' || r_name AS city_state, "
        "string_split(n_name || ', ' || r_name, ',')[1] AS city "
        "FROM nation JOIN region ON n_regionkey = r_regionkey",
        "P8 city/state split",
    ),
    QuerySpec(
        "cast_chain",
        q_cast_chain,
        "SELECT l_orderkey, l_linenumber, "
        "CAST(CAST(l_quantity AS INT) AS VARCHAR) AS qty_str, "
        "CAST(l_returnflag = 'R' AS BIGINT) AS returned_int FROM lineitem",
        "P10 cast chains",
    ),
    QuerySpec(
        "deterministic_sample",
        q_deterministic_sample,
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 100 = 0",
        "P13 determinized sample",
    ),
    QuerySpec(
        "union_reassembly",
        q_union_reassembly,
        "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F' "
        "UNION ALL "
        "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus <> 'F'",
        "U1 positional union",
    ),
    QuerySpec(
        "global_count",
        q_global_count,
        "SELECT count(*) AS n_rows FROM lineitem",
        "A1 global count",
    ),
    QuerySpec(
        "variance",
        q_variance,
        "SELECT round(var_samp(l_extendedprice), 6) AS var_extendedprice, "
        "round(var_samp(l_quantity), 6) AS var_quantity FROM lineitem",
        "A2 column variance",
    ),
    QuerySpec(
        "correlation_pairs",
        q_correlation_pairs,
        "SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price, "
        "round(corr(l_discount, l_tax), 6) AS corr_discount_tax FROM lineitem",
        "A3 pairwise Pearson correlation",
    ),
    QuerySpec(
        "chi_square_sql",
        q_chi_square_sql,
        """
        WITH cells AS (
          SELECT o_orderpriority AS p, CAST(o_orderkey % 2 AS BIGINT) AS lab,
                 CAST(count(*) AS DOUBLE) AS c
          FROM orders GROUP BY 1, 2
        ),
        rt AS (SELECT p, sum(c) AS rc FROM cells GROUP BY 1),
        ct AS (SELECT lab, sum(c) AS cc FROM cells GROUP BY 1),
        tot AS (SELECT sum(c) AS n FROM cells)
        SELECT round(sum(pow(c - rc*cc/n, 2) / (rc*cc/n)), 6) AS chi2,
               count(*) AS n_cells
        FROM cells JOIN rt USING (p) JOIN ct USING (lab) CROSS JOIN tot
        """,
        "A4 chi-square from contingency table",
    ),
    QuerySpec(
        "sum_by_year",
        q_sum_by_year,
        "SELECT year(o_orderdate) AS o_year, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_totalprice, "
        "count(*) AS n_orders, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_totalprice "
        "FROM orders GROUP BY 1 ORDER BY 1",
        "A5 sum by year",
    ),
    QuerySpec(
        "count_by_month",
        q_count_by_month,
        "SELECT month(o_orderdate) AS o_month, count(*) AS n_orders FROM orders "
        "GROUP BY 1 ORDER BY 1",
        "A6 count by month",
    ),
    QuerySpec(
        "count_by_dow",
        q_count_by_dow,
        "SELECT isodow(o_orderdate) AS dow, count(*) AS n_orders FROM orders "
        "GROUP BY 1 ORDER BY 1",
        "A7 count by day-of-week",
    ),
    QuerySpec(
        "delay_group_counts",
        q_delay_group_counts,
        f"SELECT {_GROUP_CASE_SQL} AS delay_group, count(*) AS n_orders FROM orders GROUP BY 1",
        "A8 delay-group histogram",
    ),
    QuerySpec(
        "top_k",
        q_top_k,
        "SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY 1 "
        "ORDER BY cnt DESC, l_partkey ASC LIMIT 10",
        "O2/O3 top-k with tie-break",
    ),
    QuerySpec(
        "distinct_values",
        q_distinct_values,
        "SELECT DISTINCT p_brand FROM part",
        "O5 distinct",
    ),
    QuerySpec(
        "join_inner_agg",
        q_join_inner_agg,
        "SELECT n_name, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue, "
        "count(*) AS n_orders "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name",
        "inner joins + agg",
    ),
    QuerySpec(
        "join_semi",
        q_join_semi,
        "SELECT c_custkey, c_name FROM customer WHERE EXISTS "
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')",
        "left-semi join",
    ),
    QuerySpec(
        "join_anti",
        q_join_anti,
        "SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS "
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')",
        "left-anti join",
    ),
    QuerySpec(
        "window_top_order",
        q_window_top_order,
        "SELECT o_custkey, o_orderkey, o_totalprice FROM ("
        "SELECT o_custkey, o_orderkey, o_totalprice, "
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn "
        "FROM orders) WHERE rn = 1",
        "window row_number top-1 per key",
    ),
]
