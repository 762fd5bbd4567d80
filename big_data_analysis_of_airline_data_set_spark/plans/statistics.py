"""Statistics query catalog (reference A2-A4 / M6-M11 surface).

MLlib computations cross-checked against relational SQL oracles where
expressible (correlation matrix, chi-square statistic/dof, variance
threshold selection). The univariate selectors rank by p-value, whose
CDFs aren't SQL-expressible in DuckDB — but both selector queries are
constructed so every candidate feature shares the same dof/df-pair,
making the p-value ordering monotone in the raw statistic, which IS
SQL-computable: the oracles rank by chi-square statistic / explicit
ANOVA F instead.

Also here: integer-exact lag-1 autocorrelation of daily event counts
(``spec.daily_counts``), a customer-decile gains table on the bucketed
global rank (``operators/ranking.py``), the ABC revenue classes and
Pareto coverage on the bucketed-prefix cumulative, none of which needs
a global window; the feature-hashing collision audit; two-feature
closed-form OLS, the Gini coefficient, closed-form 2-D PCA and the
weighted median. The A/B readouts live in ``experiments.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.ranking import bucketed_global_rank, ntile_from_rank
from ..sources.local import local_rows
from ..sources.readers import read_testdata_table
from ..stats.chisquare import chi_square_test
from ..stats.correlation import correlation_pairs_df
from ..stats.regression import OLS2_B0, OLS2_B1, OLS2_B2, OLS2_R2
from ..stats.selectors import (
    select_univariate_categorical,
    select_univariate_continuous,
)
from ..stats.variance import variance_threshold_select
from .spec import DAILY_COUNTS_SQL, QuerySpec, daily_counts

_LINEITEM_NUMERIC = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_mllib_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 — full Pearson matrix via one MLlib treeAggregate job
    (Scripts/2_...py:59-61), flattened to the upper triangle."""
    li = read_testdata_table(spark, sf_dir, "lineitem")
    return correlation_pairs_df(spark, li, _LINEITEM_NUMERIC)


def _corr_matrix_oracle() -> str:
    cols = _LINEITEM_NUMERIC
    selects = []
    for i in range(len(cols)):
        for j in range(i, len(cols)):
            selects.append(
                f"SELECT '{cols[i]}' AS col_a, '{cols[j]}' AS col_b, "
                f"round(corr({cols[i]}, {cols[j]}), 6) AS corr FROM lineitem"
            )
    return " UNION ALL ".join(selects)


def q_mllib_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7 — ChiSquareTest over one-fit-indexed categoricals
    (Scripts/2_...py:56-57,91-93). Label = o_orderkey % 2.
    p-value kept out of the oracled projection (no chi2 CDF in SQL)."""
    o = read_testdata_table(spark, sf_dir, "orders").withColumn(
        "label", (F.col("o_orderkey") % 2).cast("double")
    )
    res = chi_square_test(spark, o, ["o_orderpriority", "o_orderstatus"], "label")
    return res.select("feature", "statistic", "dof")


def _chi2_feature_sql(
    col: str,
    name: str | None = None,
    *,
    table: str = "orders",
    label: str = "o_orderkey % 2",
) -> str:
    """Chi-square statistic + dof for one categorical column (or column
    expression) vs a binary label expression, INCLUDING empty cells
    (MLlib builds the full contingency table, so absent combinations
    contribute exp)."""
    name = name or col
    return f"""
    SELECT '{name}' AS feature,
           round(sum(pow(obs - rc*cc/n, 2) / (rc*cc/n)), 6) AS statistic,
           (count(DISTINCT v) - 1) * (count(DISTINCT lab) - 1) AS dof
    FROM (
      SELECT g.v, g.lab, coalesce(o.c, 0)::DOUBLE AS obs
      FROM (SELECT v, lab FROM (SELECT DISTINCT {col} AS v FROM {table})
            CROSS JOIN (SELECT DISTINCT CAST({label} AS BIGINT) AS lab FROM {table})) g
      LEFT JOIN (SELECT {col} AS v, CAST({label} AS BIGINT) AS lab,
                        CAST(count(*) AS DOUBLE) AS c
                 FROM {table} GROUP BY 1, 2) o
      USING (v, lab)
    ) cells
    JOIN (SELECT {col} AS v, CAST(count(*) AS DOUBLE) AS rc FROM {table} GROUP BY 1) rt USING (v)
    JOIN (SELECT CAST({label} AS BIGINT) AS lab, CAST(count(*) AS DOUBLE) AS cc
          FROM {table} GROUP BY 1) ct USING (lab)
    CROSS JOIN (SELECT CAST(count(*) AS DOUBLE) AS n FROM {table}) tot
    """


def q_spearman_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 spearman variant: MLlib rank correlation, oracled against the
    average-rank Pearson formula in SQL (l_quantity's heavy ties make
    this a real tie-handling check)."""
    li = read_testdata_table(spark, sf_dir, "lineitem")
    pairs = correlation_pairs_df(
        spark, li, ["l_quantity", "l_extendedprice"], method="spearman"
    )
    return pairs.filter(F.col("col_a") != F.col("col_b"))


_SPEARMAN_ORACLE = """
WITH ranked AS (
  SELECT
    rank() OVER (ORDER BY l_quantity)
      + (count(*) OVER (PARTITION BY l_quantity) - 1) / 2.0 AS r_q,
    rank() OVER (ORDER BY l_extendedprice)
      + (count(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0 AS r_p
  FROM lineitem
)
SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
       round(corr(r_q, r_p), 6) AS corr
FROM ranked
"""


def q_variance_threshold_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10/M11 — the "kth-largest variance as threshold" selection rule
    (Scripts/2_...py:124-131), k=3 over the 4 lineitem numerics → the
    top-2 variance columns survive (strict > semantics)."""
    li = read_testdata_table(spark, sf_dir, "lineitem")
    selected, _ = variance_threshold_select(li, _LINEITEM_NUMERIC, k=3)
    return local_rows(spark, [(c,) for c in selected], "feature string")


_VARIANCE_THRESHOLD_ORACLE = """
WITH v AS (
  SELECT var_samp(l_quantity) AS l_quantity,
         var_samp(l_extendedprice) AS l_extendedprice,
         var_samp(l_discount) AS l_discount,
         var_samp(l_tax) AS l_tax
  FROM lineitem
), long AS (
  SELECT 'l_quantity' AS feature, l_quantity AS x FROM v
  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM v
  UNION ALL SELECT 'l_discount', l_discount FROM v
  UNION ALL SELECT 'l_tax', l_tax FROM v
), thr AS (SELECT x AS t FROM long ORDER BY x DESC LIMIT 1 OFFSET 2)
SELECT feature FROM long CROSS JOIN thr WHERE x > t
"""


def q_univariate_select_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 — chi-square top-N categorical selector (Scripts/2_...py:103-107).

    Oracle-able because BOTH candidate features have 5 levels: with equal
    dof the chi-square p-value (what numTopFeatures ranks by, no CDF in
    SQL) is monotone in the raw statistic, which IS SQL-computable."""
    o = (
        read_testdata_table(spark, sf_dir, "orders")
        .withColumn("label", (F.col("o_orderkey") % 2).cast("double"))
        .withColumn("custkey_band", (F.col("o_custkey") % 5).cast("string"))
    )
    sel = select_univariate_categorical(
        o, ["o_orderpriority", "custkey_band"], "label", num_top=1
    )
    return local_rows(spark, [(c,) for c in sel], "feature string")


_UNIVARIATE_CAT_ORACLE = f"""
WITH stats AS (
  {_chi2_feature_sql("o_orderpriority")}
  UNION ALL
  {_chi2_feature_sql("CAST(o_custkey % 5 AS VARCHAR)", "custkey_band")}
)
SELECT feature FROM stats ORDER BY statistic DESC LIMIT 1
"""


def _anova_f_sql(col: str) -> str:
    """One-way ANOVA F for one continuous column against the 2-class
    l_orderkey%2 label: SSB/(k-1) over SSW/(n-k), k=2. Same closed form
    MLlib's ANOVATest evaluates; with k identical across features the
    F-ordering equals the p-value ordering the selector uses."""
    return f"""
    SELECT '{col}' AS feature,
           (n0*(m0-m)*(m0-m) + n1*(m1-m)*(m1-m))
             / ((n0*v0 + n1*v1) / (n - 2)) AS f
    FROM (
      SELECT CAST(count(*) AS DOUBLE) AS n, avg({col}) AS m,
             CAST(count(*) FILTER (WHERE l_orderkey % 2 = 0) AS DOUBLE) AS n0,
             avg({col}) FILTER (WHERE l_orderkey % 2 = 0) AS m0,
             var_pop({col}) FILTER (WHERE l_orderkey % 2 = 0) AS v0,
             CAST(count(*) FILTER (WHERE l_orderkey % 2 = 1) AS DOUBLE) AS n1,
             avg({col}) FILTER (WHERE l_orderkey % 2 = 1) AS m1,
             var_pop({col}) FILTER (WHERE l_orderkey % 2 = 1) AS v1
      FROM lineitem
    )
    """


def q_univariate_select_continuous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9 — ANOVA-F top-N continuous selector (Scripts/2_...py:110-114).
    Oracle: explicit one-way-ANOVA F per feature (k=2 for all features,
    so F-ordering == p-value ordering)."""
    li = read_testdata_table(spark, sf_dir, "lineitem").withColumn(
        "label", (F.col("l_orderkey") % 2).cast("double")
    )
    sel = select_univariate_continuous(li, _LINEITEM_NUMERIC, "label", num_top=2)
    return local_rows(spark, [(c,) for c in sel], "feature string")


_UNIVARIATE_CONT_ORACLE = (
    "WITH stats AS (\n"
    + "\n  UNION ALL\n".join(_anova_f_sql(c) for c in _LINEITEM_NUMERIC)
    + "\n)\nSELECT feature FROM stats ORDER BY f DESC LIMIT 2"
)


def q_stats_group_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group closed-form OLS (stats/regression.py): price ~
    quantity per return flag — slope/intercept/R² from exact DECIMAL
    moment sums, one aggregation pass. The oracle replays the same
    closed form from the same exact sums (NOT regr_slope, whose float
    accumulation order is engine-specific)."""
    from ..stats.regression import group_ols

    li = read_testdata_table(spark, sf_dir, "lineitem")
    return group_ols(
        li,
        group_cols=["l_returnflag"],
        x_col="l_quantity",
        y_col="l_extendedprice",
        x_scale=2,
        y_scale=2,
    )


_GROUP_OLS_ORACLE = """
WITH m AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(CAST(l_quantity AS DECIMAL(19,2)) AS DECIMAL(38,2))) AS DOUBLE) AS sx,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(19,2)) AS DECIMAL(38,2))) AS DOUBLE) AS sy,
         CAST(sum(CAST(CAST(l_quantity AS DECIMAL(19,2)) * CAST(l_extendedprice AS DECIMAL(19,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(CAST(l_quantity AS DECIMAL(19,2)) * CAST(l_quantity AS DECIMAL(19,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(19,2)) * CAST(l_extendedprice AS DECIMAL(19,2)) AS DECIMAL(38,4))) AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       round((CAST(n AS DOUBLE) * sxy - sx * sy)
             / nullif(CAST(n AS DOUBLE) * sxx - sx * sx, 0.0), 6) AS slope,
       round((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
                    / nullif(CAST(n AS DOUBLE) * sxx - sx * sx, 0.0)) * sx)
             / CAST(n AS DOUBLE), 6) AS intercept,
       round((CAST(n AS DOUBLE) * sxy - sx * sy)
             * (CAST(n AS DOUBLE) * sxy - sx * sy)
             / (nullif(CAST(n AS DOUBLE) * sxx - sx * sx, 0.0)
                * nullif(CAST(n AS DOUBLE) * syy - sy * sy, 0.0)), 6) AS r2
FROM m
"""


_KS_A, _KS_B = "1-URGENT", "5-LOW"


def q_stats_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS distance (stats/regression.py:ks_two_sample)
    between order-value distributions of two priority classes — the
    snapshot/source drift test. Range-frame CDFs make ties exact, so
    the statistic is value-hash stable across engines."""
    from ..stats.regression import ks_two_sample

    o = read_testdata_table(spark, sf_dir, "orders")
    return ks_two_sample(
        o,
        group_col="o_orderpriority",
        value_col="o_totalprice",
        group_a=_KS_A,
        group_b=_KS_B,
    )


_KS_DRIFT_ORACLE = f"""
WITH pooled AS (
  SELECT o_orderpriority AS g, o_totalprice AS v FROM orders
  WHERE o_orderpriority IN ('{_KS_A}', '{_KS_B}')
), c AS (
  SELECT v,
         sum(CASE WHEN g = '{_KS_A}' THEN 1 ELSE 0 END) OVER (
           ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
         sum(CASE WHEN g = '{_KS_B}' THEN 1 ELSE 0 END) OVER (
           ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
         sum(CASE WHEN g = '{_KS_A}' THEN 1 ELSE 0 END) OVER () AS na,
         sum(CASE WHEN g = '{_KS_B}' THEN 1 ELSE 0 END) OVER () AS nb
  FROM pooled
)
SELECT '{_KS_A}' AS group_a, '{_KS_B}' AS group_b,
       CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
       round(max(abs(CAST(ca AS DOUBLE) / nullif(na, 0)
                     - CAST(cb AS DOUBLE) / nullif(nb, 0))), 6)
         AS ks_d
FROM c
"""


def q_feature_selection_job(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry-point B end-to-end (Scripts/2_...py): correlation →
    chi-square → univariate selectors → variance threshold, returning
    the combined method × feature selection table.

    Categorical candidates are equal-cardinality (%5) bands so the
    chi-square p-value ranking is monotone in the SQL-computable raw
    statistic (same design as ``univariate_select_categorical``) —
    which makes the whole composite's output oracle-checkable."""
    from ..stats.feature_selection_job import feature_selection_job

    li = (
        read_testdata_table(spark, sf_dir, "lineitem")
        .withColumn("label", (F.col("l_orderkey") % 2).cast("double"))
        .withColumn("partkey_band", (F.col("l_partkey") % 5).cast("string"))
        .withColumn("suppkey_band", (F.col("l_suppkey") % 5).cast("string"))
    )
    artifacts = feature_selection_job(
        spark,
        li,
        categorical_cols=["partkey_band", "suppkey_band"],
        numeric_cols=_LINEITEM_NUMERIC,
        label_col="label",
        num_top_categorical=1,
        num_top_continuous=2,
        variance_k=3,
    )
    return artifacts["selected"]


def _feature_selection_job_oracle() -> str:
    cat_stats = " UNION ALL ".join(
        _chi2_feature_sql(
            f"CAST(l_{key}key % 5 AS VARCHAR)",
            f"{key}key_band",
            table="lineitem",
            label="l_orderkey % 2",
        )
        for key in ("part", "supp")
    )
    cont_stats = "\n  UNION ALL\n".join(_anova_f_sql(c) for c in _LINEITEM_NUMERIC)
    return f"""
WITH cat_stats AS ({cat_stats}),
cont_stats AS ({cont_stats}),
var_long AS (
  SELECT 'l_quantity' AS feature, var_samp(l_quantity) AS x FROM lineitem
  UNION ALL SELECT 'l_extendedprice', var_samp(l_extendedprice) FROM lineitem
  UNION ALL SELECT 'l_discount', var_samp(l_discount) FROM lineitem
  UNION ALL SELECT 'l_tax', var_samp(l_tax) FROM lineitem
),
var_thr AS (SELECT x AS t FROM var_long ORDER BY x DESC LIMIT 1 OFFSET 2)
SELECT 'univariate_categorical' AS method, feature
FROM (SELECT feature FROM cat_stats ORDER BY statistic DESC LIMIT 1)
UNION ALL
SELECT 'univariate_continuous', feature
FROM (SELECT feature FROM cont_stats ORDER BY f DESC LIMIT 2)
UNION ALL
SELECT 'variance_threshold', feature
FROM var_long CROSS JOIN var_thr WHERE x > t
"""


def q_feature_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group p01/p99 winsorization audit on l_extendedprice by
    l_returnflag — the DEFAULT sketch-threshold path
    (stats/winsorize.py, approx_percentile accuracy=10000).

    Sketch thresholds are engine-specific, so the driver-checkable
    projection follows the quantiles_approx within-bound contract:
    exact columns that hash identically on both engines (n_rows and a
    decimal-accumulated raw mean) beside booleans the sketch guarantee
    makes constant — with rank error ≤ n/accuracy, the clipped-row
    counts must land within p·n ± n/1000 (10× the theoretical bound,
    slack for ties), and the winsorized mean must sit inside [lo, hi].
    A drifting sketch flips a boolean and fails the hash; the exact
    interpolated-percentile twin is ``feature_winsorize_exact``.
    """
    from ..stats.winsorize import winsorize_summary

    li = read_testdata_table(spark, sf_dir, "lineitem")
    s = winsorize_summary(
        li, group_col="l_returnflag", value_col="l_extendedprice"
    )
    raw_mean = li.groupBy("l_returnflag").agg(
        F.round(
            F.sum(
                F.round("l_extendedprice", 6).cast("decimal(28,6)")
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("raw_mean")
    )
    n = F.col("n_rows").cast("double")
    slack = F.greatest(n / 1000.0, F.lit(5.0))
    return (
        s.join(F.broadcast(raw_mean), "l_returnflag")
        .select(
            "l_returnflag",
            "n_rows",
            "raw_mean",
            (F.abs(F.col("n_clipped_low") - 0.01 * n) <= slack).alias(
                "clip_low_within_rank_bound"
            ),
            (F.abs(F.col("n_clipped_high") - 0.01 * n) <= slack).alias(
                "clip_high_within_rank_bound"
            ),
            (
                (F.col("lo") <= F.col("winsorized_mean"))
                & (F.col("winsorized_mean") <= F.col("hi"))
            ).alias("mean_within_thresholds"),
        )
    )


_WINSORIZE_APPROX_ORACLE = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(CAST(sum(CAST(round(l_extendedprice, 6) AS DECIMAL(28,6)))
                  AS DOUBLE) / count(*), 6) AS raw_mean,
       TRUE AS clip_low_within_rank_bound,
       TRUE AS clip_high_within_rank_bound,
       TRUE AS mean_within_thresholds
FROM lineitem GROUP BY l_returnflag
"""


def q_feature_winsorize_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact interpolated-percentile twin of ``feature_winsorize``
    (stats/winsorize.py ``exact=True``): every output column —
    thresholds, clipped counts, winsorized mean — is deterministic and
    hash-matched against DuckDB's quantile_cont. The oracle-checkable
    baseline; the sketch path is the scale default."""
    from ..stats.winsorize import winsorize_summary

    li = read_testdata_table(spark, sf_dir, "lineitem")
    return winsorize_summary(
        li, group_col="l_returnflag", value_col="l_extendedprice", exact=True
    )


_WINSORIZE_ORACLE = """
WITH pct AS (
  SELECT l_returnflag,
         round(quantile_cont(l_extendedprice, 0.01), 6) AS lo,
         round(quantile_cont(l_extendedprice, 0.99), 6) AS hi
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag, p.lo, p.hi,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN l.l_extendedprice < p.lo THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_low,
       CAST(sum(CASE WHEN l.l_extendedprice > p.hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_high,
       round(CAST(sum(CAST(round(greatest(least(l.l_extendedprice, p.hi), p.lo), 6)
                           AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6)
         AS winsorized_mean
FROM lineitem l JOIN pct p USING (l_returnflag)
GROUP BY l.l_returnflag, p.lo, p.hi
"""




def q_stats_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location/scale per group: exact interpolated median plus
    the median absolute deviation (MAD) — the outlier-resistant stddev
    replacement every data-quality monitor reaches for when means drift
    on heavy tails. Two passes by necessity (the deviations need the
    median first): pass 1 is one hash aggregate; its per-group medians
    broadcast back (group-cardinality rows) so pass 2 stays a single
    scan + aggregate. Same interpolation (percentile / quantile_cont)
    on both engines, round(6)."""
    from ..stats.winsorize import spread_rows_for_heavy_agg

    li = read_testdata_table(spark, sf_dir, "lineitem")
    # both percentile partials buffer value→count maps; spread the
    # narrow row-group-bound scan across the session width first
    # (gated no-op at scale — stats/winsorize.py helper, r13, −35%)
    vals = spread_rows_for_heavy_agg(
        li.select("l_returnflag", "l_extendedprice"), "l_extendedprice"
    )
    med = vals.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("_med")
    )
    return (
        vals.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.first("_med"), 6).alias("median_price"),
            F.round(
                F.expr("percentile(abs(l_extendedprice - _med), 0.5)"), 6
            ).alias("mad_price"),
        )
    )


_MAD_ORACLE = """
WITH med AS (
  SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS m
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       round(any_value(m), 6) AS median_price,
       round(quantile_cont(abs(l.l_extendedprice - m), 0.5), 6) AS mad_price
FROM lineitem l JOIN med USING (l_returnflag)
GROUP BY l.l_returnflag
"""


_FD_CANDIDATES = [
    ("o_custkey", "o_orderpriority"),
    ("o_custkey", "o_orderstatus"),
    ("o_orderkey", "o_orderstatus"),
]


def q_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiling (the data-quality rule-mining
    primitive): for each candidate X → Y, how many X values map to more
    than one distinct Y. One hash aggregate per candidate (distinct-agg
    on the pair), unioned — three scans of the source, one per
    candidate (at production scale, cache the source table around the
    loop; the catalog-scale scans are cheaper than owning a release
    contract here). A candidate with 0 violations HOLDS and can be
    enforced as a constraint downstream."""
    o = read_testdata_table(spark, sf_dir, "orders")
    parts = []
    for lhs, rhs in _FD_CANDIDATES:
        per_lhs = o.groupBy(lhs).agg(
            F.count_distinct(F.col(rhs)).alias("_nd")
        )
        parts.append(
            per_lhs.agg(
                F.lit(lhs).alias("fd_lhs"),
                F.lit(rhs).alias("fd_rhs"),
                F.count(F.lit(1)).cast("long").alias("n_lhs"),
                F.sum((F.col("_nd") > 1).cast("long")).alias("n_violating"),
                (F.sum((F.col("_nd") > 1).cast("long")) == 0).alias("holds"),
            )
        )
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out


def _fd_oracle() -> str:
    selects = []
    for lhs, rhs in _FD_CANDIDATES:
        selects.append(f"""
SELECT '{lhs}' AS fd_lhs, '{rhs}' AS fd_rhs,
       CAST(count(*) AS BIGINT) AS n_lhs,
       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
       sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds
FROM (SELECT {lhs}, count(DISTINCT {rhs}) AS nd FROM orders GROUP BY {lhs})""")
    return "\nUNION ALL\n".join(selects)


_RI_EDGES = [
    # (child table, child FK col, parent table, parent key col)
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("events", "user_id", "customer", "c_custkey"),
    # deliberate tripwire: a MISWIRED edge (nation keys checked against
    # the region table) — only keys 0..4 find a parent
    ("supplier", "s_nationkey", "region", "r_regionkey"),
]


def q_ri_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: per FK edge, how many child rows
    have no matching parent (anti-join counts). The real star-schema
    edges hold by construction (including events→customer — verified,
    the generator draws user ids from the customer key space); the
    supplier→REGION edge is the deliberately MISWIRED tripwire (nation
    keys checked against the 5-row region table), so the report shows
    a failing edge's shape — same philosophy as data_quality_report's
    quantity tripwire. Each edge is one anti-join
    (broadcast for dimension parents) + count — no row ever leaves the
    executors."""
    rows = []
    for child, fk, parent, pk in _RI_EDGES:
        c = read_testdata_table(spark, sf_dir, child)
        p = read_testdata_table(spark, sf_dir, parent)
        n_child = c.count()
        n_orphans = (
            c.select(F.col(fk)).join(
                p.select(F.col(pk).alias(fk)), fk, "left_anti"
            ).count()
        )
        rows.append(
            (f"{child}.{fk}", f"{parent}.{pk}", n_child, n_orphans, n_orphans == 0)
        )
    return local_rows(
        spark, rows, "child_fk string, parent_key string, n_child long,"
        " n_orphans long, holds boolean"
    )


def _ri_oracle() -> str:
    selects = []
    for child, fk, parent, pk in _RI_EDGES:
        selects.append(f"""
SELECT '{child}.{fk}' AS child_fk, '{parent}.{pk}' AS parent_key,
       CAST((SELECT count(*) FROM {child}) AS BIGINT) AS n_child,
       CAST((SELECT count(*) FROM {child} c
             WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                               WHERE p.{pk} = c.{fk})) AS BIGINT) AS n_orphans,
       (SELECT count(*) FROM {child} c
        WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                          WHERE p.{pk} = c.{fk})) = 0 AS holds""")
    return "\nUNION ALL\n".join(selects)


_BS_REPLICAS = 32


def q_bootstrap_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap (stats/bootstrap.py): 32 replica
    means of o_totalprice whose spread is the sampling uncertainty —
    resampling with zero RNG state, every weight an md5 pure function
    the oracle replays."""
    from ..stats.bootstrap import bootstrap_replica_means

    o = read_testdata_table(spark, sf_dir, "orders")
    return bootstrap_replica_means(
        o, id_col="o_orderkey", value_col="o_totalprice",
        n_replicas=_BS_REPLICAS,
    )


def _bootstrap_oracle() -> str:
    from ..stats.bootstrap import POISSON1_CUTPOINTS

    u = (
        "list_sum(list_transform(generate_series(1, 14), j -> "
        "CAST(strpos('0123456789abcdef', substr(md5('bs_' || replica ||"
        " '_' || o_orderkey), j, 1)) - 1 AS BIGINT)"
        " * (CAST(1 AS BIGINT) << (4 * (14 - j)))))"
    )
    t0, t1, t2, t3 = POISSON1_CUTPOINTS
    return f"""
WITH r AS (
  SELECT o_orderkey, o_totalprice, CAST(b AS VARCHAR) AS replica_s,
         CAST(b AS BIGINT) AS replica
  FROM orders, unnest(generate_series(0, {_BS_REPLICAS - 1})) AS t(b)
), w AS (
  SELECT replica, o_totalprice,
         CASE WHEN ({u.replace("replica", "replica_s")}) < {t0} THEN 0
              WHEN ({u.replace("replica", "replica_s")}) < {t1} THEN 1
              WHEN ({u.replace("replica", "replica_s")}) < {t2} THEN 2
              WHEN ({u.replace("replica", "replica_s")}) < {t3} THEN 3
              ELSE 4 END AS wgt
  FROM r
)
SELECT replica,
       CAST(sum(wgt) AS BIGINT) AS n_eff,
       round(CAST(sum(wgt * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             / sum(wgt), 6) AS mean_value
FROM w GROUP BY replica
"""


# log10(1 + 1/d) for d = 1..9, precomputed so neither engine's log10
# participates in the comparison
_BENFORD = (0.30103, 0.176091, 0.124939, 0.09691,
            0.079181, 0.066947, 0.057992, 0.051153, 0.045757)


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit over order totals — the classic
    fabricated-numbers screen: naturally occurring multi-magnitude
    amounts follow log10(1+1/d); a flat or spiky digit histogram flags
    synthetic or constrained data. First digit extracted from the
    string form (portable; no float log in the hot path), expected
    shares are fixed literals. One scan, one 9-group aggregate.
    (TPC-H-ish uniform prices are NOT Benford-distributed — the audit
    correctly reports that, which is the point of running it on
    synthetic data.)"""
    o = read_testdata_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.regexp_replace(F.col("o_totalprice").cast("string"), r"[^1-9]", ""),
        1, 1,
    ).cast("long")
    per = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    total = F.sum("n").over(Window.partitionBy())
    expected = F.element_at(F.lit(list(_BENFORD)), F.col("digit").cast("int"))
    return per.select(
        "digit",
        "n",
        F.round(F.col("n") / total, 6).alias("share"),
        expected.alias("benford_expected"),
    )


def _benford_oracle() -> str:
    arr = ", ".join(str(x) for x in _BENFORD)
    return f"""
WITH d AS (
  SELECT CAST(substr(regexp_replace(CAST(o_totalprice AS VARCHAR),
                                    '[^1-9]', '', 'g'), 1, 1) AS BIGINT)
           AS digit
  FROM orders
), per AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit
)
SELECT digit, n,
       round(CAST(n AS DOUBLE) / sum(n) OVER (), 6) AS share,
       ([{arr}])[digit] AS benford_expected
FROM per
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
    daily = daily_counts(e).withColumnRenamed("n", "x")
    w = Window.partitionBy("event_type").orderBy("day")
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
WITH counts AS (
  {DAILY_COUNTS_SQL}
), daily AS (
  SELECT event_type, day, n AS x FROM counts
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
    cum_w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    tot_w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
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


# ------------- ABC revenue classification -------------


def q_orders_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification of parts by lineitem revenue:
    accumulate revenue share in descending-revenue order and class
    A = first 80% of revenue, B = next 15%, C = the tail. Reports
    the class sizes and revenue shares — the 'how concentrated is
    my catalog' table.

    Engine parity: cumulative shares compare DECIMAL cum sums
    against DECIMAL thresholds of the exact total (5·cum vs 4·total,
    20·cum vs 19·total — integer multiples, no float thresholds);
    ties break on part key. Scale shape: the descending cumulative
    is the bucketed-prefix decomposition AGAIN (fourth instance) —
    per-bucket DECIMAL sums chain on the 64-row bucket frame, and
    the ordered window runs only WITHIN a bucket, so no whole-parts
    single-partition sort exists anywhere in the plan."""
    from ..operators.range_bucket import with_range_bucket

    li = read_testdata_table(spark, sf_dir, "lineitem")
    # rev feeds the bucketing twice (bounds + rows) via the helper
    rev = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias(
                "rev"
            )
        )
        .localCheckpoint(eager=False)
    )
    bucketed = with_range_bucket(rev, "rev", 64, descending=True)
    per_bucket = bucketed.groupBy("_b").agg(F.sum("rev").alias("_wb"))
    off_w = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    tot_w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    offsets = per_bucket.select(
        "_b",
        F.coalesce(
            F.sum("_wb").over(off_w), F.lit(0).cast("decimal(38,2)")
        ).alias("_carry"),
        F.sum("_wb").over(tot_w).alias("tot"),
    )
    in_w = (
        Window.partitionBy("_b")
        .orderBy(F.desc("rev"), F.asc("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    classed = (
        bucketed.join(F.broadcast(offsets), "_b")
        .select(
            "l_partkey",
            "rev",
            (F.col("_carry") + F.sum("rev").over(in_w)).alias("cum"),
            "tot",
        )
    ).select(
        "l_partkey",
        "rev",
        F.when(
            F.lit(5) * F.col("cum") <= F.lit(4) * F.col("tot"), F.lit("A")
        )
        .when(
            F.lit(20) * F.col("cum") <= F.lit(19) * F.col("tot"), F.lit("B")
        )
        .otherwise(F.lit("C"))
        .alias("abc_class"),
        "tot",
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(
                F.sum("rev").cast("double") / F.max("tot").cast("double"), 6
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


_ABC_ORACLE = """
WITH rev AS (
  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
  FROM lineitem GROUP BY 1
), ranked AS (
  SELECT l_partkey, rev,
         SUM(rev) OVER (ORDER BY rev DESC, l_partkey ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(rev) OVER () AS tot
  FROM rev
), classed AS (
  SELECT l_partkey, rev, tot,
         CASE WHEN 5 * cum <= 4 * tot THEN 'A'
              WHEN 20 * cum <= 19 * tot THEN 'B'
              ELSE 'C' END AS abc_class
  FROM ranked
)
SELECT abc_class, count(*) AS n_parts,
       round(CAST(SUM(rev) AS DOUBLE) / CAST(max(tot) AS DOUBLE), 6)
         AS revenue_share
FROM classed
GROUP BY abc_class
ORDER BY abc_class
"""


# ------------- two-feature OLS -------------


def q_stats_multi_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature closed-form least squares per return flag
    (stats/regression.py:group_ols2): extendedprice ~ quantity +
    discount — multiple regression as ten exact decimal moments and a
    Cramer 3×3 solve, no iteration. The coefficient and R² expressions
    are the OLS2_* texts the oracle evaluates verbatim."""
    from ..stats.regression import group_ols2

    li = read_testdata_table(spark, sf_dir, "lineitem")
    return group_ols2(
        li,
        group_cols=["l_returnflag"],
        x1_col="l_quantity",
        x2_col="l_discount",
        y_col="l_extendedprice",
    )


def _multi_ols_oracle() -> str:
    d = "DECIMAL(19,2)"

    def dsum(expr: str, scale: int) -> str:
        return f"CAST(sum(CAST({expr} AS DECIMAL(38,{scale}))) AS DOUBLE)"

    x1 = f"CAST(l_quantity AS {d})"
    x2 = f"CAST(l_discount AS {d})"
    y = f"CAST(l_extendedprice AS {d})"
    return f"""
WITH m AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS n,
         {dsum(x1, 2)} AS s1,
         {dsum(x2, 2)} AS s2,
         {dsum(y, 2)} AS sy,
         {dsum(f"{x1} * {x1}", 4)} AS s11,
         {dsum(f"{x2} * {x2}", 4)} AS s22,
         {dsum(f"{x1} * {x2}", 4)} AS s12,
         {dsum(f"{x1} * {y}", 4)} AS s1y,
         {dsum(f"{x2} * {y}", 4)} AS s2y,
         {dsum(f"{y} * {y}", 4)} AS syy
  FROM lineitem GROUP BY l_returnflag
), m2 AS (
  SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
         s1, s2, sy, s11, s22, s12, s1y, s2y, syy
  FROM m
), solved AS (
  SELECT l_returnflag, n, nd, sy, s1y, s2y, syy,
         {OLS2_B0} AS b0,
         {OLS2_B1} AS b1,
         {OLS2_B2} AS b2
  FROM m2
)
SELECT l_returnflag, n,
       round(b0, 6) AS b0, round(b1, 6) AS b1, round(b2, 6) AS b2,
       round({OLS2_R2}, 6) AS r2
FROM solved
"""


# ------------- Gini / Lorenz inequality -------------


def q_stats_gini_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of order value per priority class — the
    Lorenz-curve inequality measure (revenue concentration, the
    80/20 audit). Computed from the rank identity
    G = 2·Σi·x_(i) / (n·Σx) − (n+1)/n over values totally ordered by
    (value, order key): the rank-weighted sum and Σx accumulate
    exactly in DECIMAL (tied values commute — swapping equal x
    between adjacent ranks leaves Σi·x unchanged, so the tie-break
    only pins engine determinism), and the final expression is two
    divisions over exact inputs. One per-group ordering window + one
    aggregation."""
    o = read_testdata_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.asc("x"), F.asc("o_orderkey")
    )
    ranked = o.select(
        "o_orderpriority",
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("x"),
    ).select(
        "o_orderpriority",
        "x",
        F.row_number().over(w).cast("long").alias("i"),
    )
    agg = ranked.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(38,2)")).cast("double").alias("sx"),
        F.sum((F.col("i") * F.col("x")).cast("decimal(38,2)"))
        .cast("double")
        .alias("sxi"),
    )
    return agg.select(
        "o_orderpriority",
        "n",
        F.col("sx").alias("total_value"),
        F.round(
            F.expr(
                "2.0e0 * sxi / nullif(CAST(n AS DOUBLE) * sx, 0.0)"
                " - (CAST(n AS DOUBLE) + 1.0e0) / CAST(n AS DOUBLE)"
            ),
            6,
        ).alias("gini"),
    )


_GINI_ORACLE = """
WITH ranked AS (
  SELECT o_orderpriority,
         CAST(o_totalprice AS DECIMAL(18,2)) AS x,
         CAST(row_number() OVER (
           PARTITION BY o_orderpriority
           ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) ASC, o_orderkey ASC
         ) AS BIGINT) AS i
  FROM orders
), agg AS (
  SELECT o_orderpriority,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS DECIMAL(38,2))) AS DOUBLE) AS sx,
         CAST(sum(CAST(i * x AS DECIMAL(38,2))) AS DOUBLE) AS sxi
  FROM ranked GROUP BY o_orderpriority
)
SELECT o_orderpriority, n, sx AS total_value,
       round(2.0e0 * sxi / nullif(CAST(n AS DOUBLE) * sx, 0.0)
             - (CAST(n AS DOUBLE) + 1.0e0) / CAST(n AS DOUBLE), 6) AS gini
FROM agg
"""


# ------------- Pareto / revenue concentration -------------


def q_stats_pareto_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration readout over customers (the 80/20
    audit companion to stats_gini_by_group): how many top customers
    cover 50% / 90% of revenue, and the revenue share of the top
    decile. All threshold crossings are EXACT DECIMAL comparisons
    (2·cumsum ≥ total, 10·cumsum ≥ 9·total — no float thresholds),
    under a (revenue desc, custkey) total order.

    Scale shape: the descending cumulative is the bucketed-prefix
    decomposition (fifth instance of operators/range_bucket.py) —
    per-bucket DECIMAL sums and counts chain on the 64-row bucket
    frame, and the ordered window runs only WITHIN a bucket, so no
    whole-customers single-partition sort exists in the plan."""
    from ..operators.range_bucket import with_range_bucket

    o = read_testdata_table(spark, sf_dir, "orders")
    # per_cust feeds the bucketing twice (bounds + rows) via the helper
    per_cust = (
        o.groupBy(F.col("o_custkey").alias("cust"))
        .agg(
            F.sum(
                F.col("o_totalprice")
                .cast("decimal(18,2)")
                .cast("decimal(38,2)")
            )
            .cast("decimal(18,2)")
            .alias("rev")
        )
        .localCheckpoint(eager=False)
    )
    bucketed = with_range_bucket(per_cust, "rev", 64, descending=True)
    per_bucket = bucketed.groupBy("_b").agg(
        F.sum(F.col("rev").cast("decimal(38,2)")).alias("_wb"),
        F.count(F.lit(1)).alias("_nb"),
    )
    off_w = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    tot_w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    offsets = per_bucket.select(
        "_b",
        F.coalesce(
            F.sum("_wb").over(off_w), F.lit(0).cast("decimal(38,2)")
        ).alias("_carry"),
        F.coalesce(F.sum("_nb").over(off_w), F.lit(0))
        .cast("long")
        .alias("_off"),
        F.sum("_wb").over(tot_w).alias("total"),
        F.sum("_nb").over(tot_w).cast("long").alias("n_customers"),
    )
    in_w = Window.partitionBy("_b").orderBy(F.desc("rev"), F.asc("cust"))
    in_cum = in_w.rowsBetween(Window.unboundedPreceding, 0)
    ranked = bucketed.join(F.broadcast(offsets), "_b").select(
        (F.col("_off") + F.row_number().over(in_w)).cast("long").alias("i"),
        (
            F.col("_carry")
            + F.sum(F.col("rev").cast("decimal(38,2)")).over(in_cum)
        ).alias("cum"),
        "total",
        "n_customers",
    )
    return ranked.groupBy().agg(
        F.max("n_customers").cast("long").alias("n_customers"),
        F.max("total").cast("double").alias("total_revenue"),
        F.min(F.when(F.col("cum") * 2 >= F.col("total"), F.col("i")))
        .cast("long")
        .alias("n_top_half"),
        F.min(F.when(F.col("cum") * 10 >= F.col("total") * 9, F.col("i")))
        .cast("long")
        .alias("n_top_90pct"),
        F.round(
            F.max(
                F.when(
                    F.col("i") == F.expr("(n_customers + 9) div 10"),
                    F.col("cum").cast("double") / F.col("total").cast("double"),
                )
            ),
            6,
        ).alias("top_decile_share"),
    )


_PARETO_ORACLE = """
WITH per_cust AS (
  SELECT o_custkey AS cust,
         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                       AS DECIMAL(38,2))) AS DECIMAL(18,2)) AS rev
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT row_number() OVER (ORDER BY rev DESC, cust ASC) AS i,
         sum(CAST(rev AS DECIMAL(38,2))) OVER (
           ORDER BY rev DESC, cust ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(CAST(rev AS DECIMAL(38,2))) OVER () AS total,
         count(*) OVER () AS n_customers
  FROM per_cust
)
SELECT CAST(max(n_customers) AS BIGINT) AS n_customers,
       CAST(max(total) AS DOUBLE) AS total_revenue,
       CAST(min(CASE WHEN cum * 2 >= total THEN i END) AS BIGINT)
         AS n_top_half,
       CAST(min(CASE WHEN cum * 10 >= total * 9 THEN i END) AS BIGINT)
         AS n_top_90pct,
       round(max(CASE WHEN i = (n_customers + 9) // 10
                      THEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE)
                 END), 6) AS top_decile_share
FROM ranked
"""


# ------------- closed-form 2-D PCA -------------


def q_stats_pca_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-return-class principal components of (quantity,
    extendedprice): sample covariance matrix from one decimal-exact
    aggregation pass, then the 2×2 eigenvalues in closed form
    (λ = (tr ± sqrt(tr² − 4·det)) / 2) — no iterative solver, no
    MLlib fit, and the whole computation is a single map-side-combined
    groupBy whose output is three rows.

    Engine parity: the five power sums accumulate as DECIMAL products
    of DECIMAL(18,2) quantizations (order-independent, exact — the
    internal scaled products stay far under int64, see the
    DuckDB-fast-path note in the repo gotchas); sums convert exactly
    to double at tested scales (unscaled values < 2⁵³), and every
    subsequent op is IEEE-identical division/sqrt, rounded to 6."""
    li = read_testdata_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    var_x = (F.col("sxx") - F.col("sx") * F.col("sx") / nd) / (nd - 1)
    var_y = (F.col("syy") - F.col("sy") * F.col("sy") / nd) / (nd - 1)
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / nd) / (nd - 1)
    tr = var_x + var_y
    disc = F.sqrt(
        (var_x - var_y) * (var_x - var_y) + F.lit(4.0) * cov * cov
    )
    l1 = (tr + disc) / F.lit(2.0)
    l2 = (tr - disc) / F.lit(2.0)
    return agg.select(
        "l_returnflag",
        "n",
        F.round(var_x, 6).alias("var_x"),
        F.round(var_y, 6).alias("var_y"),
        F.round(cov, 6).alias("cov_xy"),
        F.round(l1, 6).alias("lambda1"),
        F.round(l2, 6).alias("lambda2"),
        F.round(l1 / tr, 6).alias("explained_ratio"),
    ).orderBy("l_returnflag")


_PCA_ORACLE = """
WITH agg AS (
  SELECT l_returnflag,
         count(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag
), m AS (
  SELECT l_returnflag, n,
         (sxx - sx * sx / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)
           AS var_x,
         (syy - sy * sy / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)
           AS var_y,
         (sxy - sx * sy / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)
           AS cov_xy
  FROM agg
), e AS (
  SELECT *,
         var_x + var_y AS tr,
         sqrt((var_x - var_y) * (var_x - var_y)
              + 4.0 * cov_xy * cov_xy) AS disc
  FROM m
)
SELECT l_returnflag, n,
       round(var_x, 6) AS var_x,
       round(var_y, 6) AS var_y,
       round(cov_xy, 6) AS cov_xy,
       round((tr + disc) / 2.0, 6) AS lambda1,
       round((tr - disc) / 2.0, 6) AS lambda2,
       round(((tr + disc) / 2.0) / tr, 6) AS explained_ratio
FROM e
ORDER BY l_returnflag
"""


# ------------- weighted median -------------


def q_stats_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price per return class
    (operators/weighted_quantile.py:weighted_median — range-bucketed
    prefix weights; the ordered window runs only inside the single
    crossing bucket, never over a whole group)."""
    from ..operators.weighted_quantile import weighted_median

    li = read_testdata_table(spark, sf_dir, "lineitem")
    return weighted_median(
        li,
        group="l_returnflag",
        val="l_extendedprice",
        weight_expr=F.col("l_quantity").cast("decimal(18,2)"),
        buckets=128,
    ).orderBy("l_returnflag")


_WMEDIAN_ORACLE = """
WITH pairs AS (
  SELECT l_returnflag AS g, l_extendedprice AS v,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS w
  FROM lineitem GROUP BY 1, 2
), c AS (
  SELECT g, v, w,
         SUM(w) OVER (PARTITION BY g ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(w) OVER (PARTITION BY g) AS total
  FROM pairs
)
SELECT g AS l_returnflag,
       min(v) AS weighted_median,
       CAST(max(total) AS DOUBLE) AS total_weight
FROM c
WHERE 2 * cum >= total
GROUP BY g
ORDER BY l_returnflag
"""


QUERIES: list[QuerySpec] = [
    QuerySpec(
        "stats_benford_audit", q_benford_audit, _benford_oracle(),
        "Benford first-digit screen: observed vs log10(1+1/d) shares"
        " (literal expectations, string-extracted digits)",
    ),
    QuerySpec(
        "stats_bootstrap_means", q_bootstrap_means, _bootstrap_oracle(),
        "deterministic Poisson-bootstrap replica means (md5-weighted,"
        " zero RNG state, exact replay)",
    ),
    QuerySpec(
        "ri_orphans", q_ri_orphans, _ri_oracle(),
        "referential-integrity audit: orphan counts per FK edge"
        " (anti-join per edge, deliberate tripwire edge included)",
    ),
    QuerySpec(
        "stats_ks_drift", q_stats_ks_drift, _KS_DRIFT_ORACLE,
        "exact two-sample Kolmogorov-Smirnov drift distance,"
        " tie-exact range-frame CDFs",
    ),
    QuerySpec(
        "stats_group_ols", q_stats_group_ols, _GROUP_OLS_ORACLE,
        "per-group closed-form OLS (slope/intercept/R²) from exact"
        " DECIMAL moment sums — one map-combined aggregation",
    ),
    QuerySpec(
        "stats_mad_by_group", q_stats_mad, _MAD_ORACLE,
        "robust per-group median + MAD (two-pass, broadcast medians)",
    ),
    QuerySpec(
        "fd_violations", q_fd_violations, _fd_oracle(),
        "functional-dependency profiling: violations per candidate X->Y",
    ),
    QuerySpec(
        "feature_winsorize",
        q_feature_winsorize,
        _WINSORIZE_APPROX_ORACLE,
        "per-group p01/p99 outlier-clipping audit — sketch-threshold default,"
        " within-rank-bound contract",
    ),
    QuerySpec(
        "feature_winsorize_exact",
        q_feature_winsorize_exact,
        _WINSORIZE_ORACLE,
        "exact interpolated-percentile winsorize twin (deterministic oracle baseline)",
    ),
    QuerySpec(
        "feature_hashing_audit",
        q_feature_hashing_audit,
        _HASHING_ORACLE,
        "Hashing-trick bucket occupancy and collision rate",
    ),
    QuerySpec(
        "feature_selection_job",
        q_feature_selection_job,
        _feature_selection_job_oracle(),
        "entry-point B composite: corr + chi2 + selectors + variance, oracled end-to-end",
    ),
    QuerySpec(
        "mllib_correlation_matrix",
        q_mllib_correlation_matrix,
        _corr_matrix_oracle(),
        "M6 MLlib correlation matrix vs pairwise SQL corr",
    ),
    QuerySpec(
        "mllib_chi_square",
        q_mllib_chi_square,
        " UNION ALL ".join(
            [_chi2_feature_sql("o_orderpriority"), _chi2_feature_sql("o_orderstatus")]
        ),
        "M7 ChiSquareTest vs SQL contingency formula",
    ),
    QuerySpec(
        "spearman_correlation",
        q_spearman_correlation,
        _SPEARMAN_ORACLE,
        "M6 spearman (MLlib) vs average-rank Pearson SQL",
    ),
    QuerySpec(
        "variance_threshold_features",
        q_variance_threshold_features,
        _VARIANCE_THRESHOLD_ORACLE,
        "M10/M11 kth-largest-variance threshold selection",
    ),
    QuerySpec(
        "univariate_select_categorical",
        q_univariate_select_categorical,
        _UNIVARIATE_CAT_ORACLE,
        "M8 chi2 top-N categorical selector (equal-dof → statistic-ranked oracle)",
    ),
    QuerySpec(
        "univariate_select_continuous",
        q_univariate_select_continuous,
        _UNIVARIATE_CONT_ORACLE,
        "M9 ANOVA-F top-N continuous selector (explicit-F oracle)",
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
        "orders_abc_classification",
        q_orders_abc_classification,
        _ABC_ORACLE,
        "ABC 80/15/5 revenue classes, bucketed-prefix cumulative",
    ),
    QuerySpec(
        "stats_multi_ols", q_stats_multi_ols, _multi_ols_oracle(),
        "Two-feature closed-form OLS via Cramer normal equations",
    ),
    QuerySpec(
        "stats_gini_by_group",
        q_stats_gini_by_group,
        _GINI_ORACLE,
        "Exact Gini coefficient of order value per priority",
    ),
    QuerySpec(
        "stats_pareto_coverage",
        q_stats_pareto_coverage,
        _PARETO_ORACLE,
        "Exact-threshold revenue concentration (50/90/top-decile)",
    ),
    QuerySpec(
        "stats_pca_2d",
        q_stats_pca_2d,
        _PCA_ORACLE,
        "Closed-form 2x2 covariance eigendecomposition per group",
    ),
    QuerySpec(
        "stats_weighted_median",
        q_stats_weighted_median,
        _WMEDIAN_ORACLE,
        "Weighted median via range-bucketed prefix weights",
    ),
]
