"""Decision-support analytics catalog, wave 9: the last three TPC-H
shapes (Q6 forecast-revenue band, Q11 important-stock fraction
threshold, Q20 excess-volume suppliers), which completes adapted
coverage of all 22 TPC-H queries on this schema (Q11/Q20 substitute
lineitem volume for the absent partsupp stock columns), plus a
product-quantization codebook assignment (the PQ half of the IVF-PQ
ANN scale path) and per-user inter-event gap statistics.

No reference analogue (mosama1994 Scripts/1-2 are single-table).
Catalog contract as everywhere: decimal/integer-exact accumulation,
IEEE-identical float division, round(6) statistics.

All five entries enter the correctness window by ledger
age (see ``plans/__init__.correctness_window``)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import read_testdata_table
from .spec import QuerySpec

_US_SEC = 1_000_000


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


# ------------- product-quantization codebook assignment -------------


def q_embedding_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization assignment pass: the 64-d embedding
    splits into 8 contiguous 8-d subspaces; in each subspace every
    sub-vector goes to the nearest of 4 seed sub-centroids (from the
    4 lowest vec_ids). Reports per-(subspace, centroid) occupancy
    and mean quantization error — the codebook half of an IVF-PQ
    index, whose 8-byte codes replace 256-byte vectors at serving
    time.

    Engine parity: the same shared integer micro-unit quantization
    as embedding_kmeans_assign
    (operators/vector_quant.py:quantize_micro) — distances are EXACT
    BIGINTs, argmin is a (d², cid) struct-min. Scale shape: the
    subspace split is a codegen transform over a sequence literal
    (8 structs per row, not 64 exploded cells); 32 centroid
    sub-vectors broadcast; one hash agg on (subspace, cid) ends
    it."""
    from ..operators.vector_quant import quantize_micro, squared_distance

    emb = read_testdata_table(spark, sf_dir, "embeddings")

    def subspaces(qcol, out_sub, out_arr):
        # 8 subspaces of 8 dims: slice(j*8+1, 8) for j in 0..7
        return F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda j: F.slice(qcol, j * F.lit(8) + F.lit(1), F.lit(8)),
            )
        ).alias(out_sub, out_arr)

    vecs = emb.select(
        "vec_id", subspaces(quantize_micro(F.col("embedding")), "sub", "vq")
    )
    cents = (
        emb.orderBy("vec_id")
        .limit(4)
        .select(
            F.col("vec_id").alias("cid"),
            subspaces(quantize_micro(F.col("embedding")), "csub", "cq"),
        )
    )
    d2 = squared_distance(F.col("vq"), F.col("cq"))
    best = (
        vecs.join(F.broadcast(cents), F.col("sub") == F.col("csub"))
        .select(
            "vec_id",
            "sub",
            F.struct(d2.alias("d2"), F.col("cid")).alias("s"),
        )
        .groupBy("vec_id", "sub")
        .agg(F.min("s").alias("s"))
    )
    return (
        best.groupBy(
            F.col("sub").cast("long").alias("sub"),
            F.col("s.cid").alias("cid"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            F.round(
                F.sum(F.col("s.d2")).cast("double")
                / F.lit(1e12)
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_sq_err"),
        )
        .orderBy("sub", "cid")
    )


_PQ_ORACLE = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))
           AS vq
  FROM embeddings
), sub AS (
  SELECT vec_id, j.s AS sub, vq[j.s * 8 + 1 : j.s * 8 + 8] AS sq
  FROM q, unnest(generate_series(0, 7)) AS j(s)
), cents AS (
  SELECT vec_id AS cid, sub AS csub, sq AS cq
  FROM sub WHERE vec_id IN (SELECT vec_id FROM q ORDER BY vec_id LIMIT 4)
), pairs AS (
  SELECT s.vec_id, s.sub, c.cid,
         CAST(list_sum(list_transform(generate_series(1, 8),
              i -> (s.sq[i] - c.cq[i]) * (s.sq[i] - c.cq[i]))) AS BIGINT)
           AS d2
  FROM sub s JOIN cents c ON s.sub = c.csub
), best AS (
  SELECT vec_id, sub, d2, cid,
         row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid)
           AS rn
  FROM pairs
)
SELECT sub, cid, count(*) AS n_assigned,
       round(CAST(SUM(d2) AS DOUBLE) / 1e12 / CAST(count(*) AS DOUBLE), 6)
         AS mean_sq_err
FROM best WHERE rn = 1
GROUP BY sub, cid
ORDER BY sub, cid
"""


# ------------- inter-event gap statistics -------------


def q_events_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type inter-arrival statistics from each user's
    consecutive events: gap count, mean/max gap in seconds, and the
    share of gaps longer than one hour (the inputs to a session-gap
    threshold choice).

    Engine parity: gaps are exact integer micros (BIGINT
    difference of unix_micros), summed exactly; ties on ts break on
    event_id so the sequence is engine-deterministic; only the mean
    and share divide as floats, rounded to 6."""
    from pyspark.sql.window import Window as W

    e = read_testdata_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        e.select(
            "user_id",
            "event_type",
            "event_id",
            "ts",
            F.unix_micros(F.col("ts")).alias("us"),
        )
        .withColumn("next_us", F.lead("us").over(w))
        .filter(F.col("next_us").isNotNull())
        .withColumn("gap_us", F.col("next_us") - F.col("us"))
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(
                F.sum("gap_us").cast("double")
                / F.lit(float(_US_SEC))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_gap_s"),
            (F.max("gap_us") / F.lit(_US_SEC))
            .cast("double")
            .alias("max_gap_s"),
            F.round(
                F.sum(
                    (F.col("gap_us") > 3600 * _US_SEC).cast("long")
                ).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("share_gt_1h"),
        )
        .orderBy("event_type")
    )


_GAP_ORACLE = f"""
WITH gaps AS (
  SELECT event_type,
         lead(epoch_us(CAST(ts AS TIMESTAMP)))
           OVER (PARTITION BY user_id
                 ORDER BY ts, event_id)
           - epoch_us(CAST(ts AS TIMESTAMP)) AS gap_us
  FROM events
)
SELECT event_type,
       count(*) AS n_gaps,
       round(CAST(SUM(gap_us) AS DOUBLE) / {float(_US_SEC)!r}
             / CAST(count(*) AS DOUBLE), 6) AS mean_gap_s,
       CAST(max(gap_us) AS DOUBLE) / {float(_US_SEC)!r} AS max_gap_s,
       round(CAST(SUM(CASE WHEN gap_us > {3600 * _US_SEC} THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS share_gt_1h
FROM gaps
WHERE gap_us IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""


QUERIES = [
    QuerySpec(
        "tpch_q6_style",
        q_tpch_q6_style,
        _Q6_ORACLE,
        "Scan-only forecast revenue band, all predicates pushed",
    ),
    QuerySpec(
        "tpch_q11_style",
        q_tpch_q11_style,
        _Q11_ORACLE,
        "Fraction-of-total revenue threshold via broadcast scalar",
    ),
    QuerySpec(
        "tpch_q20_style",
        q_tpch_q20_style,
        _Q20_ORACLE,
        "Excess-volume suppliers: HAVING prereduction then dims",
    ),
    QuerySpec(
        "embedding_pq_codebook",
        q_embedding_pq_codebook,
        _PQ_ORACLE,
        "Product-quantization assignment, integer-exact argmin",
    ),
    QuerySpec(
        "events_gap_stats",
        q_events_gap_stats,
        _GAP_ORACLE,
        "Exact inter-arrival gap statistics per event type",
    ),
]
