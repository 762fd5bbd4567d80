"""Segment/network analytics catalog: HLL set algebra, multi-source
BFS, RFM quartile segmentation, two-feature OLS.

The continuation-of-round-6 wave (no reference analogue; engine
surface beyond the reference per the brief — the reference's own
statistics stop at correlation/chi-square, its graph surface at
nothing). Each entry follows the catalog contract: a Spark-first plan
plus a DuckDB oracle that replays the SAME arithmetic — the sketch
estimator fragments come from ``patterns.hll_sql_parts`` and the
closed-form statistics share literal expression text with the Spark
plan via ``stats.regression``'s OLS2_* constants, so neither
side can drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..caching import BoundedCache
from ..operators.ranking import bucketed_global_rank, ntile_from_rank
from ..sources.readers import read_testdata_table
from ..stats.regression import (
    OLS2_B0,
    OLS2_B1,
    OLS2_B2,
    OLS2_R2,
)
from .patterns import _unpersist_quietly, hll_sql_parts
from .spec import US_DAY, US_HOUR, QuerySpec, day_bucket, day_bucket_sql


_HLL_P = 8


# --------------------- HLL set algebra (pairs) ---------------------


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


# --------------------- multi-source BFS distances ---------------------

_BFS_HOPS = 6

# The distinct customer↔supplier trading edge set is sf_dir-determined
# and consumed on every BFS call (and by nothing else yet — when a
# second consumer appears, this moves next to _co_supplier_co in
# patterns.py). One persisted copy per (session, sf_dir); eviction
# unpersists. The build (orders ⋈ lineitem + distinct) is ~30 % of the
# warm BFS wall; caching it is an EXECUTION change only — the plan on
# first build, and every result, is byte-identical.
_TRADING_EDGES_CACHE: BoundedCache[tuple, DataFrame] = BoundedCache(
    4, on_evict=_unpersist_quietly
)


def _trading_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _TRADING_EDGES_CACHE.get(key)
    if hit is None:
        o = read_testdata_table(spark, sf_dir, "orders")
        li = read_testdata_table(spark, sf_dir, "lineitem")
        hit = (
            o.join(li, o["o_orderkey"] == li["l_orderkey"])
            .select(
                F.concat(
                    F.lit("c:"), F.col("o_custkey").cast("string")
                ).alias("u"),
                F.concat(
                    F.lit("s:"), F.col("l_suppkey").cast("string")
                ).alias("v"),
            )
            .distinct()
            .persist()
        )
        _TRADING_EDGES_CACHE.put(key, hit)
    return hit


def q_graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS (operators/graph.py:bfs_distances) over the
    customer-supplier bipartite graph (distinct trading pairs via
    orders ⋈ lineitem, session-cached — see _trading_edges), seeded at
    every nation-0 supplier: the
    blast-radius question — how many customers/suppliers sit within h
    hops of a seed set. Level-synchronous frontier propagation, edges
    shuffled once; the oracle unrolls the same six rounds as
    MATERIALIZED CTEs (each round references the previous settled set
    three times — the 2^N inlining trap) so every per-hop count is
    value-checked, convergence included (the frontier empties before
    the budget at every sf, which is idempotent with the unroll)."""
    from ..operators.graph import bfs_distances

    s = read_testdata_table(spark, sf_dir, "supplier")
    edges = _trading_edges(spark, sf_dir)
    seeds = s.filter(F.col("s_nationkey") == 0).select(
        F.concat(F.lit("s:"), F.col("s_suppkey").cast("string")).alias(
            "vertex"
        )
    )
    dist = bfs_distances(edges, seeds, max_hops=_BFS_HOPS)
    return dist.groupBy("dist").agg(
        F.sum(
            F.when(F.col("vertex").startswith("c:"), 1).otherwise(0)
        ).cast("long").alias("n_customers"),
        F.sum(
            F.when(F.col("vertex").startswith("s:"), 1).otherwise(0)
        ).cast("long").alias("n_suppliers"),
    )


def _bfs_oracle() -> str:
    prev = "d0"
    rounds = []
    for i in range(1, _BFS_HOPS + 1):
        rounds.append(f"""
d{i} AS MATERIALIZED (
  SELECT vertex, dist FROM {prev}
  UNION ALL
  SELECT DISTINCT s.d, CAST({i} AS BIGINT)
  FROM sym s JOIN {prev} p ON s.s = p.vertex
  WHERE s.d NOT IN (SELECT vertex FROM {prev})
)""")
        prev = f"d{i}"
    return f"""
WITH e AS MATERIALIZED (
  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS cu,
                  's:' || CAST(l_suppkey AS VARCHAR) AS sv
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), sym AS MATERIALIZED (
  SELECT cu AS s, sv AS d FROM e UNION ALL SELECT sv, cu FROM e
), d0 AS MATERIALIZED (
  SELECT DISTINCT 's:' || CAST(s_suppkey AS VARCHAR) AS vertex,
         CAST(0 AS BIGINT) AS dist
  FROM supplier WHERE s_nationkey = 0
),{",".join(rounds)}
SELECT dist,
       CAST(count(*) FILTER (WHERE vertex LIKE 'c:%') AS BIGINT)
         AS n_customers,
       CAST(count(*) FILTER (WHERE vertex LIKE 's:%') AS BIGINT)
         AS n_suppliers
FROM {prev} GROUP BY dist
"""


# --------------------- RFM quartile segmentation ---------------------



def q_events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per user, recency (whole days since the
    user's last event, anchored at the global latest event), frequency
    (event count), monetary (exact decimal value sum), each cut into
    quartiles with a user_id tie-break so the quartile boundary is
    total-ordered and engine-identical; rfm_code packs the three
    digits. Recency arithmetic is integer microseconds
    (unix_micros // us_per_day — no timezone, no date truncation).
    Anonymous events (NULL user_id) are excluded in BOTH engines:
    user-level RFM has no user to attribute them to, a NULL group
    would silently vanish in the quartile equi-joins, and a NULL
    tie-break key is itself engine-divergent (Spark windows sort
    NULLs first, DuckDB last).

    Scale shape: NTILE semantics without ntile's global ordered
    window. Each of the three dimensions ranks via
    operators/ranking.py:bucketed_global_rank (range-bucketed prefix
    counts; row_number confined to one bucket's partition) and the
    quartile is recomputed from (rank, n) in exact integer arithmetic
    (ntile_from_rank) — three user-id-keyed joins instead of three
    single-partition sorts of the user frame. The oracle value-checks
    ntile(4) itself, proving the decomposition exact."""
    e = read_testdata_table(spark, sf_dir, "events")
    per = (
        e.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max(F.unix_micros(F.col("ts"))).alias("last_us"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(
                F.col("value").cast("decimal(18,6)").cast("decimal(38,6)")
            ).cast("double").alias("monetary"),
        )
        # feeds the anchor aggregate AND the final projection — the
        # double-referenced-frame discipline
        .localCheckpoint(eager=False)
    )
    anchor = per.agg(F.max("last_us").alias("anchor_us"))
    base = (
        per.crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.expr(f"(anchor_us - last_us) div {US_DAY}").alias(
                "recency_days"
            ),
            "frequency",
            "monetary",
        )
        # referenced by the count scalar, three rank frames, and the
        # final projection — one lazy checkpoint or the upstream
        # aggregate runs five times
        .localCheckpoint(eager=False)
    )
    n_total = base.agg(F.count(F.lit(1)).cast("long").alias("n"))

    def quartile(val: str, out: str, descending: bool) -> DataFrame:
        ranked = bucketed_global_rank(
            base.select("user_id", val),
            val=val,
            tiebreak="user_id",
            buckets=64,
            descending=descending,
            # base is already lazily checkpointed; a 2-col projection
            # of it is cheaper to recompute than to re-materialize
            checkpoint=False,
        )
        return ranked.crossJoin(F.broadcast(n_total)).select(
            "user_id",
            ntile_from_rank("_rank", "n", 4).alias(out),
        )

    r = quartile("recency_days", "r_q", descending=False)
    f_ = quartile("frequency", "f_q", descending=True)
    m = quartile("monetary", "m_q", descending=True)
    return (
        base.join(r, "user_id")
        .join(f_, "user_id")
        .join(m, "user_id")
        .select(
            "user_id",
            "recency_days",
            "frequency",
            "monetary",
            "r_q",
            "f_q",
            "m_q",
        )
        .withColumn(
            "rfm_code",
            F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q"),
        )
    )


_RFM_ORACLE = f"""
WITH per AS (
  SELECT user_id,
         max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) AS DECIMAL(38,6)))
              AS DOUBLE) AS monetary
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
), anc AS (SELECT max(last_us) AS anchor_us FROM per),
base AS (
  SELECT user_id,
         CAST((anchor_us - last_us) // {US_DAY} AS BIGINT)
           AS recency_days,
         frequency, monetary
  FROM per CROSS JOIN anc
), q AS (
  SELECT user_id, recency_days, frequency, monetary,
         CAST(ntile(4) OVER (ORDER BY recency_days, user_id) AS BIGINT)
           AS r_q,
         CAST(ntile(4) OVER (ORDER BY frequency DESC, user_id) AS BIGINT)
           AS f_q,
         CAST(ntile(4) OVER (ORDER BY monetary DESC, user_id) AS BIGINT)
           AS m_q
  FROM base
)
SELECT user_id, recency_days, frequency, monetary, r_q, f_q, m_q,
       r_q * 100 + f_q * 10 + m_q AS rfm_code
FROM q
"""


# --------------------- two-feature OLS ---------------------


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


QUERIES: list[QuerySpec] = [
    QuerySpec(
        "sketch_hll_set_ops", q_sketch_hll_set_ops, _hll_set_ops_oracle(),
        "Pairwise HLL union/intersection/Jaccard set algebra",
    ),
    QuerySpec(
        "graph_bfs_distances", q_graph_bfs_distances, _bfs_oracle(),
        "Multi-source BFS hop distances over the trading graph",
    ),
    QuerySpec(
        "events_rfm_segments", q_events_rfm_segments, _RFM_ORACLE,
        "RFM quartile segmentation with engine-identical ntile cuts",
    ),
    QuerySpec(
        "stats_multi_ols", q_stats_multi_ols, _multi_ols_oracle(),
        "Two-feature closed-form OLS via Cramer normal equations",
    ),
]


# --------------------- label-propagation communities ---------------------

_LPA_PCT = 0.5
_LPA_ROUNDS = 3


def q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities
    (operators/graph.py:label_propagation) over the co-supplier graph
    at the 50th-percentile co-occurrence threshold — frequency-weighted
    label adoption with a (count desc, label asc) total-order
    tie-break, run a FIXED 3 rounds (classic LPA's random tie-breaks
    and oscillation make it irreproducible; fixed deterministic rounds
    ARE the catalog semantic). Output: community sizes. The oracle
    unrolls the same 3 rounds as MATERIALIZED CTEs with the identical
    row_number() tie-break."""
    from ..operators.graph import label_propagation
    from .patterns import _co_supplier_edges

    # the co table under the edge set belongs to the session cache
    # (plans/patterns.py:_co_supplier_co) — nothing to release here
    e, _ = _co_supplier_edges(spark, sf_dir, _LPA_PCT)
    labels = label_propagation(e, rounds=_LPA_ROUNDS)
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )


def _lpa_oracle() -> str:
    prev = "l0"
    rounds = []
    for i in range(1, _LPA_ROUNDS + 1):
        rounds.append(f"""
c{i} AS MATERIALIZED (
  SELECT s.s AS vertex, p.label, count(*) AS n
  FROM sym s JOIN {prev} p ON s.d = p.vertex
  GROUP BY 1, 2
),
l{i} AS MATERIALIZED (
  SELECT vertex, label FROM (
    SELECT vertex, label,
           row_number() OVER (PARTITION BY vertex
                              ORDER BY n DESC, label ASC) AS rn
    FROM c{i}
  ) WHERE rn = 1
)""")
        prev = f"l{i}"
    return f"""
WITH ps AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
), co AS (
  SELECT a.s AS u, b.s AS v, count(*) AS c
  FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
  GROUP BY 1, 2
), thr AS (SELECT quantile_cont(c, {_LPA_PCT}) AS t FROM co),
e AS MATERIALIZED (SELECT u, v FROM co CROSS JOIN thr WHERE c > t),
sym AS MATERIALIZED (
  SELECT u AS s, v AS d FROM e UNION SELECT v, u FROM e
),
l0 AS MATERIALIZED (
  SELECT DISTINCT s AS vertex, s AS label FROM sym
),{",".join(rounds)}
SELECT label AS community, CAST(count(*) AS BIGINT) AS n_members
FROM {prev} GROUP BY label
"""


# --------------------- CUSUM change-point ---------------------



def q_events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point per event type over the daily count series:
    S_t = Σ_{i<=t}(n_i − mean), peak |S_t| marks the day the level
    shifted — the classic drift localizer (a mean test says THAT
    volume changed; CUSUM says WHEN). Kept in exact integers by
    scaling with the day count: S_t·D = D·cum_t − t·T (cum/totals are
    BIGINT), so the argmax day and peak are hash-exact; only the
    normalized peak divides. One grouped window pass — at 100 TB the
    windows stay inside each event type's daily series (days, not
    events)."""
    e = read_testdata_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        day_bucket("ts").alias("day"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w_p = W.partitionBy("event_type")
    w_cum = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    w_idx = W.partitionBy("event_type").orderBy("day")
    scored = daily.select(
        "event_type",
        "day",
        F.count(F.lit(1)).over(w_p).alias("n_days"),
        F.sum("n").over(w_p).alias("n_events"),
        (
            F.count(F.lit(1)).over(w_p) * F.sum("n").over(w_cum)
            - F.row_number().over(w_idx) * F.sum("n").over(w_p)
        ).alias("s"),
    )
    w_pick = W.partitionBy("event_type").orderBy(
        F.desc(F.abs(F.col("s"))), F.asc("day")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("n_days").cast("long").alias("n_days"),
            F.col("n_events").cast("long").alias("n_events"),
            F.expr(
                f"date_format(timestamp_micros(day * {US_DAY}),"
                " 'yyyy-MM-dd')"
            ).alias("change_day"),
            F.abs(F.col("s")).cast("long").alias("cusum_peak"),
            F.round(
                F.abs(F.col("s")).cast("double")
                / (
                    F.col("n_days").cast("double")
                    * F.col("n_events").cast("double")
                ),
                6,
            ).alias("cusum_peak_norm"),
        )
    )


_CUSUM_ORACLE = f"""
WITH daily AS (
  SELECT event_type,
         {day_bucket_sql('ts')} AS day,
         count(*) AS n
  FROM events GROUP BY 1, 2
), scored AS (
  SELECT event_type, day,
         count(*) OVER (PARTITION BY event_type) AS n_days,
         sum(n) OVER (PARTITION BY event_type) AS n_events,
         count(*) OVER (PARTITION BY event_type)
           * sum(n) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - row_number() OVER (PARTITION BY event_type ORDER BY day)
             * sum(n) OVER (PARTITION BY event_type) AS s
  FROM daily
), picked AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY abs(s) DESC, day ASC) AS rn
  FROM scored
)
SELECT event_type,
       CAST(n_days AS BIGINT) AS n_days,
       CAST(n_events AS BIGINT) AS n_events,
       strftime(make_timestamp(day * {US_DAY}), '%Y-%m-%d') AS change_day,
       CAST(abs(s) AS BIGINT) AS cusum_peak,
       round(CAST(abs(s) AS DOUBLE)
             / (CAST(n_days AS DOUBLE) * CAST(n_events AS DOUBLE)), 6)
         AS cusum_peak_norm
FROM picked WHERE rn = 1
"""


# --------------------- BM25-style lexical top-k ---------------------

_BM25_TERMS = ("merge", "vector", "stream")
_BM25_TOPK = 20


def _bm25_partial(i: int) -> str:
    # rational ("odds") idf — deliberately log-free: ln() is
    # libm-specific across engines (the text_token_rarity precedent;
    # contrast HLL's precomputed ln table, impossible here because df
    # is data-dependent). Monotone in df like the textbook log idf;
    # the scoring contract is THIS formula, pinned by the oracle.
    # k1 = 1.2, b = 0.75 baked as double literals (e-notation parses
    # as DOUBLE in both engines; bare decimals parse as DECIMAL).
    return (
        f"(((nd - df{i}d + 0.5e0) / (df{i}d + 0.5e0))"
        f" * (tf{i}d * 2.2e0)"
        f" / (tf{i}d + 1.2e0 * (0.25e0 + 0.75e0 * dld / avgdl)))"
    )


_BM25_SCORE = " + ".join(_bm25_partial(i) for i in (1, 2, 3))


def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-style lexical retrieval: top-20 documents for a fixed
    3-term query, scored with the Robertson tf saturation
    (k1 = 1.2, b = 0.75 length normalization) and a RATIONAL idf
    (see _bm25_partial — log-free so the score replays exactly; the
    contract is the pinned formula). The score expression TEXT is
    shared between F.expr and the oracle. Per-term partials are added
    in fixed query order — never a float SUM whose order the engine
    chooses.

    Scale shape: the token explode is filtered to the query terms
    BEFORE the aggregate (predicate on the generator output — only
    query-term hits shuffle); doc length comes from a non-exploding
    size(split); the corpus stats and df table are one-row broadcast
    cross joins. Top-k is a single ordered limit."""
    from ..text.analysis import token_count, tokens_col

    d = read_testdata_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", token_count(F.col("text")).alias("dl")
    ).localCheckpoint(eager=False)
    toks = d.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("term")
    ).filter(F.col("term").isin(list(_BM25_TERMS)))
    qtf = toks.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("term") == t, 1).otherwise(0))
            .cast("long")
            .alias(f"tf{i}")
            for i, t in enumerate(_BM25_TERMS, 1)
        ]
    ).localCheckpoint(eager=False)
    stats = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_dl"),
    )
    dfs = qtf.agg(
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("int"))
            .cast("long")
            .alias(f"df{i}")
            for i in (1, 2, 3)
        ]
    )
    j = (
        qtf.join(base, "doc_id")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(dfs))
        .select(
            "doc_id",
            "dl",
            "tf1",
            "tf2",
            "tf3",
            F.expr("CAST(n_docs AS DOUBLE)").alias("nd"),
            F.expr(
                "CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)"
            ).alias("avgdl"),
            F.expr("CAST(dl AS DOUBLE)").alias("dld"),
            *[
                F.expr(f"CAST(df{i} AS DOUBLE)").alias(f"df{i}d")
                for i in (1, 2, 3)
            ],
            *[
                F.expr(f"CAST(tf{i} AS DOUBLE)").alias(f"tf{i}d")
                for i in (1, 2, 3)
            ],
        )
    )
    scored = j.select(
        "doc_id",
        "dl",
        "tf1",
        "tf2",
        "tf3",
        F.round(F.expr(_BM25_SCORE), 6).alias("score"),
    )
    # Top-k via orderBy().limit(): compiles to TakeOrderedAndProject —
    # each partition keeps a local k-heap and the driver merges k-sized
    # slices, so no single-partition global sort of the scored corpus.
    # Result-identical to a row_number cutoff under the (score desc,
    # doc_id asc) TOTAL order.
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_BM25_TOPK)
        .select(
            "doc_id",
            "dl",
            F.col("tf1").alias(f"tf_{_BM25_TERMS[0]}"),
            F.col("tf2").alias(f"tf_{_BM25_TERMS[1]}"),
            F.col("tf3").alias(f"tf_{_BM25_TERMS[2]}"),
            "score",
        )
    )


def _bm25_oracle() -> str:
    t1, t2, t3 = _BM25_TERMS
    in_list = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    tf_cols = ",\n         ".join(
        f"CAST(sum(CASE WHEN term = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS tf{i}"
        for i, t in enumerate(_BM25_TERMS, 1)
    )
    df_cols = ",\n         ".join(
        f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df{i}"
        for i in (1, 2, 3)
    )
    return rf"""
WITH base AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           AS dl
  FROM documents
), tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(text), '\s+')) AS term
  FROM documents
), qtf AS (
  SELECT doc_id,
         {tf_cols}
  FROM tok WHERE term IN ({in_list}) GROUP BY doc_id
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS total_dl
  FROM base
), dfs AS (
  SELECT {df_cols}
  FROM qtf
), j AS (
  SELECT q.doc_id, b.dl, q.tf1, q.tf2, q.tf3,
         CAST(n_docs AS DOUBLE) AS nd,
         CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl,
         CAST(b.dl AS DOUBLE) AS dld,
         CAST(df1 AS DOUBLE) AS df1d,
         CAST(df2 AS DOUBLE) AS df2d,
         CAST(df3 AS DOUBLE) AS df3d,
         CAST(q.tf1 AS DOUBLE) AS tf1d,
         CAST(q.tf2 AS DOUBLE) AS tf2d,
         CAST(q.tf3 AS DOUBLE) AS tf3d
  FROM qtf q JOIN base b USING (doc_id)
  CROSS JOIN stats CROSS JOIN dfs
), scored AS (
  SELECT doc_id, dl, tf1, tf2, tf3,
         round({_BM25_SCORE}, 6) AS score
  FROM j
)
SELECT doc_id, dl, tf1 AS tf_{t1}, tf2 AS tf_{t2}, tf3 AS tf_{t3}, score
FROM (
  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rn
  FROM scored
) WHERE rn <= {_BM25_TOPK}
"""


QUERIES.extend(
    [
        QuerySpec(
            "graph_label_propagation",
            q_graph_label_propagation,
            _lpa_oracle(),
            "Deterministic 3-round label-propagation community sizes",
        ),
        QuerySpec(
            "events_cusum_changepoint",
            q_events_cusum_changepoint,
            _CUSUM_ORACLE,
            "Integer-exact CUSUM change-point per event type",
        ),
        QuerySpec(
            "text_bm25_topk",
            q_text_bm25_topk,
            _bm25_oracle(),
            "BM25-style lexical top-k with rational idf",
        ),
    ]
)


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


# --------------------- Gini / Lorenz inequality ---------------------


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
    w = W.partitionBy("o_orderpriority").orderBy(
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


# --------------------- diversity indices ---------------------


def q_events_diversity_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type, the concentration of activity across users:
    richness (distinct users), the Gini-Simpson index
    1 − Σp_u² (probability two random events come from different
    users), and effective user count 1/Σp_u² (Hill number of order
    2). Both are RATIONAL in the integer counts — Σp² = Σn_u²/N² —
    so unlike Shannon entropy (libm ln), they replay exactly; the
    integer moments ship alongside. Shuffle: one (type, user)
    aggregation, then a type-sized rollup."""
    e = read_testdata_table(spark, sf_dir, "events")
    per_user = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n_u")
    )
    agg = per_user.groupBy("event_type").agg(
        F.sum("n_u").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(
            (F.col("n_u") * F.col("n_u")).cast("decimal(38,0)")
        ).cast("long").alias("sum_sq"),
    )
    return agg.select(
        "event_type",
        "n_events",
        "n_users",
        "sum_sq",
        F.round(
            F.expr(
                "1.0e0 - CAST(sum_sq AS DOUBLE)"
                " / (CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE))"
            ),
            6,
        ).alias("simpson"),
        F.round(
            F.expr(
                "CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE)"
                " / nullif(CAST(sum_sq AS DOUBLE), 0.0)"
            ),
            6,
        ).alias("effective_users"),
    )


_DIVERSITY_ORACLE = """
WITH per_user AS (
  SELECT event_type, user_id, count(*) AS n_u
  FROM events GROUP BY 1, 2
), agg AS (
  SELECT event_type,
         CAST(sum(n_u) AS BIGINT) AS n_events,
         CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(CAST(n_u * n_u AS DECIMAL(38,0))) AS BIGINT) AS sum_sq
  FROM per_user GROUP BY event_type
)
SELECT event_type, n_events, n_users, sum_sq,
       round(1.0e0 - CAST(sum_sq AS DOUBLE)
             / (CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE)), 6)
         AS simpson,
       round(CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE)
             / nullif(CAST(sum_sq AS DOUBLE), 0.0), 6)
         AS effective_users
FROM agg
"""


# --------------------- BPE merge-pair statistics ---------------------

_BPE_PAIR_TOPK = 20


def q_text_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent token-pair frequencies across the corpus — the
    counting step of ONE BPE/WordPiece merge iteration (the pair a
    tokenizer trainer would merge next), and the bigram statistic
    behind collocation mining. posexplode keeps positions; pairs
    come from a per-document lead() window, counted globally; top-k
    with a (count desc, t1, t2) total order. Scale: the shuffle
    carries (pair, count) partial aggregates — vocabulary², not
    corpus-sized."""
    from ..text.analysis import tokens_col

    d = read_testdata_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(tokens_col(F.col("text"))).alias("pos", "term"),
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    big = tok.select(
        F.col("term").alias("t1"),
        F.lead("term", 1).over(w).alias("t2"),
    ).filter(F.col("t2").isNotNull())
    return (
        big.groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), F.asc("t1"), F.asc("t2"))
        .limit(_BPE_PAIR_TOPK)
    )


_BPE_PAIRS_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
  FROM documents
), idx AS (
  SELECT doc_id, a, unnest(generate_series(1, len(a) - 1)) AS i
  FROM tok
), big AS (
  SELECT a[i] AS t1, a[i + 1] AS t2 FROM idx
)
SELECT t1, t2, CAST(count(*) AS BIGINT) AS n_pairs
FROM big GROUP BY 1, 2
ORDER BY n_pairs DESC, t1 ASC, t2 ASC
LIMIT {_BPE_PAIR_TOPK}
"""


QUERIES.extend(
    [
        QuerySpec(
            "basket_frequent_pairs",
            q_basket_frequent_pairs,
            _BASKET_ORACLE,
            "Apriori-pruned frequent part pairs with confidence/lift",
        ),
        QuerySpec(
            "stats_gini_by_group",
            q_stats_gini_by_group,
            _GINI_ORACLE,
            "Exact Gini coefficient of order value per priority",
        ),
        QuerySpec(
            "events_diversity_index",
            q_events_diversity_index,
            _DIVERSITY_ORACLE,
            "Gini-Simpson diversity and effective users per type",
        ),
        QuerySpec(
            "text_bpe_merge_pairs",
            q_text_bpe_merge_pairs,
            _BPE_PAIRS_ORACLE,
            "Adjacent token-pair counts (one BPE merge step)",
        ),
    ]
)


# --------------------- Pareto / revenue concentration ---------------------


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
    off_w = W.orderBy("_b").rowsBetween(W.unboundedPreceding, -1)
    tot_w = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
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
    in_w = W.partitionBy("_b").orderBy(F.desc("rev"), F.asc("cust"))
    in_cum = in_w.rowsBetween(W.unboundedPreceding, 0)
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


# --------------------- calendar seasonality profile ---------------------



def q_events_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour activity profile per event type: the peak
    slot (ties to the earliest slot), slot coverage, and the
    trough-to-peak ratio — the calendar fingerprint behind staffing/
    alerting baselines. Day-of-week is pure integer arithmetic from
    the epoch day ((day + 4) mod 7, 0 = Sunday — 1970-01-01 was a
    Thursday), hour likewise — no calendar functions, no timezone
    surface at all."""
    e = read_testdata_table(spark, sf_dir, "events")
    slots = e.groupBy(
        "event_type",
        F.expr(f"(unix_micros(ts) div {US_DAY} + 4) % 7").alias("dow"),
        F.expr(f"(unix_micros(ts) div {US_HOUR}) % 24").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w_pick = W.partitionBy("event_type").orderBy(
        F.desc("n"), F.asc("dow"), F.asc("hour")
    )
    picked = slots.select(
        "event_type",
        "dow",
        "hour",
        "n",
        F.row_number().over(w_pick).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("n_slots"),
        F.min("n").over(W.partitionBy("event_type")).alias("min_n"),
        F.max("n").over(W.partitionBy("event_type")).alias("max_n"),
    )
    return picked.filter(F.col("rn") == 1).select(
        "event_type",
        F.col("n_slots").cast("long").alias("n_slots"),
        F.col("dow").cast("long").alias("peak_dow"),
        F.col("hour").cast("long").alias("peak_hour"),
        F.col("n").cast("long").alias("peak_count"),
        F.round(
            F.expr("CAST(min_n AS DOUBLE) / CAST(max_n AS DOUBLE)"), 6
        ).alias("trough_peak_ratio"),
    )


_SEASONALITY_ORACLE = f"""
WITH slots AS (
  SELECT event_type,
         (epoch_us(CAST(ts AS TIMESTAMP)) // {US_DAY} + 4) % 7 AS dow,
         (epoch_us(CAST(ts AS TIMESTAMP)) // {US_HOUR}) % 24 AS hour,
         count(*) AS n
  FROM events GROUP BY 1, 2, 3
), picked AS (
  SELECT event_type, dow, hour, n,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY n DESC, dow ASC, hour ASC) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n_slots,
         min(n) OVER (PARTITION BY event_type) AS min_n,
         max(n) OVER (PARTITION BY event_type) AS max_n
  FROM slots
)
SELECT event_type,
       CAST(n_slots AS BIGINT) AS n_slots,
       CAST(dow AS BIGINT) AS peak_dow,
       CAST(hour AS BIGINT) AS peak_hour,
       CAST(n AS BIGINT) AS peak_count,
       round(CAST(min_n AS DOUBLE) / CAST(max_n AS DOUBLE), 6)
         AS trough_peak_ratio
FROM picked WHERE rn = 1
"""


# --------------------- seasonal-naive forecast evaluation ---------------------


def q_events_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy scoreboard per event type: the seasonal-naive
    forecast (same day last week, lag 7) scored against the
    random-walk baseline (lag 1) over the daily count series —
    MAE for both and the MASE-style ratio. The evaluation backbone
    of any forecasting pipeline, in pure integer error sums (counts
    are integers; |n_t − n_{t−7}| sums exactly) with two final
    divisions. Days missing a lag are excluded from that side's MAE
    and the common MASE window uses days where BOTH lags exist —
    stated, and replayed by the oracle."""
    e = read_testdata_table(spark, sf_dir, "events")
    # the daily series feeds three plan references (base + two lag
    # sides) — one lazy checkpoint, or the event scan runs three times
    daily = e.groupBy(
        "event_type",
        day_bucket("ts").alias("day"),
    ).agg(F.count(F.lit(1)).alias("n")).localCheckpoint(eager=False)
    # calendar lags via self-joins on day-k, not lag() row windows: a
    # missing day must break the lag chain, and lag(7) over ROWS would
    # silently reach 8+ calendar days back across gaps
    lagged = daily.alias("t").join(
        daily.select(
            "event_type",
            (F.col("day") + 1).alias("day"),
            F.col("n").alias("n_lag1"),
        ).alias("l1"),
        ["event_type", "day"],
        "left",
    ).join(
        daily.select(
            "event_type",
            (F.col("day") + 7).alias("day"),
            F.col("n").alias("n_lag7"),
        ).alias("l7"),
        ["event_type", "day"],
        "left",
    )
    agg = lagged.groupBy("event_type").agg(
        F.count(F.when(F.col("n_lag7").isNotNull(), 1)).cast("long").alias(
            "n_eval7"
        ),
        F.sum(
            F.when(
                F.col("n_lag7").isNotNull(),
                F.abs(F.col("n") - F.col("n_lag7")),
            )
        ).cast("long").alias("ae7"),
        F.sum(
            F.when(
                F.col("n_lag7").isNotNull() & F.col("n_lag1").isNotNull(),
                F.abs(F.col("n") - F.col("n_lag7")),
            )
        ).cast("long").alias("ae7_both"),
        F.sum(
            F.when(
                F.col("n_lag7").isNotNull() & F.col("n_lag1").isNotNull(),
                F.abs(F.col("n") - F.col("n_lag1")),
            )
        ).cast("long").alias("ae1_both"),
    )
    return agg.select(
        "event_type",
        "n_eval7",
        F.round(
            F.expr(
                "CAST(ae7 AS DOUBLE) / nullif(CAST(n_eval7 AS DOUBLE), 0.0)"
            ),
            6,
        ).alias("mae_seasonal"),
        F.round(
            F.expr(
                "CAST(ae7_both AS DOUBLE) / nullif(CAST(ae1_both AS DOUBLE),"
                " 0.0)"
            ),
            6,
        ).alias("mase"),
    )


_FORECAST_ORACLE = f"""
WITH daily AS (
  SELECT event_type,
         {day_bucket_sql('ts')} AS day,
         count(*) AS n
  FROM events GROUP BY 1, 2
), lagged AS (
  SELECT t.event_type, t.day, t.n, l1.n AS n_lag1, l7.n AS n_lag7
  FROM daily t
  LEFT JOIN daily l1 ON l1.event_type = t.event_type
                    AND l1.day = t.day - 1
  LEFT JOIN daily l7 ON l7.event_type = t.event_type
                    AND l7.day = t.day - 7
), agg AS (
  SELECT event_type,
         CAST(count(CASE WHEN n_lag7 IS NOT NULL THEN 1 END) AS BIGINT)
           AS n_eval7,
         CAST(sum(CASE WHEN n_lag7 IS NOT NULL
                       THEN abs(n - n_lag7) END) AS BIGINT) AS ae7,
         CAST(sum(CASE WHEN n_lag7 IS NOT NULL AND n_lag1 IS NOT NULL
                       THEN abs(n - n_lag7) END) AS BIGINT) AS ae7_both,
         CAST(sum(CASE WHEN n_lag7 IS NOT NULL AND n_lag1 IS NOT NULL
                       THEN abs(n - n_lag1) END) AS BIGINT) AS ae1_both
  FROM lagged GROUP BY event_type
)
SELECT event_type, n_eval7,
       round(CAST(ae7 AS DOUBLE) / nullif(CAST(n_eval7 AS DOUBLE), 0.0), 6)
         AS mae_seasonal,
       round(CAST(ae7_both AS DOUBLE) / nullif(CAST(ae1_both AS DOUBLE), 0.0),
             6) AS mase
FROM agg
"""


QUERIES.extend(
    [
        QuerySpec(
            "stats_pareto_coverage",
            q_stats_pareto_coverage,
            _PARETO_ORACLE,
            "Exact-threshold revenue concentration (50/90/top-decile)",
        ),
        QuerySpec(
            "events_seasonality_profile",
            q_events_seasonality_profile,
            _SEASONALITY_ORACLE,
            "Integer dow x hour peak/trough calendar profile",
        ),
        QuerySpec(
            "events_forecast_eval",
            q_events_forecast_eval,
            _FORECAST_ORACLE,
            "Seasonal-naive vs random-walk MAE/MASE scoreboard",
        ),
    ]
)
