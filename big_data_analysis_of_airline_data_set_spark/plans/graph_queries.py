"""The graph family: both PageRanks, triangles, k-core, the degree
histogram, hierarchy flattening, BFS and label propagation, each with
a DuckDB oracle that unrolls the same rounds. The loops live in
``operators/graph.py``. The kit below spells each graph input once:
the part→supplier edge (both PageRanks), the co-supplier table
(triangles, k-core, LPA), each with its DuckDB twin, and the trading
edges (BFS); the two persisted tables share one session cache.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import BoundedCache, unpersist_quietly
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
from .spec import QuerySpec


# ------------------------- graph kit -------------------------

PART_SUPPLIER_EDGES_SQL = (
    "SELECT DISTINCT 'p' || l_partkey AS src, 's' || l_suppkey AS dst FROM lineitem"
)


def part_supplier_edges(li: DataFrame) -> DataFrame:
    """Spark twin of ``PART_SUPPLIER_EDGES_SQL`` without its DISTINCT:
    the loop kit's edge table dedups."""
    return li.select(
        F.concat(F.lit("p"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )


def co_supplier_sql(pct: float) -> str:
    """DuckDB twin of ``_co_supplier_edges``' inputs: the CTEs ``ps``,
    ``co`` and ``thr`` (the ``pct`` percentile of ``co.c``), opening a
    WITH that the caller continues with its ``e AS`` line."""
    return f"""WITH ps AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
), co AS (
  SELECT a.s AS u, b.s AS v, count(*) AS c
  FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
  GROUP BY 1, 2
), thr AS (SELECT quantile_cont(c, {pct}) AS t FROM co),"""


# One persisted copy per (session, sf_dir, table) serves every call of
# every query that reads it; eviction unpersists. Plans and results are
# those of an uncached build.
_GRAPH_TABLES: BoundedCache[tuple, DataFrame] = BoundedCache(
    8, on_evict=unpersist_quietly
)


def _session_table(
    build: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """``build``'s persisted table, built once per (session, sf_dir) and
    owned by ``_GRAPH_TABLES``: callers must not unpersist it."""

    @functools.wraps(build)
    def cached(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _GRAPH_TABLES.get_or_build(
            (spark.sparkContext.applicationId, sf_dir, build.__name__),
            lambda: build(spark, sf_dir),
        )

    return cached


# The co-occurrence table is PCT-INDEPENDENT: every co-supplier graph
# query (triangles at pct 0.9, k-core and LPA at 0.5) consumes the same
# (u, v, shared-part-count) frame and only the threshold filter
# differs. Building it is the dominant cost of all three queries
# (lineitem-wide shuffles), so one persisted copy per (session, sf_dir)
# serves the whole family (round-8 verdict #3).
@_session_table
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
    co = pairs.groupBy("u", "v").agg(F.count(F.lit(1)).alias("c")).persist()
    width = session_width(spark)
    n = rows_width(width, co.count())
    if n < width:
        wide, co = co, co.coalesce(n).persist()
        co.count()
        wide.unpersist()
    return co


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
    construction serves triangles, k-core, and LPA. Callers must NOT
    unpersist the result's lineage — the cache owns the persisted co
    frame."""
    co = _co_supplier_co(spark, sf_dir)
    thr, rows = co.agg(
        F.expr(f"percentile(c, {pct})"), F.count(F.lit(1))
    ).first()
    return co.filter(F.col("c") > thr).select("u", "v"), rows


# The build (orders ⋈ lineitem + distinct) is ~30 % of the warm BFS
# wall.
@_session_table
def _trading_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct customer↔supplier trading edges (u = 'c:<custkey>',
    v = 's:<suppkey>') of orders ⋈ lineitem, persisted and owned by
    the session cache."""
    o = read_testdata_table(spark, sf_dir, "orders")
    li = read_testdata_table(spark, sf_dir, "lineitem")
    return (
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


# ------------------------- iterative graph (PageRank) -------------------------

_PR_ITERS = 5


def _top_ranks(ranks: DataFrame) -> list:
    """The top-20 (node, rank) rows, rank rounded to 9 decimals, ties
    by node: the one action that runs a PageRank loop."""
    return (
        ranks.select("node", F.round("rank", 9).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("node"))
        .limit(20)
        .collect()
    )


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative PageRank (operators/graph.py) over the bipartite
    part↔supplier graph from lineitem (edges both directions, distinct).
    Five synchronous rounds as a driver loop of join+aggregate steps;
    top-20 nodes, deterministic tiebreak. The oracle replays all five
    iterations as unrolled CTEs with the identical per-iteration
    DECIMAL-summed rounding, so the whole iterative computation — not
    just its shape — is value-checked."""
    fwd = part_supplier_edges(read_testdata_table(spark, sf_dir, "lineitem"))
    edges = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # pagerank yields a LAZY persisted chain: this collect is the ONE
    # action that executes the whole loop. The top-20 rows are a
    # legitimate driver boundary; the block's exit releases every cache
    # the loop pinned (even on error).
    with pagerank(edges, iterations=_PR_ITERS) as ranks:
        rows = _top_ranks(ranks)
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
  {PART_SUPPLIER_EDGES_SQL}
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
    edges = part_supplier_edges(read_testdata_table(spark, sf_dir, "lineitem"))
    with pagerank_converged(
        edges, max_iterations=_PRC_MAX, tol=_PRC_TOL
    ) as (ranks, stopped):
        rows = _top_ranks(ranks)
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
  {PART_SUPPLIER_EDGES_SQL}
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
{co_supplier_sql(_TRI_PCT)}
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
{co_supplier_sql(_KCORE_PCT)}
e AS MATERIALIZED (SELECT u, v FROM co CROSS JOIN thr WHERE c > t),
sym AS MATERIALIZED (SELECT u AS s, v AS d FROM e UNION SELECT v, u FROM e),
kv AS MATERIALIZED (
  SELECT CAST(floor({_KCORE_FRAC} * quantile_cont(n, 0.5)) + 1 AS BIGINT) AS k
  FROM (SELECT s, count(*) AS n FROM sym GROUP BY s)
),
a0 AS MATERIALIZED (SELECT DISTINCT s AS vertex FROM sym),{",".join(rounds)}
SELECT vertex, core_degree FROM {prev}
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


# --------------------- multi-source BFS distances ---------------------

_BFS_HOPS = 6

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

    # the co table under the edge set belongs to the session cache
    # (_co_supplier_co) — nothing to release here
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
{co_supplier_sql(_LPA_PCT)}
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


QUERIES: list[QuerySpec] = [
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
        "graph_hierarchy_flatten", q_graph_hierarchy_flatten,
        _HIERARCHY_ORACLE,
        "pointer-doubling hierarchy flatten (O(log depth) rounds),"
        " recursive-CTE oracle",
    ),
    QuerySpec(
        "graph_bfs_distances", q_graph_bfs_distances, _bfs_oracle(),
        "Multi-source BFS hop distances over the trading graph",
    ),
    QuerySpec(
        "graph_label_propagation",
        q_graph_label_propagation,
        _lpa_oracle(),
        "Deterministic 3-round label-propagation community sizes",
    ),
]
