"""Iterative graph operators as driver loops of DataFrame steps.

The family, and the question each answers:
- ``pagerank`` / ``pagerank_converged``: mass flow (simplified and
  full-semantics PageRank);
- ``k_core``: cohesion, by iterative peeling;
- ``label_propagation``: communities, by frequency-weighted labels;
- ``bfs_distances``: hop distance from a seed set;
- ``flatten_hierarchy``: root and depth in a parent-pointer forest,
  by pointer doubling;
- ``connected_components`` (dedup/components.py): clusters, by
  min-label propagation.
``orient_by_degree`` and ``triangle_counts`` (wedge closure) are
single-pass joins over the same edge sets, not loops.

The loops share one kit:
- ``_edge_table`` builds the loop's persisted edge table — the big side
  at scale — with ONE exchange, partitioned on the key every
  iteration's join uses, so per iteration only node-sized frames move.
  (Without it, every iteration re-shuffles the full edge set.)
- ``_sized`` partitions a cached table by the rows it holds — one
  partition per 50k rows, capped at the session width
  (``session.rows_width``) — because a cache's partition count is the
  task count of every later scan of it.
- ``_node_frame_bc`` broadcasts node-sized per-iteration frames when
  the KNOWN node count is at most ``_BC_NODES_MAX``; above it the
  sort-merge path is the right plan for tables too big to broadcast.
- ``_iteration_shuffle_width`` narrows the shuffle width to the node
  count under that same gate, around loops whose actions all run
  inside it.
- A loop step that references the previous step twice doubles the
  logical plan per round; those loops materialize each barrier through
  an eager ``localCheckpoint``, which truncates lineage.

PageRank specifics:
- Determinism for the DuckDB oracle: per-iteration contributions are
  rounded to ``_PR_DP`` decimals and summed in DECIMAL(30, dp) — exact
  integer-scaled addition, so float summation order cannot diverge
  between engines; the only float ops per iteration (one division, one
  multiply-add) are correctly rounded and identical.
- ``pagerank``'s simplified semantics (replayed identically by the
  oracle): dangling-node mass is NOT redistributed; nodes with no
  in-edges hold the teleport term (1−d)/N. ``pagerank_converged``
  redistributes it.
- Both are context managers that release every cache the loop pinned
  on exit, including on error: consume the ranks inside the block.
"""

from __future__ import annotations

import math
from contextlib import contextmanager
from functools import reduce
from typing import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import rows_width, session_width

# Per-iteration frames are NODE-sized (3 narrow columns), not data-sized:
# once the node count is known (it is counted anyway for the teleport
# term), the join strategy and the shuffle width can be chosen from it
# instead of left to static planning against unknown-stats intermediates.
_BC_NODES_MAX = 200_000  # ≲ a few MB of (node, rank) — safely broadcastable
_WIDTH_KEY = "spark.sql.shuffle.partitions"
# pagerank's materialize-and-release cadence: at most 5 node-sized rank
# tables stay pinned between barriers. 8 (no mid-loop barrier in the
# 5-round catalog query) measured -3%, inside arm spread
# (OPTIMIZATION_r13.md §6), so the memory bound wins.
_PR_BARRIER_EVERY = 4
_PR_DP = 12  # PageRank's rounding; the catalog oracles import it
_PR_DEC = f"decimal(30,{_PR_DP})"
# pagerank_converged's convergence-check cadence; the oracle replays it
_PR_CHECK_EVERY = 2


def _sized(df: DataFrame, rows: int, *keys) -> DataFrame:
    """``df`` hash-partitioned on ``keys`` into ``rows_width`` partitions
    for a KNOWN row bound ``rows`` — for a frame about to be cached. A
    cache keeps the partition count it was written with, and AQE does
    not coalesce a cached plan's output, so at the session's 32-way
    width every later scan of a few-hundred-row cache schedules 32
    nearly empty tasks (``graph_k_core`` ran hundreds of tasks per call
    that way). An explicit ``repartition(n, key)``, not a conf scope: the
    count is fixed in the plan, so it also holds for lazy chains whose
    action runs after the scope would have closed. A non-numeric
    session width keeps the plain ``repartition(key)``."""
    width = session_width(df.sparkSession)
    if width <= 1:
        return df.repartition(*keys)
    return df.repartition(rows_width(width, rows), *keys)


@contextmanager
def _edge_table(
    edges: DataFrame,
    u: str,
    v: str,
    *,
    directed: bool = False,
    symmetric: bool = False,
    key: str = "_s",
) -> Iterator[DataFrame]:
    """``with _edge_table(edges, u, v) as sym:`` — the loop's persisted
    (_s, _d) edge table, distinct, shuffled once, unpersisted on exit.

    Undirected by default: every edge is added in both directions.
    ``directed`` keeps the given direction; ``symmetric`` declares the
    input ALREADY holds both directions, distinct, and skips the union
    and the dedup. ``repartition(key)`` runs BEFORE ``distinct``:
    hashpartitioning(key) satisfies the dedup's
    ClusteredDistribution(_s, _d) (equal pairs share a key partition),
    so the dedup runs in place and the cache keeps the partitioning the
    loop joins on. The opposite order paid a second full edge shuffle
    for the same layout (52% of the build step in the round-13 A/B).

    Width: when ``edges`` is itself cached, its count (one scan of that
    cache, materializing it if it was not yet — work the build does
    anyway) bounds the table's rows — doubled for the undirected union —
    and the table is ``_sized`` from it, so every round's scans and the
    key-reusing aggregates run as many tasks as the rows need (k_core at
    sf0.001: one partition, not 32). An uncached input keeps the session
    width: counting it would run its lineage twice."""
    e = edges.select(F.col(u).alias("_s"), F.col(v).alias("_d"))
    if not (directed or symmetric):
        e = e.union(edges.select(F.col(v).alias("_s"), F.col(u).alias("_d")))
    level = edges.storageLevel
    if level.useMemory or level.useDisk:
        rows = edges.count() * (1 if directed or symmetric else 2)
        e = _sized(e, rows, F.col(key))
    else:
        e = e.repartition(F.col(key))
    e = (e if symmetric else e.distinct()).persist()
    try:
        yield e
    finally:
        e.unpersist()


def _node_frame_bc(n: int) -> Callable[[DataFrame], DataFrame]:
    """Join-strategy chooser for node-sized per-iteration frames: when
    the node count (known exactly) bounds the frame under
    ``_BC_NODES_MAX`` rows, broadcast it — the edge table then never
    re-exchanges and each iteration's only shuffle is the tiny
    post-aggregate one. Above the bound, identity: the shuffle
    (sort-merge) path is the right plan for graphs whose rank table
    exceeds broadcast size (1e9 nodes ≫ any executor), and its
    per-iteration exchange is node-sized, not edge-sized. Measured at
    sf0.1: 11.8 s → ~7 s for the converged catalog query; results are
    bit-identical because join strategy never touches the arithmetic."""
    return F.broadcast if n <= _BC_NODES_MAX else (lambda df: df)


@contextmanager
def _iteration_shuffle_width(
    spark, n_nodes: int | Callable[[], int], rows: Callable[[], int] | None = None
) -> Iterator[None]:
    """Scope ``spark.sql.shuffle.partitions`` to the iteration loop,
    sized from a KNOWN count — ``rows()`` when given, else the node
    count — by ``rows_width`` (never widens). AQE's default
    ``parallelismFirst=true`` refuses to coalesce below the core count,
    so a 21k-row aggregate still schedules 32 tasks per stage per
    iteration; with ~10 iterations × ~3 stages the task overhead
    dominates wall-clock at bench scale, while at graph scale this is a
    no-op.

    Gated on the node count (``n_nodes``, or a callable computing it):
    above ``_BC_NODES_MAX`` the loop's joins re-exchange edge-fed
    frames, and sizing those from the node count would throttle them
    (1M nodes / 1B edges → 20 partitions), so the width is left alone.
    A session width of 1, or a non-numeric one (some platforms set
    'auto'), leaves it alone too, without calling either count.

    Restores the session value on exit — ONLY safe around loops whose
    actions all run inside the scope (``pagerank``'s lazy chain
    materializes at the caller's action, so it must not use this). The
    conf mutation is session-global: this assumes the single-threaded
    driver discipline the whole package runs under (caching.py)."""
    width = session_width(spark)
    n = (n_nodes() if callable(n_nodes) else n_nodes) if width > 1 else 0
    if width <= 1 or n > _BC_NODES_MAX:
        yield
        return
    saved = spark.conf.get(_WIDTH_KEY)
    spark.conf.set(_WIDTH_KEY, str(rows_width(width, rows() if rows else n)))
    try:
        yield
    finally:
        spark.conf.set(_WIDTH_KEY, saved)


@contextmanager
def _pagerank_state(
    edges: DataFrame, src: str, dst: str
) -> Iterator[tuple[DataFrame, DataFrame, int, list[DataFrame]]]:
    """The setup both PageRanks share. Yields ``(e, nodes_deg, n,
    pinned)``: the persisted directed edge table, the persisted (node,
    deg) table, the node count, and ``pinned`` = [nodes_deg, the
    persisted initial (node, deg, rank) table]. The loop appends its
    rank tables to ``pinned``; on exit every frame left in it, and the
    edge table, is unpersisted, even when the body raises.

    Out-degree is STATIC, so it is folded into the node table once and
    every rank table carries its own deg (no ranks ⋈ outdeg join per
    iteration). Only nodes_deg is cached: the plain node set is
    consumed exactly once here."""
    with _edge_table(edges, src, dst, directed=True) as e:
        pinned: list[DataFrame] = []
        try:
            nodes = (
                e.select(F.col("_s").alias("node"))
                .union(e.select(F.col("_d").alias("node")))
                .distinct()
            )
            outdeg = e.groupBy(F.col("_s").alias("node")).agg(
                F.count(F.lit(1)).alias("deg")
            )
            nodes_deg = (
                nodes.join(outdeg, "node", "left")
                .select("node", F.coalesce("deg", F.lit(0)).alias("deg"))
                .repartition("node")
                .persist()
            )
            pinned.append(nodes_deg)
            n = nodes_deg.count()  # scalar driver boundary, like stats/variance.py
            # max(): an empty edge set has no nodes to divide among
            rank0 = F.round(F.lit(1.0 / max(n, 1)), _PR_DP).alias("rank")
            pinned.append(nodes_deg.select("node", "deg", rank0).persist())
            yield e, nodes_deg, n, pinned
        finally:
            for h in pinned:
                h.unpersist()


def _pagerank_step(
    e: DataFrame,
    nodes_deg: DataFrame,
    ranks: DataFrame,
    n: int,
    damping: float,
    *,
    dangling: bool,
) -> DataFrame:
    """One synchronous round, persisted: each node's rate (rank / deg)
    flows along the cached edges into a DECIMAL mass sum per target,
    then every node takes the teleport term plus the damped mass. With
    ``dangling`` the out-degree-0 mass D (an exact DECIMAL one-row
    aggregate, broadcast-crossed into the update — no driver collect)
    is spread as d·D/N over every node."""
    bc = _node_frame_bc(n)
    rate = ranks.filter(F.col("deg") > 0).select(
        "node",
        F.round(F.col("rank") / F.col("deg"), _PR_DP).cast(_PR_DEC).alias("c"),
    )
    contribs = (
        e.join(bc(rate), e["_s"] == rate.node)
        .groupBy(F.col("_d").alias("node"))
        .agg(F.sum("c").alias("mass"))
    )
    nxt = nodes_deg.join(bc(contribs), "node", "left")
    mass = F.coalesce(F.col("mass").cast("double"), F.lit(0.0))
    if dangling:
        dm = ranks.filter(F.col("deg") == 0).agg(
            F.sum(F.col("rank").cast(_PR_DEC)).alias("dm")
        )
        nxt = nxt.crossJoin(F.broadcast(dm))
        mass = mass + F.coalesce(F.col("dm").cast("double"), F.lit(0.0)) / n
    teleport = (1.0 - damping) / n
    return nxt.select(
        "node",
        "deg",
        F.round(F.lit(teleport) + F.lit(damping) * mass, _PR_DP).alias("rank"),
    ).persist()


@contextmanager
def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 5,
) -> Iterator[DataFrame]:
    """``with pagerank(edges, iterations=5) as ranks:`` — (node, rank)
    after ``iterations`` synchronous PageRank rounds over the DISTINCT
    directed edge set; empty for an empty edge set. Every cache the
    loop pinned is released when the block exits, even on error, so
    consume the ranks inside the block.

    The yielded DataFrame is a LAZY persisted chain — no action runs
    for the iterations, so the caller's first action executes the whole
    loop as one job (measured ~25% faster end-to-end than materializing
    inside and collecting separately). An
    eager-materialize-inside-a-narrowed-width-scope variant (the
    ``pagerank_converged`` discipline) was measured in round 12 and
    REJECTED: 9.9 s → 13.1 s median at sf0.1 (OPTIMIZATION_r12.md) —
    this loop has no barrier actions to amortize the extra walks
    against, and the narrowed post-aggregate exchanges serialize work
    the full-width stages ran in parallel. Every ``_PR_BARRIER_EVERY``
    rounds (when more follow) a count materializes the chain and
    releases the earlier rank tables: a deep-iteration safety valve
    bounding lineage and the persisted working set."""
    with _pagerank_state(edges, src, dst) as (e, nodes_deg, n, pinned):
        ranks = pinned[-1]
        for it in range(1, iterations + 1 if n else 1):  # no rounds if empty
            ranks = _pagerank_step(e, nodes_deg, ranks, n, damping, dangling=False)
            pinned.append(ranks)
            if it % _PR_BARRIER_EVERY == 0 and it < iterations:
                ranks.count()
                for h in pinned[1:-1]:
                    h.unpersist()
                del pinned[1:-1]
        yield ranks.select("node", "rank")


@contextmanager
def pagerank_converged(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iterations: int = 10,
    tol: float = 1e-6,
) -> Iterator[tuple[DataFrame, int]]:
    """``with pagerank_converged(edges, tol=1e-6) as (ranks,
    stopped_at):`` — full-semantics PageRank: dangling-node mass IS
    redistributed (each round every node receives d·D/N where D = Σ
    rank over out-degree-0 nodes — the textbook fix ``pagerank``
    simplifies away), and the loop STOPS once the L1 rank delta between
    consecutive iterations drops under ``tol``. An empty edge set
    yields empty ranks and ``stopped_at = 0``. Same release-on-exit
    contract as ``pagerank``.

    Convergence checking needs driver actions, so it rides the barrier:
    every ``_PR_CHECK_EVERY`` iterations (and at the last) the chain
    materializes and the L1 delta — an exact DECIMAL(30,dp) sum of
    dp-rounded per-node diffs, so both engines agree on the stop
    decision bit-for-bit — is compared with ``tol``. Between barriers
    no action runs. The dangling aggregate is a SECOND plan reference
    to the previous iteration, which doubles the logical plan per round
    (2^t subtrees), so each barrier frame is an eager
    ``localCheckpoint``; the ContextCleaner frees its storage when the
    frame is dropped.

    Every action runs inside the loop, so the loop runs under
    ``_iteration_shuffle_width`` — a no-op at graph scale, a ~40%
    wall-clock win at bench scale where 32-task stages of ~700 rows
    dominated — and the session width is back before the ranks are
    yielded."""
    with _pagerank_state(edges, src, dst) as (e, nodes_deg, n, pinned):
        ranks, stopped_at = pinned[-1], 0
        bc = _node_frame_bc(n)
        with _iteration_shuffle_width(edges.sparkSession, n):
            for it in range(1, max_iterations + 1 if n else 1):  # none if empty
                prev, stopped_at = ranks, it
                ranks = _pagerank_step(e, nodes_deg, ranks, n, damping, dangling=True)
                pinned.append(ranks)
                if it % _PR_CHECK_EVERY == 0 or it == max_iterations:
                    ranks = ranks.localCheckpoint(eager=True)
                    cur, prv = ranks.alias("cur"), prev.alias("prv")
                    diff = F.abs(F.col("cur.rank") - F.col("prv.rank"))
                    delta = (
                        cur.join(bc(prv), "node")
                        .agg(F.sum(F.round(diff, _PR_DP).cast(_PR_DEC)))
                        .first()[0]
                    )
                    for h in pinned[1:]:
                        h.unpersist()
                    del pinned[1:]
                    if delta is not None and float(delta) < tol:
                        break
        yield ranks.select("node", "rank"), stopped_at


def orient_by_degree(edges: DataFrame, *, u: str = "u", v: str = "v") -> DataFrame:
    """(s, t): the undirected edge set reoriented so each edge points
    from its lower-(degree, id) endpoint to its higher one — the
    Cohen / Vassilevska-Williams degree ordering that makes the wedge
    closure skew-proof. Under any TOTAL order ≺ on vertices, orienting
    every edge low→high makes each triangle x ≺ y ≺ z discoverable
    exactly once (as the wedge (x,y)+(y,z) closed by (x,z)); choosing
    ≺ = (degree, id) additionally bounds every vertex's OUT-degree by
    O(√m) — a hub of degree d keeps out-edges only toward neighbors of
    degree ≥ d, of which there are at most 2m/d — so per-vertex wedge
    fan-out is O(m) total instead of Σ C(dᵥ,2), which is quadratic in
    the hottest degree under id ordering. On a power-law graph at 100×
    scale that difference is the whole join.

    Input: DISTINCT undirected pairs, each edge once (any endpoint
    order). Cost: ONE degree aggregation (node-sized, built in a
    single edge scan via explode) plus two equi-joins of the edge set
    against it — AQE broadcasts the degree table when it is small; at
    graph scale both are plain shuffle joins on the endpoint keys.
    The degree frame is a lazy localCheckpoint: referenced by BOTH
    joins, it would otherwise be planned as two independent subtrees
    (Spark does not dedupe common subexpressions across joins —
    measured 2× the whole orientation cost); the checkpoint computes
    it once and the ContextCleaner frees the blocks when the frame is
    dropped, so no caller-release contract is needed (the
    resample_ffill pattern)."""
    und = edges.select(F.col(u).alias("x"), F.col(v).alias("y"))
    deg = (
        und.select(F.explode(F.array("x", "y")).alias("vtx"))
        .groupBy("vtx")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=False)
    )
    dx = deg.select(F.col("vtx").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("vtx").alias("y"), F.col("d").alias("dy"))
    x_first = (F.col("dx") < F.col("dy")) | (
        (F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))
    )
    return (
        und.join(dx, "x")
        .join(dy, "y")
        .select(
            F.when(x_first, F.col("x")).otherwise(F.col("y")).alias("s"),
            F.when(x_first, F.col("y")).otherwise(F.col("x")).alias("t"),
        )
    )


def triangle_counts(
    edges: DataFrame, *, u: str = "u", v: str = "v", oriented: bool = False
) -> DataFrame:
    """(vertex, n_triangles): per-vertex triangle participation over a
    simple undirected graph given as DISTINCT pairs (each edge once).

    The canonical distributed formulation: orient every edge along a
    total vertex order, then each triangle is found exactly once by
    the two-join wedge closure e(a,b) ⋈ e(b,c) ⋈ e(a,c) — two shuffles
    total (one on the wedge midpoint, one on the closing pair), no
    per-vertex adjacency materialization. The order is (degree, id)
    via ``orient_by_degree`` — id alone leaves hub fan-out quadratic
    in the hub degree (the round-5 verdict's scale finding; see the
    orient_by_degree docstring for the O(√m) bound and the pinned
    fan-out test in tests/test_graph.py:
    test_triangle_degree_ordering_bounds_hub_fanout).

    Pass ``oriented=True`` when ``edges`` already came from
    ``orient_by_degree`` (e.g. the caller persisted the oriented set so
    the three wedge scans share one orientation pass — the
    plans/graph_queries.py:q_graph_triangles pattern)."""
    o = edges.select(F.col(u).alias("s"), F.col(v).alias("t")) if oriented \
        else orient_by_degree(edges, u=u, v=v)
    e1 = o.select(F.col("s").alias("a"), F.col("t").alias("b"))
    e2 = o.select(F.col("s").alias("b"), F.col("t").alias("c"))
    e3 = o.select(F.col("s").alias("a"), F.col("t").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("vertex"))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )


def _peel_round(sym: DataFrame, alive: DataFrame, n_alive: int, k: int) -> DataFrame:
    """One k-core peel round, lazy: (vertex, core_degree) of every
    vertex in ``alive`` (``n_alive`` rows) that keeps degree ≥ ``k``
    among ``alive``. Two semi-joins restrict the cached edge table to
    surviving endpoints and one aggregate counts degrees; under the
    broadcast gate both semi-joins broadcast ``alive`` and the
    groupBy(_s) reuses the table's _s partitioning, so the round has no
    shuffle."""
    bc = _node_frame_bc(n_alive)
    return (
        sym.join(bc(alive), sym["_s"] == alive["vertex"], "left_semi")
        .join(
            bc(alive.select(F.col("vertex").alias("_dv"))),
            F.col("_d") == F.col("_dv"),
            "left_semi",
        )
        .groupBy(F.col("_s").alias("vertex"))
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .filter(F.col("core_degree") >= k)
    )


def k_core(
    edges: DataFrame,
    *,
    k: int,
    u: str = "u",
    v: str = "v",
    max_rounds: int = 10,
    symmetric: bool = False,
) -> DataFrame:
    """(vertex, core_degree): the k-core of a simple undirected graph
    (DISTINCT pairs, each edge once, any endpoint order) — the maximal
    subgraph where every vertex keeps degree ≥ k, found by iterative
    PEELING: drop all vertices with degree < k, recompute degrees in
    what remains, repeat to fixpoint. The classic cohesion filter
    (spam rings, dense co-occurrence cores, community scaffolds).
    ``symmetric=True`` declares the edges ALREADY hold both directions
    of every edge, distinct: callers that built the symmetric set for
    their own degree statistics skip a redundant union and dedup.

    Per round (``_peel_round``): two semi-joins restrict the
    (symmetrized, persisted, src-partitioned) edge set to surviving
    endpoints, one degree aggregate, one filter — all node/edge-sized,
    no driver data. The survivor set is node-sized and its count is
    already taken every round for the fixpoint test, so while it stays
    under ``_BC_NODES_MAX`` both semi-joins broadcast it — the edge set
    then never re-exchanges AND the degree groupBy(_s) reuses the
    cached src-partitioning, making a whole peel round shuffle-free.
    Shuffle-free is not task-free: every round scans every partition
    of the edge table, and the survivor checkpoint keeps that
    partition count, so a CACHED input sizes the table from its rows
    (``_edge_table``) — at sf0.001 a round is a handful of tasks
    instead of the session width several times over. The survivor set
    shrinks MONOTONICALLY, so the fixpoint test is one count comparison
    per round. Each round references the survivor frame twice (both
    endpoint semi-joins), so every round's survivor set materializes
    through an eager localCheckpoint.

    ``max_rounds`` bounds the number of SHRINKING rounds; the loop
    runs up to max_rounds + 1 iterations because detecting the
    fixpoint takes one extra (stable) iteration after the last shrink
    — so a peel of depth exactly max_rounds still converges, matching
    an oracle that unrolls max_rounds rounds (idempotent past the
    fixpoint). Raises if the budget is exhausted before the fixpoint:
    a silently-unconverged core is a wrong answer, not a result
    (callers on deep-peeling graphs raise the budget; each extra round
    is cheap)."""
    with _edge_table(edges, u, v, symmetric=symmetric) as sym:
        alive = (
            sym.select(F.col("_s").alias("vertex"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_alive = alive.count()
        for _ in range(max_rounds + 1):
            survivors = _peel_round(sym, alive, n_alive, k).localCheckpoint(
                eager=True
            )
            n_next = survivors.count()
            alive = survivors.select("vertex")
            if n_next in (n_alive, 0):
                # the last degree table IS the in-core degree (computed
                # among exactly the surviving vertices)
                return survivors
            n_alive = n_next
        raise RuntimeError(
            f"k_core: no fixpoint within max_rounds={max_rounds} "
            "(raise the budget; peeling depth exceeded it)"
        )


def label_propagation(
    edges: DataFrame,
    *,
    u: str = "u",
    v: str = "v",
    rounds: int = 3,
) -> DataFrame:
    """(vertex, label): synchronous label-propagation communities
    after a FIXED number of rounds — each round every vertex adopts
    the smallest label among its neighbors' most frequent labels
    (count desc, label asc — a TOTAL order, so the sweep is
    deterministic; classic LPA's random tie-breaks make it
    irreproducible, which a value-checked catalog cannot have).
    Labels start as vertex ids. Community detection distinct from
    connected components: min-label CC floods whole components;
    frequency-weighted adoption lets DENSE neighborhoods keep their
    own label against a sparse bridge, splitting a component into
    communities.

    Fixed rounds, not convergence: synchronous LPA can oscillate
    2-cycles forever (bipartite-ish regions), so "run R rounds" IS
    the semantic — stated, and replayed by an oracle that unrolls
    exactly R rounds. Per round: one edge⋈labels join (the label
    table is node-sized and counted once, so under ``_BC_NODES_MAX``
    it broadcasts and the cached edge set — partitioned on ``_d``, the
    join key — never re-exchanges), one (vertex, label) count, and the
    per-vertex top-1 taken by a ``min(struct(-n, label))`` aggregate
    rather than a row_number window: the same deterministic total
    order (count desc, label asc) as a partial-aggregable hash agg —
    map-side combine, no per-partition sort, and no window exchange.
    The label table is materialized per round through an eager
    localCheckpoint (linear, not exponential, lineage)."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    with _edge_table(edges, u, v, key="_d") as sym:
        labels = (
            sym.select(F.col("_s").alias("vertex"))
            .distinct()
            .select("vertex", F.col("vertex").alias("label"))
            .localCheckpoint(eager=True)
        )
        n = labels.count()
        bc = _node_frame_bc(n)
        # Width scope: in the broadcast regime both per-round exchanges —
        # the (vertex, label) count partials and the top-1 re-aggregate —
        # are bounded by the DISTINCT (vertex, neighbor-label) pair count,
        # which is EDGE-bound in early rounds (round 1: exactly the distinct
        # directed edge count), not node-bound. So the width is sized from
        # the symmetric edge count (one extra count over the already
        # materialized sym cache) while the gate stays on n (it bounds the
        # label TABLE). Sound because every action (the per-round eager
        # checkpoints) runs inside the loop.
        with _iteration_shuffle_width(edges.sparkSession, n, rows=sym.count):
            for _ in range(rounds):
                cnt = (
                    sym.join(bc(labels), sym["_d"] == labels["vertex"])
                    .groupBy(F.col("_s").alias("vertex_"), "label")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .withColumnRenamed("vertex_", "vertex")
                )
                # top-1 by (n desc, label asc) == min of struct(-n, label):
                # lexicographic struct comparison, unique winner, same total
                # order the window formulation sorted by
                labels = (
                    cnt.groupBy("vertex")
                    .agg(
                        F.min(
                            F.struct((-F.col("n")).alias("_negn"), F.col("label"))
                        ).alias("_top")
                    )
                    .select("vertex", F.col("_top.label").alias("label"))
                    .localCheckpoint(eager=True)
                )
    return labels


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    u: str = "u",
    v: str = "v",
    seed_col: str = "vertex",
    max_hops: int = 8,
) -> DataFrame:
    """(vertex, dist): minimum hop count from ANY seed vertex over an
    undirected graph, up to ``max_hops`` — multi-source BFS, the
    reachability/radius primitive (blast-radius of a bad upstream
    source, supplier-network distance, social-hop features) — the one
    question the rest of the family does not answer: how FAR.

    Frontier propagation: each round joins only the NEWLY-settled
    frontier against the (src-partitioned, persisted) edge set, so
    total join work is one pass over each edge per incident frontier
    round — the textbook level-synchronous BFS; no vertex is expanded
    twice. The settled-set subtraction uses the UNDIRECTED-BFS level
    theorem: a neighbor of a distance-(h−1) vertex has distance in
    {h−2, h−1, h}, so anti-joining the candidate set against just the
    LAST TWO frontiers (not the whole settled table) is exact — the
    per-round subtraction cost is frontier-sized, constant per level,
    where a full-table anti-join grows with everything settled so
    far. Frontiers are node-sized and each is counted anyway (the
    empty-frontier exit), so the broadcast gate is re-evaluated per
    level as the frontier grows and shrinks. Each frontier
    materializes through an eager localCheckpoint (constant-size plans
    over any number of rounds); the per-level frames union once at the
    end.

    Seeds absent from the edge set still appear at dist 0 (a seed IS
    at distance zero of itself whether or not it has edges). Vertices
    unreached within ``max_hops`` are absent — the loop exits early on
    an empty frontier, which is idempotent with an oracle that unrolls
    exactly ``max_hops`` rounds."""
    with _edge_table(edges, u, v) as sym:
        frontier = (
            seeds.select(F.col(seed_col).alias("vertex"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_frontier = frontier.count()
        levels = [frontier.select("vertex", F.lit(0).cast("long").alias("dist"))]
        prev2, n_prev2 = None, 0
        # Width scope: the one per-level exchange (the candidate distinct)
        # outputs AT MOST the vertex total, so the loop's width is gated and
        # sized on the vertex count — NOT on the frontier, whose size bounds
        # the broadcasts but not the distinct's output. That count also
        # materializes the edge cache at session width; it is skipped where
        # narrowing is a no-op (session width 1).
        with _iteration_shuffle_width(
            edges.sparkSession, lambda: sym.select("_s").distinct().count()
        ):
            for h in range(1, max_hops + 1):
                bc = _node_frame_bc(n_frontier)
                cand = (
                    sym.join(
                        bc(frontier.withColumnRenamed("vertex", "_s")),
                        "_s",
                        "left_semi",
                    )
                    .select(F.col("_d").alias("vertex"))
                    .distinct()
                    .join(bc(frontier), "vertex", "left_anti")
                )
                if prev2 is not None:
                    # gate on prev2's OWN size — frontiers shrink as well as
                    # grow, so the current frontier's size doesn't vouch for it
                    cand = cand.join(
                        _node_frame_bc(n_prev2)(prev2), "vertex", "left_anti"
                    )
                new = cand.localCheckpoint(eager=True)
                n_new = new.count()
                if n_new == 0:
                    break
                levels.append(
                    new.select("vertex", F.lit(h).cast("long").alias("dist"))
                )
                prev2, n_prev2 = frontier, n_frontier
                frontier, n_frontier = new, n_new
    return reduce(lambda a, b: a.union(b), levels)


def flatten_hierarchy(
    nodes: DataFrame,
    *,
    node_col: str = "node",
    parent_col: str = "parent",
    max_depth: int = 64,
) -> DataFrame:
    """(node, root, depth) over a parent-pointer forest (parent NULL ⇒
    root) by POINTER DOUBLING: each round replaces every node's
    ancestor pointer with its ancestor's ancestor and adds the hop
    counts, so ceil(log2(max_depth)) rounds flatten any hierarchy the
    depth bound covers — the scalable org-chart/taxonomy/thread
    flatten (one-level-per-round needs depth rounds; at depth 10^4
    that difference is the whole game).

    Each round joins the state table with ITSELF — two plan references
    per round, the doubled-lineage shape — so every round materializes
    through an eager localCheckpoint: log-many barrier writes of a
    node-sized table.

    The state table is node-sized and counted once (rows never change:
    pointers mutate, rows don't), so under ``_BC_NODES_MAX`` the
    self-join's probe side broadcasts — zero exchanges per round; above
    the gate the sort-merge self-join is the right plan for state
    tables too big to broadcast. PRECONDITION (implied by "rows never
    change"): ``node_col`` ids must be UNIQUE. Duplicate ids would grow
    the row count each round through the self-join while the broadcast
    decision stays pinned to the initial count — though duplicates
    already produce undefined (node, root, depth) results without the
    gate, so this documents, not changes, the contract.

    Nodes whose ancestor chain exceeds max_depth keep a non-root
    ancestor (detectable: join result's root has a parent); raise
    max_depth for deeper forests. A parent id ABSENT from the input
    (a filtered sub-org, a dangling pointer) is treated as a terminal:
    the chain stops there via the LEFT self-join, so the subtree
    survives with root = the missing id — detectable by joining roots
    back against the node set, never silent row loss."""
    state = nodes.select(
        F.col(node_col).alias("node"),
        F.coalesce(F.col(parent_col), F.col(node_col)).alias("anc"),
        F.when(F.col(parent_col).isNull(), F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("depth"),
    ).localCheckpoint(eager=True)
    bc = _node_frame_bc(state.count())
    for _ in range(max(1, math.ceil(math.log2(max_depth)))):
        s2 = state.select(
            F.col("node").alias("_n2"),
            F.col("anc").alias("_a2"),
            F.col("depth").alias("_d2"),
        )
        state = (
            state.join(bc(s2), state["anc"] == s2["_n2"], "left")
            .select(
                "node",
                F.coalesce(F.col("_a2"), F.col("anc")).alias("anc"),
                (F.col("depth") + F.coalesce(F.col("_d2"), F.lit(0))).alias(
                    "depth"
                ),
            )
            .localCheckpoint(eager=True)
        )
    return state.select("node", F.col("anc").alias("root"), "depth")
