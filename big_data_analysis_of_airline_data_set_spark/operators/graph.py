"""Iterative graph algorithms as DataFrame loops — PageRank.

Beyond the label-propagation connected components (dedup/components.py)
this adds the other canonical iterative-relational workload: PageRank,
expressed as a driver-side loop of join+aggregate DataFrame steps.

Scale notes:
- The edge table — the big side at scale — is shuffled ONCE, at build:
  ``repartition(src)`` before the persist means the cached partitioning
  satisfies every iteration's join requirement, so per iteration only
  the node-sized rank table moves to the edges' partitioning, plus one
  contribution shuffle on dst. (Without this, every iteration re-
  shuffles the full edge set — 5× the dominant cost.)
- Iterations build ONE lazy persisted chain and materialize in a
  single final action instead of a per-iteration ``count()`` barrier:
  each cached step is computed (and cached) exactly once as the final
  job walks the chain, but we skip N job-submission round-trips —
  measured 2× end-to-end at sf0.1. ``_PR_BARRIER_EVERY`` bounds
  lineage depth and the persisted working set for deep iteration
  counts by forcing a materialize-and-release cycle every 4 rounds.
- Determinism for the DuckDB oracle: per-iteration contributions are
  rounded to ``round_dp`` decimals and summed in DECIMAL(30,dp) —
  exact integer-scaled addition, so float summation order cannot
  diverge between engines; the only float ops per iteration (one
  division, one multiply-add) are correctly-rounded and identical.
- Simplified semantics (documented, replayed identically by the
  oracle): dangling-node mass is NOT redistributed; nodes with no
  in-edges hold the teleport term (1−d)/N.
"""

from __future__ import annotations

from contextlib import contextmanager, nullcontext
from typing import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Per-iteration frames are NODE-sized (3 narrow columns), not data-sized:
# once the node count is known (it is counted anyway for the teleport
# term), the join strategy and the shuffle width can be chosen from it
# instead of left to static planning against unknown-stats intermediates.
_BC_NODES_MAX = 200_000  # ≲ a few MB of (node, rank) — safely broadcastable
_ITER_ROWS_PER_TASK = 50_000  # floor task size for node-sized shuffles
# pagerank's materialize-and-release cadence: at most 5 node-sized rank
# tables stay pinned between barriers. 8 (no mid-loop barrier in the
# 5-round catalog query) measured -3%, inside arm spread
# (OPTIMIZATION_r13.md §6), so the memory bound wins.
_PR_BARRIER_EVERY = 4


def _node_frame_bc(n: int, bc_nodes_max: int) -> Callable[[DataFrame], DataFrame]:
    """Join-strategy chooser for node-sized per-iteration frames: when
    the node count (known exactly) bounds the rank/contribution tables
    under ``bc_nodes_max`` rows, broadcast them — the edge table then
    never re-exchanges and each iteration's only shuffle is the tiny
    post-aggregate one. Above the bound, identity: the shuffle
    (sort-merge) path is the right plan for graphs whose rank table
    exceeds broadcast size (1e9 nodes ≫ any executor), and its
    per-iteration exchange is node-sized, not edge-sized. Measured at
    sf0.1: 11.8 s → ~7 s for the converged catalog query; results are
    bit-identical because join strategy never touches the arithmetic."""
    return F.broadcast if n <= bc_nodes_max else (lambda df: df)


@contextmanager
def _iteration_shuffle_width(spark, n: int) -> Iterator[None]:
    """Scope ``spark.sql.shuffle.partitions`` to the iteration loop,
    sized from the KNOWN node count (ceil(n / 50k), floored at 1,
    capped at the session setting — never widens). AQE's default
    ``parallelismFirst=true`` deliberately refuses to coalesce below
    the core count, so a 21k-row aggregate still schedules 32 tasks per
    stage per iteration; with ~10 iterations × ~3 stages the task
    overhead dominates wall-clock at bench scale while at graph scale
    (n / 50k ≥ session cap) this is a no-op. Restores the session
    value on exit — ONLY safe around loops whose actions all run
    inside the scope (the converged loop's barrier checks; the plain
    ``pagerank`` lazy chain materializes at the CALLER's action, after
    restore, so it must not use this). The conf mutation is session-
    global: this assumes the single-threaded-driver discipline the
    whole package runs under (caching.py) — queries issued
    CONCURRENTLY on the same session during the loop would plan under
    the narrowed width. A non-numeric session value (some platforms
    set 'auto') disables the scoping rather than raising."""
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        saved_n = int(saved)
    except (TypeError, ValueError):
        yield  # unknown width: leave the session conf untouched
        return
    k = max(1, min(saved_n, -(-n // _ITER_ROWS_PER_TASK)))
    spark.conf.set("spark.sql.shuffle.partitions", str(k))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 5,
    round_dp: int = 12,
    broadcast_nodes_max: int = _BC_NODES_MAX,
) -> DataFrame:
    """(node, rank) after ``iterations`` synchronous PageRank rounds
    over the DISTINCT directed edge set.

    Join strategy is chosen from the KNOWN node count (see
    ``_node_frame_bc``): under ``broadcast_nodes_max`` the node-sized
    rank/contribution frames are broadcast, so the cached edge table
    never re-exchanges and each iteration's only shuffle is the
    post-aggregate one; above it, the sort-merge path (the right plan
    for rank tables too big to broadcast) is unchanged.

    The returned DataFrame is a LAZY persisted chain — no action runs
    here, so the caller's first action executes the whole loop as one
    job (measured ~25% faster end-to-end than materializing inside and
    collecting separately: one fewer walk over the job graph). An
    eager-materialize-inside-a-narrowed-width-scope variant (the
    pagerank_converged width discipline) was measured in round 12 and
    REJECTED: 9.9 s → 13.1 s median at sf0.1 (OPTIMIZATION_r12.md) — the
    lazy chain's single job walk beats per-iteration width narrowing
    here because, unlike pagerank_converged, this loop has no barrier
    actions to amortize the extra walks against, and the narrowed
    post-aggregate exchanges serialize work the 32-task stages ran in
    parallel. The lazy contract stands.

    RELEASE CONTRACT (changed in round 4 — read this): the CALLER owns
    the release. Consume the result, then call
    ``release_pagerank(result)``, which unpersists every handle the
    loop pinned (edges, the degree table, and up to
    ``_PR_BARRIER_EVERY + 1`` rank tables). A bare
    ``result.unpersist()`` — the pre-round-4 contract — releases ONLY
    the returned projection's own cache; the loop-internal handles it
    used to release now require ``release_pagerank``. The projection IS persisted precisely so the
    old call is not a silent total leak, but it is no longer the full
    release. See plans/patterns.py:q_graph_pagerank."""
    # ONE exchange at build (round-13, guide §2.4): repartition(src)
    # FIRST, then distinct — hashpartitioning(src) satisfies the
    # distinct aggregate's ClusteredDistribution(src, dst) requirement
    # (equal (src,dst) pairs share a src partition), so the dedup runs
    # in place and its output KEEPS the src partitioning every
    # iteration's join needs. The pre-r13 order (distinct, then
    # repartition) shuffled the edge set twice: once on (src,dst) for
    # the dedup, once more on src for the cache.
    e = edges.select(src, dst).repartition(F.col(src)).distinct().persist()
    nodes = (
        e.select(F.col(src).alias("node"))
        .union(e.select(F.col(dst).alias("node")))
        .distinct()
    )
    # out-degree is STATIC — fold it into the node table once, so each
    # iteration's rank table carries its own deg and needs no
    # ranks ⋈ outdeg join (one fewer join per iteration). Only
    # nodes_deg is cached: the plain node set is consumed exactly once
    # here, so pinning it too would hold a redundant node-sized table
    # for the whole loop.
    outdeg = e.groupBy(F.col(src).alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    nodes_deg = (
        nodes.join(outdeg, "node", "left")
        .select("node", F.coalesce("deg", F.lit(0)).alias("deg"))
        .repartition("node")
        .persist()
    )
    n = nodes_deg.count()  # scalar driver boundary, like stats/variance.py
    bc = _node_frame_bc(n, broadcast_nodes_max)
    teleport = (1.0 - damping) / n

    ranks = nodes_deg.select(
        "node", "deg", F.round(F.lit(1.0 / n), round_dp).alias("rank")
    )
    ranks = ranks.persist()
    pending = [ranks]  # persisted-but-unreleased iteration steps
    for it in range(1, iterations + 1):
        rate = ranks.filter(F.col("deg") > 0).select(
            "node",
            F.round(F.col("rank") / F.col("deg"), round_dp)
            .cast(f"decimal(30,{round_dp})")
            .alias("c"),
        )
        contribs = (
            e.join(bc(rate), e[src] == rate.node)
            .groupBy(F.col(dst).alias("node"))
            .agg(F.sum("c").alias("mass"))
        )
        ranks = (
            nodes_deg.join(bc(contribs), "node", "left")
            .select(
                "node",
                "deg",
                F.round(
                    F.lit(teleport)
                    + F.lit(damping)
                    * F.coalesce(F.col("mass").cast("double"), F.lit(0.0)),
                    round_dp,
                ).alias("rank"),
            )
            .persist()
        )
        pending.append(ranks)
        if it % _PR_BARRIER_EVERY == 0 and it < iterations:
            # deep-iteration safety valve: truncate effective lineage
            # and bound the persisted working set
            ranks.count()
            for h in pending[:-1]:
                h.unpersist()
            pending = [ranks]
    # deg was loop plumbing — the public result is (node, rank).
    # Persisted so the OLD contract's bare result.unpersist() releases
    # at least the result's own cache (see release contract above).
    final = ranks.select("node", "rank").persist()
    final._pagerank_handles = [e, nodes_deg, *pending, final]  # type: ignore[attr-defined]
    return final


def pagerank_converged(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iterations: int = 10,
    tol: float = 1e-6,
    round_dp: int = 12,
    check_every: int = 2,
    broadcast_nodes_max: int = _BC_NODES_MAX,
) -> tuple[DataFrame, int]:
    """Full-semantics PageRank: dangling-node mass IS redistributed
    (each round every node receives d·D/N where D = Σ rank over
    out-degree-0 nodes — the textbook fix ``pagerank`` documents as
    simplified away), and the loop STOPS once the L1 rank delta
    between consecutive iterations drops under ``tol``.

    Convergence checking requires driver actions, so it rides the
    existing barrier mechanism: every ``check_every`` iterations the
    chain materializes and the L1 delta — an exact DECIMAL(30,dp) sum
    of dp-rounded per-node diffs, so both engines agree on the stop
    decision bit-for-bit — is evaluated against ``tol`` on the two
    cached frames. Between barriers no action runs.

    Dangling mass stays in the lazy plan: D is a one-row aggregate
    broadcast-crossed into the update (no driver collect), and its
    DECIMAL sum keeps the recirculated mass exact. That aggregate is a
    SECOND plan reference to the previous iteration — which doubles
    the logical plan per round (2^t subtrees; ``pagerank``'s single
    reference grows only linearly), so here the barrier does more than
    bound the persisted set: each barrier frame is an eager
    ``localCheckpoint``, truncating lineage so the plan between
    barriers holds at most 2^check_every copies of a shallow base.
    Checkpoint storage is freed by the ContextCleaner when the frame
    is dropped (barrier frames are superseded each barrier; the
    returned final frame survives ``release_pagerank`` because it is
    already materialized).

    Per-iteration join strategy and shuffle width come from the KNOWN
    node count (``_node_frame_bc`` / ``_iteration_shuffle_width``):
    under ``broadcast_nodes_max`` the node-sized rank/contribution/
    delta frames broadcast (the cached edge table never re-exchanges),
    and the iteration-loop shuffles are sized ceil(n/50k) instead of
    the session default — a no-op at graph scale, a ~40% wall-clock
    win at bench scale where 32-task stages of ~700 rows dominated.
    Unlike ``pagerank``'s lazy chain, every action here runs inside
    the loop, so the conf scope is sound (restored before return).

    Returns ``(ranks, stopped_at)``; ranks carries the same
    caller-owns-release contract as ``pagerank`` (release with
    ``release_pagerank``)."""
    # one exchange at build — see the pagerank body for why
    # repartition-then-distinct halves the build shuffles (guide §2.4)
    e = edges.select(src, dst).repartition(F.col(src)).distinct().persist()
    nodes = (
        e.select(F.col(src).alias("node"))
        .union(e.select(F.col(dst).alias("node")))
        .distinct()
    )
    outdeg = e.groupBy(F.col(src).alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    nodes_deg = (
        nodes.join(outdeg, "node", "left")
        .select("node", F.coalesce("deg", F.lit(0)).alias("deg"))
        .repartition("node")
        .persist()
    )
    n = nodes_deg.count()
    bc = _node_frame_bc(n, broadcast_nodes_max)
    teleport = (1.0 - damping) / n

    ranks = nodes_deg.select(
        "node", "deg", F.round(F.lit(1.0 / n), round_dp).alias("rank")
    ).persist()
    pending = [ranks]
    stopped_at = max_iterations
    dec = f"decimal(30,{round_dp})"
    # Width-scoping is tied to the broadcast regime: with bc active the
    # cached edge table never re-exchanges, so every per-iteration
    # shuffle really is node-sized and narrowing them is safe. In the
    # sort-merge regime (n > broadcast_nodes_max) the e ⋈ rate join
    # re-exchanges rate to match e's partitioning and the contribs
    # aggregate is edge-fed — sizing those from the NODE count would
    # throttle edge-sized exchanges (e.g. 1M nodes / 1B edges → k=20),
    # so the session width is left untouched there.
    scope = (
        _iteration_shuffle_width(edges.sparkSession, n)
        if n <= broadcast_nodes_max
        else nullcontext()
    )
    with scope:
        for it in range(1, max_iterations + 1):
            prev = ranks
            rate = ranks.filter(F.col("deg") > 0).select(
                "node",
                F.round(F.col("rank") / F.col("deg"), round_dp)
                .cast(dec)
                .alias("c"),
            )
            contribs = (
                e.join(bc(rate), e[src] == rate.node)
                .groupBy(F.col(dst).alias("node"))
                .agg(F.sum("c").alias("mass"))
            )
            dangling = ranks.filter(F.col("deg") == 0).agg(
                F.sum(F.col("rank").cast(dec)).alias("dm")
            )
            ranks = (
                nodes_deg.join(bc(contribs), "node", "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "node",
                    "deg",
                    F.round(
                        F.lit(teleport)
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("mass").cast("double"), F.lit(0.0))
                            + F.coalesce(F.col("dm").cast("double"), F.lit(0.0))
                            / n
                        ),
                        round_dp,
                    ).alias("rank"),
                )
                .persist()
            )
            pending.append(ranks)
            if it % check_every == 0 or it == max_iterations:
                # barrier: materialize AND truncate lineage (see
                # docstring — the dangling aggregate makes plan growth
                # exponential without the checkpoint)
                ranks = ranks.localCheckpoint(eager=True)
                cur, prv = ranks.alias("cur"), prev.alias("prv")
                delta = (
                    cur.join(bc(prv), "node")
                    .agg(
                        F.sum(
                            F.round(
                                F.abs(F.col("cur.rank") - F.col("prv.rank")),
                                round_dp,
                            ).cast(dec)
                        ).alias("d")
                    )
                    .first()[0]
                )
                for h in pending:
                    h.unpersist()
                pending = []
                if delta is not None and float(delta) < tol:
                    stopped_at = it
                    break
    final = ranks.select("node", "rank")
    final._pagerank_handles = [e, nodes_deg, *pending]  # type: ignore[attr-defined]
    return final, stopped_at


def release_pagerank(result: DataFrame) -> None:
    """Unpersist every cache pinned by a ``pagerank`` call, given the
    EXACT DataFrame it returned. Safe to call more than once on that
    frame. Raises on any other DataFrame — the handles ride on the
    returned object, so a derived frame (``pagerank(e).filter(...)``)
    silently drops them; failing loudly here beats leaking ~8 persisted
    tables with no symptom."""
    if not hasattr(result, "_pagerank_handles"):
        raise ValueError(
            "release_pagerank: not the DataFrame returned by pagerank() "
            "(derived frames drop the cache handles — keep the original "
            "reference and release that)"
        )
    for h in result._pagerank_handles:  # type: ignore[attr-defined]
        h.unpersist()
    result._pagerank_handles = ()  # type: ignore[attr-defined]


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


@contextmanager
def pagerank_scope(edges: DataFrame, **kwargs) -> Iterator[DataFrame]:
    """``with pagerank_scope(edges, iterations=5) as ranks:`` — the
    leak-proof form of the caller-owns-release contract (round-5
    verdict #6): the handles ride on the yielded frame, and the
    context exit releases them even when the body raises. Misuse that
    ``release_pagerank`` can only DETECT (holding a derived frame,
    forgetting the release on an error path) is impossible here
    because the original frame never leaves the manager's custody.
    Consume the result inside the block — its caches are gone after.
    """
    result = pagerank(edges, **kwargs)
    try:
        yield result
    finally:
        release_pagerank(result)


@contextmanager
def pagerank_converged_scope(
    edges: DataFrame, **kwargs
) -> Iterator[tuple[DataFrame, int]]:
    """``with pagerank_converged_scope(edges, tol=1e-6) as (ranks,
    stopped_at):`` — context-managed ``pagerank_converged``, same
    release guarantee as ``pagerank_scope``."""
    result, stopped_at = pagerank_converged(edges, **kwargs)
    try:
        yield result, stopped_at
    finally:
        release_pagerank(result)


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
    plans/patterns.py:q_graph_triangles pattern)."""
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


def k_core(
    edges: DataFrame,
    *,
    k: int,
    u: str = "u",
    v: str = "v",
    max_rounds: int = 10,
    symmetric: bool = False,
    broadcast_nodes_max: int = _BC_NODES_MAX,
) -> DataFrame:
    """(vertex, core_degree): the k-core of a simple undirected graph
    (DISTINCT pairs, each edge once, any endpoint order) — the maximal
    subgraph where every vertex keeps degree ≥ k, found by iterative
    PEELING: drop all vertices with degree < k, recompute degrees in
    what remains, repeat to fixpoint. The classic cohesion filter
    (spam rings, dense co-occurrence cores, community scaffolds) and
    the fifth iterative-relational graph workload here, alongside
    PageRank, triangles, connected components, and pointer doubling.

    Per round: two semi-joins restrict the (symmetrized, persisted,
    src-partitioned) edge set to surviving endpoints, one degree
    aggregate, one filter — all node/edge-sized, no driver data.
    The survivor set is node-sized and its count is already taken
    every round for the fixpoint test, so while it stays under
    ``broadcast_nodes_max`` both semi-joins broadcast it — the edge
    set then never re-exchanges AND the degree groupBy(_s) reuses the
    cached src-partitioning, making a whole peel round shuffle-free
    (same known-size gate as pagerank; above the bound the shuffle
    semi-join path is unchanged). The
    survivor set shrinks MONOTONICALLY, so the fixpoint test is one
    count comparison per round (a scalar driver boundary; peeling
    depth on thresholded co-occurrence graphs is a handful of rounds).
    Each round references the survivor frame twice (both endpoint
    semi-joins) — the doubled-lineage shape — so every round's
    survivor set materializes through an eager localCheckpoint, the
    pagerank_converged discipline.

    ``max_rounds`` bounds the number of SHRINKING rounds; the loop
    runs up to max_rounds + 1 iterations because detecting the
    fixpoint takes one extra (stable) iteration after the last shrink
    — so a peel of depth exactly max_rounds still converges, matching
    an oracle that unrolls max_rounds rounds (idempotent past the
    fixpoint; round-6 review catch on the off-by-one). Raises if the
    budget is exhausted before the fixpoint: a silently-unconverged
    core is a wrong answer, not a result (callers on deep-peeling
    graphs raise the budget; each extra round is cheap)."""
    # ``symmetric=True`` declares edges ALREADY contain both directions
    # of every edge, distinct — callers that built the symmetric set
    # for their own degree statistics skip a redundant union+distinct
    # shuffle here (round-6 review finding)
    directed = edges.select(F.col(u).alias("_s"), F.col(v).alias("_d"))
    # one exchange at build (guide §2.4, round-13): repartitioning by
    # the loop's join key FIRST lets the distinct dedup in place
    # (hashpartitioning(key) satisfies ClusteredDistribution(_s, _d))
    # and keeps that partitioning in the cache — the old order paid a
    # second full edge shuffle for the same layout.
    sym = (
        directed.repartition(F.col("_s"))
        if symmetric
        else directed.union(
            edges.select(F.col(v).alias("_s"), F.col(u).alias("_d"))
        ).repartition(F.col("_s")).distinct()
    ).persist()
    alive = sym.select(F.col("_s").alias("vertex")).distinct().localCheckpoint(
        eager=True
    )
    n_alive = alive.count()
    for _ in range(max_rounds + 1):
        bc = _node_frame_bc(n_alive, broadcast_nodes_max)
        deg = (
            sym.join(bc(alive), sym["_s"] == alive["vertex"], "left_semi")
            .join(
                bc(alive.select(F.col("vertex").alias("_dv"))),
                F.col("_d") == F.col("_dv"),
                "left_semi",
            )
            .groupBy(F.col("_s").alias("vertex"))
            .agg(F.count(F.lit(1)).alias("core_degree"))
        )
        survivors = deg.filter(F.col("core_degree") >= k).localCheckpoint(
            eager=True
        )
        n_next = survivors.count()
        alive = survivors.select("vertex")
        if n_next == n_alive:
            sym.unpersist()
            # the last degree table IS the in-core degree (computed
            # among exactly the surviving vertices)
            return survivors
        n_alive = n_next
        if n_next == 0:
            sym.unpersist()
            return survivors
    sym.unpersist()
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
    symmetric: bool = False,
    broadcast_nodes_max: int = _BC_NODES_MAX,
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
    table is node-sized and counted once, so under
    ``broadcast_nodes_max`` it broadcasts and the cached edge set
    never re-exchanges — the pagerank gate), one (vertex, label)
    count, and the per-vertex top-1 taken by a ``min(struct(-n,
    label))`` aggregate rather than a row_number window: the same
    deterministic total order (count desc, label asc) as a partial-
    aggregable hash agg — map-side combine, no per-partition sort,
    and no window exchange. The label table is materialized per
    round through an eager localCheckpoint (linear, not exponential,
    lineage)."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    directed = edges.select(F.col(u).alias("_s"), F.col(v).alias("_d"))
    # one exchange at build (guide §2.4, round-13): repartitioning by
    # the loop's join key FIRST lets the distinct dedup in place
    # (hashpartitioning(key) satisfies ClusteredDistribution(_s, _d))
    # and keeps that partitioning in the cache — the old order paid a
    # second full edge shuffle for the same layout.
    sym = (
        directed.repartition(F.col("_d"))
        if symmetric
        else directed.union(
            edges.select(F.col(v).alias("_s"), F.col(u).alias("_d"))
        ).repartition(F.col("_d")).distinct()
    ).persist()
    labels = (
        sym.select(F.col("_s").alias("vertex"))
        .distinct()
        .select("vertex", F.col("vertex").alias("label"))
        .localCheckpoint(eager=True)
    )
    n = labels.count()
    bc = _node_frame_bc(n, broadcast_nodes_max)
    # Width scope (round-12, re-sized round-13): in the broadcast regime
    # both per-round exchanges — the (vertex, label) count partials and
    # the top-1 re-aggregate — are bounded by the DISTINCT (vertex,
    # neighbor-label) pair count, which is EDGE-bound in early rounds
    # (round 1: exactly the distinct directed edge count), not node-
    # bound (r12 advice: a dense graph just under the node gate would
    # have pushed an edge-sized shuffle through ceil(n/50k) partitions).
    # So the width is sized from the symmetric edge count m — one extra
    # count over the already-persisted-and-materialized sym cache —
    # while the broadcast gate stays on n (it bounds the label TABLE).
    # Sound here because every action (the per-round eager checkpoints)
    # runs inside the loop; sym was already materialized at session
    # width by the labels checkpoint above. Above the gate the session
    # width is untouched (the sym ⋈ labels exchange is edge-fed there).
    scope = (
        _iteration_shuffle_width(edges.sparkSession, sym.count())
        if n <= broadcast_nodes_max
        else nullcontext()
    )
    with scope:
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
    sym.unpersist()
    return labels


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    u: str = "u",
    v: str = "v",
    seed_col: str = "vertex",
    max_hops: int = 8,
    symmetric: bool = False,
    broadcast_nodes_max: int = _BC_NODES_MAX,
) -> DataFrame:
    """(vertex, dist): minimum hop count from ANY seed vertex over an
    undirected graph, up to ``max_hops`` — multi-source BFS, the
    reachability/radius primitive (blast-radius of a bad upstream
    source, supplier-network distance, social-hop features) that
    completes the iterative-graph family here (PageRank mass flow,
    triangle closure, CC labels, k-core peeling, pointer doubling —
    none of which answer "how FAR").

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
    far. Each frontier materializes through an eager localCheckpoint
    (constant-size plans over any number of rounds, the
    pagerank_converged discipline); the per-level frames union once
    at the end.

    Seeds absent from the edge set still appear at dist 0 (a seed IS
    at distance zero of itself whether or not it has edges). Vertices
    unreached within ``max_hops`` are absent — the loop exits early on
    an empty frontier, which is idempotent with an oracle that unrolls
    exactly ``max_hops`` rounds."""
    from functools import reduce

    directed = edges.select(F.col(u).alias("_s"), F.col(v).alias("_d"))
    # one exchange at build (guide §2.4, round-13): repartitioning by
    # the loop's join key FIRST lets the distinct dedup in place
    # (hashpartitioning(key) satisfies ClusteredDistribution(_s, _d))
    # and keeps that partitioning in the cache — the old order paid a
    # second full edge shuffle for the same layout.
    sym = (
        directed.repartition(F.col("_s"))
        if symmetric
        else directed.union(
            edges.select(F.col(v).alias("_s"), F.col(u).alias("_d"))
        ).repartition(F.col("_s")).distinct()
    ).persist()
    frontier = (
        seeds.select(F.col(seed_col).alias("vertex"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # frontiers are node-sized and each is counted anyway (the
    # empty-frontier exit), so under broadcast_nodes_max the semi- and
    # anti-join sides broadcast and the cached edge set never
    # re-exchanges — the pagerank gate, re-evaluated per level as the
    # frontier grows/shrinks
    n_frontier = frontier.count()
    levels = [frontier.select("vertex", F.lit(0).cast("long").alias("dist"))]
    # Width scope (round-12): the one per-level exchange (the candidate
    # distinct) outputs AT MOST the vertex total, so gate + size the
    # loop's shuffle width from n_nodes — NOT from the frontier, whose
    # size bounds the broadcasts but not the distinct's output. The
    # count doubles as the pre-scope materialization of the edge cache
    # (its distinct aggregate computes sym at session width). Sound:
    # every action (per-level checkpoints + counts) runs in the loop.
    # When the session width is already 1 (or unreadable) narrowing is
    # a no-op, so the count job is skipped outright (r12 advice: it was
    # pure added cost in that regime; the first level's candidate
    # checkpoint materializes the edge cache instead).
    try:
        _sess_w = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        _sess_w = 1
    if _sess_w > 1:
        n_nodes = sym.select("_s").distinct().count()
        scope = (
            _iteration_shuffle_width(edges.sparkSession, n_nodes)
            if n_nodes <= broadcast_nodes_max
            else nullcontext()
        )
    else:
        scope = nullcontext()
    prev2, n_prev2 = None, 0
    with scope:
        for h in range(1, max_hops + 1):
            bc = _node_frame_bc(n_frontier, broadcast_nodes_max)
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
                    _node_frame_bc(n_prev2, broadcast_nodes_max)(prev2),
                    "vertex",
                    "left_anti",
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
    sym.unpersist()
    return reduce(lambda a, b: a.union(b), levels)


def flatten_hierarchy(
    nodes: DataFrame,
    *,
    node_col: str = "node",
    parent_col: str = "parent",
    max_depth: int = 64,
    broadcast_nodes_max: int = _BC_NODES_MAX,
) -> DataFrame:
    """(node, root, depth) over a parent-pointer forest (parent NULL ⇒
    root) by POINTER DOUBLING: each round replaces every node's
    ancestor pointer with its ancestor's ancestor and adds the hop
    counts, so ceil(log2(max_depth)) rounds flatten any hierarchy the
    depth bound covers — the scalable org-chart/taxonomy/thread
    flatten (one-level-per-round needs depth rounds; at depth 10^4
    that difference is the whole game).

    Each round joins the state table with ITSELF — two plan references
    per round, the exponential-lineage shape pagerank_converged
    documents — so every round materializes through an eager
    localCheckpoint: log-many barrier writes of a node-sized table.

    The state table is node-sized and counted once (rows never change:
    pointers mutate, rows don't), so under ``broadcast_nodes_max`` the
    self-join's probe side broadcasts — zero exchanges per round (the
    pagerank gate, round-12); above the gate the sort-merge self-join
    is the right plan for state tables too big to broadcast, unchanged.
    PRECONDITION (implied by "rows never change", stated per r12
    advice): ``node_col`` ids must be UNIQUE. Duplicate ids would grow
    the row count each round through the self-join while the broadcast
    decision stays pinned to the initial count — though duplicates
    already produced undefined (node, root, depth) results before the
    gate existed, so this documents, not changes, the contract.

    Nodes whose ancestor chain exceeds max_depth keep a non-root
    ancestor (detectable: join result's root has a parent); raise
    max_depth for deeper forests. A parent id ABSENT from the input
    (a filtered sub-org, a dangling pointer) is treated as a terminal:
    the chain stops there via the LEFT self-join, so the subtree
    survives with root = the missing id — detectable by joining roots
    back against the node set, never silent row loss."""
    import math

    state = nodes.select(
        F.col(node_col).alias("node"),
        F.coalesce(F.col(parent_col), F.col(node_col)).alias("anc"),
        F.when(F.col(parent_col).isNull(), F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("depth"),
    ).localCheckpoint(eager=True)
    bc = _node_frame_bc(state.count(), broadcast_nodes_max)
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
