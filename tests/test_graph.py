"""Graph operators (operators/graph.py, dedup/components.py):
hand-checkable structure on tiny graphs, determinism, mass behavior,
cache release, the sort-merge side of the broadcast gate, empty input,
and the row-sized width of the kit's cached tables. Value parity with
the unrolled DuckDB replays is the catalog oracles' job."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_analysis_of_airline_data_set_spark.dedup.components import (
    connected_components,
)
from big_data_analysis_of_airline_data_set_spark.operators import graph
from big_data_analysis_of_airline_data_set_spark.operators.graph import (
    bfs_distances,
    flatten_hierarchy,
    k_core,
    label_propagation,
    orient_by_degree,
    pagerank,
    pagerank_converged,
    triangle_counts,
)
from big_data_analysis_of_airline_data_set_spark.plans import all_queries


def _pagerank_rows(edges, **kwargs):
    with pagerank(edges, **kwargs) as ranks:
        return ranks.collect()


def _converged_rows(edges, **kwargs):
    with pagerank_converged(edges, **kwargs) as (ranks, stopped):
        return ranks.collect(), stopped


@pytest.fixture(scope="module")
def star_ranks(spark):
    # star: every leaf points at 'hub'; hub points at 'a'
    edges = spark.createDataFrame(
        [("a", "hub"), ("b", "hub"), ("c", "hub"), ("d", "hub"), ("hub", "a")],
        "src string, dst string",
    )
    return {r.node: r.rank for r in _pagerank_rows(edges, iterations=10)}


def test_hub_dominates(star_ranks):
    # hub and 'a' trade the recirculating mass (hub→a→hub), so both sit
    # far above the teleport-only leaves; synchronous iteration parity
    # decides which of the two is momentarily ahead — assert the stable
    # ordering, not the oscillating one
    assert star_ranks["hub"] > star_ranks["b"]
    assert star_ranks["a"] > star_ranks["b"]
    assert star_ranks["b"] == star_ranks["c"] == star_ranks["d"]


def test_ranks_positive_and_bounded(star_ranks):
    for v in star_ranks.values():
        assert 0.0 < v < 1.0


def test_deterministic_across_runs(spark):
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 3) % 7}") for i in range(20)],
        "src string, dst string",
    )
    a = sorted((r.node, r.rank) for r in _pagerank_rows(edges, iterations=4))
    b = sorted((r.node, r.rank) for r in _pagerank_rows(edges, iterations=4))
    assert a == b


def test_uniform_cycle_stays_uniform(spark):
    # directed 4-cycle: perfectly symmetric → every node keeps rank 1/4
    edges = spark.createDataFrame(
        [("w", "x"), ("x", "y"), ("y", "z"), ("z", "w")],
        "src string, dst string",
    )
    ranks = {r.node: r.rank for r in _pagerank_rows(edges, iterations=6)}
    for v in ranks.values():
        assert abs(v - 0.25) < 1e-9


def test_converged_mass_conservation_with_dangling(spark):
    # star with a dangling hub successor: 'sink' has no out-edges, so
    # every round redistributes its mass; with redistribution total
    # rank mass stays 1 (the simplified pagerank() leaks it)
    edges = spark.createDataFrame(
        [("a", "sink"), ("b", "sink"), ("c", "sink"), ("sink2", "a")],
        "src string, dst string",
    )
    rows, stopped = _converged_rows(edges, max_iterations=6, tol=0.0)
    assert stopped == 6  # tol=0 never triggers the early exit
    assert abs(sum(r.rank for r in rows) - 1.0) < 1e-6


def test_converged_early_stop_on_fixed_point(spark):
    # symmetric directed 4-cycle is a fixed point from the uniform
    # start: delta is ~0 at the first barrier → stops at iteration 2
    edges = spark.createDataFrame(
        [("w", "x"), ("x", "y"), ("y", "z"), ("z", "w")],
        "src string, dst string",
    )
    rows, stopped = _converged_rows(edges, max_iterations=10, tol=1e-9)
    assert stopped == 2
    for r in rows:
        assert abs(r.rank - 0.25) < 1e-9


def test_converged_deterministic_across_runs(spark):
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 3) % 7}") for i in range(20)],
        "src string, dst string",
    )
    out = []
    for _ in range(2):
        rows, stopped = _converged_rows(edges, max_iterations=4, tol=0.0)
        out.append((stopped, sorted((r.node, r.rank) for r in rows)))
    assert out[0] == out[1]


def test_triangle_counts_known_graph(spark):
    # K4 on {1,2,3,4} plus a pendant 5: C(4,3)=4 triangles; each K4
    # vertex sits in C(3,2)=3 of them; the pendant in none.
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "u long, v long")
    got = {r.vertex: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    assert sum(got.values()) // 3 == 4


def test_triangle_counts_triangle_free(spark):
    # even cycle: 1-2-3-4-1 has no triangles
    df = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (1, 4)], "u long, v long")
    assert triangle_counts(df).count() == 0


def test_flatten_hierarchy_pointer_doubling(spark):
    # two trees: 1←2←3←4 (chain, root 1) and 10 alone
    rows = [(1, None), (2, 1), (3, 2), (4, 3), (10, None)]
    df = spark.createDataFrame(rows, "node long, parent long")
    got = {r.node: (r.root, r.depth) for r in flatten_hierarchy(df).collect()}
    assert got == {
        1: (1, 0), 2: (1, 1), 3: (1, 2), 4: (1, 3), 10: (10, 0),
    }


def test_flatten_hierarchy_deep_chain_log_rounds(spark):
    # 33-deep chain needs 6 doubling rounds (2^6 = 64 ≥ 33); the
    # default max_depth=64 must resolve it fully
    rows = [(0, None)] + [(i, i - 1) for i in range(1, 34)]
    df = spark.createDataFrame(rows, "node long, parent long")
    got = {r.node: (r.root, r.depth) for r in flatten_hierarchy(df).collect()}
    assert got[33] == (0, 33)
    assert all(got[i] == (0, i) for i in range(34))


def _wedge_count(oriented_df) -> int:
    """# of directed 2-paths a→b→c in an oriented edge set — the
    intermediate the wedge closure materializes before the closing
    join, i.e. the quantity degree ordering exists to bound."""
    e1 = oriented_df.select(F.col("s").alias("a"), F.col("t").alias("b"))
    e2 = oriented_df.select(F.col("s").alias("b"), F.col("t").alias("c"))
    return e1.join(e2, "b").count()


def test_triangle_degree_ordering_bounds_hub_fanout(spark):
    """Round-5 verdict #2 pin: on a hub graph whose hub id sits in the
    middle of the id range, id ordering funnels indeg×outdeg = 10×10 =
    100 wedges through the hub, while (degree, id) ordering points
    every hub edge INTO the hub (outdeg 0) leaving exactly the 2
    wedges that close into real triangles. Counts are exact, not
    bounds — a regression in the orientation changes them."""
    hub = 10
    edges = [(i, hub) for i in range(10)] + [(hub, j) for j in range(11, 21)]
    edges += [(0, 11), (1, 12)]  # close two triangles through the hub
    df = spark.createDataFrame(edges, "u long, v long")

    # id orientation = the pre-round-6 plan (input pairs are already
    # id-ordered here, so the identity projection replays it)
    id_oriented = df.select(F.col("u").alias("s"), F.col("v").alias("t"))
    deg_oriented = orient_by_degree(df)
    assert _wedge_count(id_oriented) == 100
    assert _wedge_count(deg_oriented) == 2

    got = {r.vertex: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == {0: 1, 1: 1, hub: 2, 11: 1, 12: 1}


def test_triangle_counts_invariant_to_input_endpoint_order(spark):
    """orient_by_degree imposes its own total order, so the input may
    list each undirected edge with either endpoint first."""
    fwd = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    rev = [(v, u) for u, v in fwd]
    a = {r.vertex: r.n_triangles
         for r in triangle_counts(spark.createDataFrame(fwd, "u long, v long")).collect()}
    b = {r.vertex: r.n_triangles
         for r in triangle_counts(spark.createDataFrame(rev, "u long, v long")).collect()}
    assert a == b == {1: 3, 2: 3, 3: 3, 4: 3}


def test_pagerank_scope_releases_even_on_error(spark):
    """Leaving a ``with pagerank(...)`` or ``with pagerank_converged(...)``
    block unpersists the loop's caches, also when the block raises."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    # the loop's edge-table plan: its cache entry is visible through it
    probe = (
        edges.select(F.col("src").alias("_s"), F.col("dst").alias("_d"))
        .repartition(F.col("_s"))
        .distinct()
    )
    with pytest.raises(RuntimeError, match="boom"):
        with pagerank(edges, iterations=2) as ranks:
            assert ranks.count() == 2
            assert probe.storageLevel.useMemory
            raise RuntimeError("boom")
    assert not probe.storageLevel.useMemory
    with pytest.raises(RuntimeError, match="boom"):
        with pagerank_converged(edges, max_iterations=2) as (ranks, stopped):
            assert ranks.count() == 2 and stopped == 2
            assert probe.storageLevel.useMemory
            raise RuntimeError("boom")
    assert not probe.storageLevel.useMemory


def test_k_core_hand_checked(spark):
    # K4 on {1,2,3,4} + pendant 5 + a 2-path 6-7: the 2-core is exactly
    # the K4 (each vertex keeps degree 3); the pendant and the path
    # peel (the path cascades: 6 and 7 have degree 1 after each other)
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (6, 7)]
    df = spark.createDataFrame(edges, "u long, v long")
    got = {r.vertex: r.core_degree for r in k_core(df, k=2).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_k_core_cascade_to_empty(spark):
    # a path: every removal exposes a new degree-1 endpoint — the
    # cascade must run to the empty fixpoint, not stop early
    edges = [(i, i + 1) for i in range(6)]
    df = spark.createDataFrame(edges, "u long, v long")
    assert k_core(df, k=2).count() == 0


def test_k_core_raises_when_rounds_exhausted(spark):
    # the 6-path cascade needs 3 peel rounds at k=2; a 1-round budget
    # must raise, never return a half-peeled 'core'
    edges = [(i, i + 1) for i in range(6)]
    df = spark.createDataFrame(edges, "u long, v long")
    with pytest.raises(RuntimeError, match="fixpoint"):
        k_core(df, k=2, max_rounds=1)


def test_k_core_symmetric_input_matches_undirected(spark):
    """symmetric=True over a pre-symmetrized edge set must equal the
    plain undirected call (it only skips the internal union+distinct)."""
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "u long, v long")
    sym = df.union(df.select(F.col("v").alias("u"), F.col("u").alias("v")))
    a = {r.vertex: r.core_degree for r in k_core(df, k=2).collect()}
    b = {r.vertex: r.core_degree
         for r in k_core(sym, k=2, symmetric=True).collect()}
    assert a == b == {1: 3, 2: 3, 3: 3, 4: 3}


_EDGES = [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (3, 4), (6, 7)]
_FOREST = [(1, None), (2, 1), (3, 2), (4, 3), (5, None), (6, 5)]


def _op_result(spark, name, *, empty=False, cached=False):
    """Comparable result of graph operator ``name`` on a small fixed
    graph (or on empty input); BFS seeds at vertex 1 either way. A
    ``cached`` input makes the loops size their edge tables from its
    row count (one partition here) instead of the session width."""
    e = spark.createDataFrame([] if empty else _EDGES, "u long, v long")
    if cached:
        e = e.persist()
    try:
        return _run_op(spark, name, e, empty)
    finally:
        e.unpersist()


def _run_op(spark, name, e, empty):
    if name == "pagerank":
        return sorted(_pagerank_rows(e, src="u", dst="v", iterations=5))
    if name == "pagerank_converged":
        rows, stopped = _converged_rows(
            e, src="u", dst="v", max_iterations=6, tol=1e-9
        )
        return sorted(rows), stopped
    if name == "k_core":
        return sorted(k_core(e, k=2).collect())
    if name == "label_propagation":
        return sorted(label_propagation(e).collect())
    if name == "bfs_distances":
        seeds = spark.createDataFrame([(1,)], "vertex long")
        return sorted(bfs_distances(e, seeds).collect())
    if name == "flatten_hierarchy":
        forest = spark.createDataFrame(
            [] if empty else _FOREST, "node long, parent long"
        )
        return sorted(flatten_hierarchy(forest).collect())
    if name == "connected_components":
        nodes = e.select(F.col("u").alias("id")).union(e.select("v")).distinct()
        return sorted(
            connected_components(nodes, e, src_col="u", dst_col="v").collect()
        )
    assert name == "triangle_counts"
    return sorted(triangle_counts(e).collect())


_GATED = [
    "pagerank",
    "pagerank_converged",
    "k_core",
    "label_propagation",
    "bfs_distances",
    "flatten_hierarchy",
]


@pytest.mark.parametrize("name", _GATED)
def test_sort_merge_path_matches_broadcast_path(spark, monkeypatch, name):
    """With the node-count gate closed (``_BC_NODES_MAX = 0``) every gated
    operator takes the unhinted join path and returns the broadcast
    path's result, over a session-width edge table and over one sized
    from a cached input; every run restores the shuffle width."""
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    broadcast = _op_result(spark, name)
    assert _op_result(spark, name, cached=True) == broadcast
    assert spark.conf.get("spark.sql.shuffle.partitions") == saved
    monkeypatch.setattr(graph, "_BC_NODES_MAX", 0)
    assert _op_result(spark, name) == broadcast
    assert _op_result(spark, name, cached=True) == broadcast
    assert spark.conf.get("spark.sql.shuffle.partitions") == saved


@pytest.mark.parametrize(
    "name", [*_GATED, "connected_components", "triangle_counts"]
)
def test_operator_on_empty_input(spark, name):
    """Empty input, cached or not, gives an empty result — BFS keeps its
    seed at dist 0, and pagerank_converged stops at iteration 0."""
    want = {"bfs_distances": [(1, 0)], "pagerank_converged": ([], 0)}
    assert _op_result(spark, name, empty=True) == want.get(name, [])
    assert _op_result(spark, name, empty=True, cached=True) == want.get(name, [])


def _tasks(spark, run) -> int:
    """Tasks Spark ran for ``run()``, from the status store's job
    records (per-stage records can already be evicted in a long
    session; the job's own counts cannot)."""
    sc, group = spark.sparkContext, "k-core-tasks"
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc._jsc.clearJobGroup()
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    return sum(
        d.numTasks() - d.numSkippedTasks()
        for d in (jsc.statusStore().job(j) for j in jobs)
    )


def test_k_core_query_tasks_sized_from_rows(spark, sf_dir):
    """``graph_k_core`` at sf0.001 caches its co-occurrence table, its
    symmetric edge set and the loop's edge table at the partition count
    their few hundred rows need, not the session width: a warm call
    (co table already cached) runs at most 40 tasks. Cached at the
    session width every peel round scans every partition several times
    over (125 tasks per call at width 8, 485 at width 32)."""
    q = all_queries()["graph_k_core"].fn
    q(spark, sf_dir).collect()  # builds the session's co table
    assert _tasks(spark, lambda: q(spark, sf_dir).collect()) <= 40


def test_edge_table_sized_only_from_a_cached_input(spark):
    """A cached input is counted and sizes the table; an uncached one
    keeps the session width (its lineage is never run just to size)."""
    e = spark.createDataFrame(_EDGES, "u long, v long")
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with graph._edge_table(e, "u", "v") as sym:
        assert sym.rdd.getNumPartitions() == width
    e = e.persist()
    try:
        with graph._edge_table(e, "u", "v") as sym:
            assert sym.rdd.getNumPartitions() == 1
            assert sorted(sym.collect()) == sorted(
                [(a, b) for a, b in _EDGES] + [(b, a) for a, b in _EDGES]
            )
    finally:
        e.unpersist()


def test_broadcast_peel_round_has_no_shuffle(spark):
    """Under the broadcast gate a k-core peel round over the sized edge
    table is shuffle-free: both semi-joins broadcast the survivors and
    the degree aggregate reuses the table's _s partitioning."""
    e = spark.createDataFrame(_EDGES, "u long, v long").persist()
    try:
        with graph._edge_table(e, "u", "v") as sym:
            alive = sym.select(F.col("_s").alias("vertex")).distinct()
            alive = alive.localCheckpoint(eager=True)
            rnd = graph._peel_round(sym, alive, alive.count(), k=2)
            nodes = _node_names(rnd._jdf.queryExecution().executedPlan())
    finally:
        e.unpersist()
    assert "BroadcastExchange" in nodes and "InMemoryTableScan" in nodes
    assert "Exchange" not in nodes


def _node_names(plan) -> list[str]:
    """Operator names of a physical plan, AQE's initial plan included,
    not descending into a cache scan (its build plan is not the
    round's)."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        return _node_names(plan.executedPlan())
    if name == "InMemoryTableScan":
        return [name]
    kids = plan.children()
    return [name] + [
        n for i in range(kids.size()) for n in _node_names(kids.apply(i))
    ]
