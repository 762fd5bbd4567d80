"""Unit + oracle-parity tests for HLL set algebra (plans/patterns.py),
multi-source BFS and label propagation (plans/graph_queries.py),
Welch's t and Mann-Whitney U (plans/experiments.py), RFM quartiles
and the event-series readouts (plans/events_queries.py), and
two-feature OLS, Gini and Pareto coverage (plans/statistics.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_analysis_of_airline_data_set_spark.plans import all_queries
from tests.oracle_harness import check_query

NEW_OPS = [
    "sketch_hll_set_ops",
    "stats_welch_ttest",
    "events_rfm_segments",
    "stats_multi_ols",
]


@pytest.mark.parametrize("name", NEW_OPS)
def test_oracle_parity(spark, name, sf_dir):
    check_query(spark, all_queries()[name], sf_dir)


# --------------------- bfs_distances unit ---------------------


def test_bfs_distances_path_graph(spark):
    from big_data_analysis_of_airline_data_set_spark.operators.graph import (
        bfs_distances,
    )

    # path 1-2-3-4-5 plus isolated edge 8-9; seed at 2 and at the
    # edge-less vertex 7
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)], "u long, v long"
    )
    seeds = spark.createDataFrame([(2,), (7,)], "vertex long")
    got = {
        r["vertex"]: r["dist"]
        for r in bfs_distances(edges, seeds, max_hops=8).collect()
    }
    # 7 has no edges but is a seed: dist 0; 8/9 unreached: absent
    assert got == {2: 0, 7: 0, 1: 1, 3: 1, 4: 2, 5: 3}


def test_bfs_distances_hop_budget(spark):
    from big_data_analysis_of_airline_data_set_spark.operators.graph import (
        bfs_distances,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "u long, v long"
    )
    seeds = spark.createDataFrame([(1,)], "vertex long")
    got = {
        r["vertex"]: r["dist"]
        for r in bfs_distances(edges, seeds, max_hops=2).collect()
    }
    # vertex 4 is 3 hops out — beyond the budget, absent not wrong
    assert got == {1: 0, 2: 1, 3: 2}


# --------------------- hll_set_ops unit ---------------------


def test_hll_set_ops_disjoint_and_identical(spark):
    from big_data_analysis_of_airline_data_set_spark.sketches.hll import (
        hll_set_ops,
    )

    rows = [("a", i) for i in range(200)] + [("b", i) for i in range(200)]
    rows += [("c", i) for i in range(1000, 1200)]
    df = spark.createDataFrame(rows, "g string, v long")
    out = {
        (r["group_a"], r["group_b"]): r
        for r in hll_set_ops(df, group_col="g", value_col="v").collect()
    }
    ab = out[("a", "b")]
    # identical sets: identical sketches, union = each, Jaccard exactly 1
    assert ab["exact_intersection"] == 200 and ab["exact_union"] == 200
    assert ab["est_a"] == ab["est_b"] == ab["est_union"]
    assert ab["est_jaccard"] == pytest.approx(1.0)
    ac = out[("a", "c")]
    # disjoint sets: exact intersection 0; the estimate may wobble
    # around 0 (inclusion-exclusion error) but the union is ~2x a set
    assert ac["exact_intersection"] == 0 and ac["exact_union"] == 400
    assert ac["est_union"] > ac["est_a"]


# --------------------- welch_t_test unit ---------------------


def test_welch_degenerate_and_symmetric(spark):
    from big_data_analysis_of_airline_data_set_spark.stats.regression import (
        welch_t_test,
    )

    rows = (
        [("sym", 0, float(v)) for v in (1, 2, 3, 4)]
        + [("sym", 1, float(v)) for v in (1, 2, 3, 4)]
        + [("tiny", 0, 1.0)]  # n_a = 1 -> variance undefined
        + [("tiny", 1, 2.0), ("tiny", 1, 3.0)]
        + [("null", 0, None), ("null", 0, 5.0), ("null", 1, 6.0)]
    )
    df = spark.createDataFrame(rows, "g string, seg int, value double")
    out = {
        r["g"]: r
        for r in welch_t_test(
            df,
            group_cols=["g"],
            segment_col=F.col("seg"),
            value_col="value",
            seg_a=0,
            seg_b=1,
        ).collect()
    }
    assert out["sym"]["t_stat"] == pytest.approx(0.0)
    assert out["sym"]["n_a"] == out["sym"]["n_b"] == 4
    assert out["tiny"]["t_stat"] is None and out["tiny"]["dof"] is None
    # NULL metric rows are excluded from n, not counted as observations
    assert out["null"]["n_a"] == 1


# --------------------- group_ols2 unit ---------------------


def test_group_ols2_recovers_plane(spark):
    from big_data_analysis_of_airline_data_set_spark.stats.regression import (
        group_ols2,
    )

    # exact plane y = 2 + 3*x1 - 0.5*x2 on a non-degenerate design
    pts = [
        (float(x1), float(x2), 2.0 + 3.0 * x1 - 0.5 * x2)
        for x1 in range(5)
        for x2 in range(4)
    ]
    df = spark.createDataFrame(
        [("g", *p) for p in pts], "g string, x1 double, x2 double, y double"
    )
    row = group_ols2(
        df, group_cols=["g"], x1_col="x1", x2_col="x2", y_col="y"
    ).collect()[0]
    assert row["b0"] == pytest.approx(2.0, abs=1e-6)
    assert row["b1"] == pytest.approx(3.0, abs=1e-6)
    assert row["b2"] == pytest.approx(-0.5, abs=1e-6)
    assert row["r2"] == pytest.approx(1.0, abs=1e-6)


def test_group_ols2_collinear_is_null(spark):
    from big_data_analysis_of_airline_data_set_spark.stats.regression import (
        group_ols2,
    )

    # x2 = 2*x1 exactly -> singular normal equations -> NULL solve
    pts = [(float(x), 2.0 * x, float(x)) for x in range(6)]
    df = spark.createDataFrame(
        [("g", *p) for p in pts], "g string, x1 double, x2 double, y double"
    )
    row = group_ols2(
        df, group_cols=["g"], x1_col="x1", x2_col="x2", y_col="y"
    ).collect()[0]
    assert row["b0"] is None and row["b1"] is None and row["b2"] is None


# --------------------- RFM unit ---------------------


def test_rfm_quartiles_balanced(spark, sf_dir):
    out = all_queries()["events_rfm_segments"].fn(spark, sf_dir).toPandas()
    n = len(out)
    assert n > 0
    for col in ("r_q", "f_q", "m_q"):
        counts = out[col].value_counts()
        assert set(counts.index) <= {1, 2, 3, 4}
        # ntile buckets differ in size by at most one
        assert counts.max() - counts.min() <= 1
    assert (
        out["rfm_code"]
        == out["r_q"] * 100 + out["f_q"] * 10 + out["m_q"]
    ).all()


# --------------------- LPA / BM25 / MW-U ---------------------


def test_label_propagation_two_cliques(spark):
    from big_data_analysis_of_airline_data_set_spark.operators.graph import (
        label_propagation,
    )

    # two 4-cliques joined by one bridge edge: LPA must keep two
    # communities (CC would merge them into one) labeled by each
    # clique's min id
    k1 = [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a < b]
    k2 = [(a, b) for a in (11, 12, 13, 14) for b in (11, 12, 13, 14) if a < b]
    edges = spark.createDataFrame(k1 + k2 + [(4, 11)], "u long, v long")
    labels = {
        r["vertex"]: r["label"]
        for r in label_propagation(edges, rounds=3).collect()
    }
    assert {labels[v] for v in (1, 2, 3)} == {1}
    assert {labels[v] for v in (12, 13, 14)} == {11}
    assert labels[1] != labels[14]


def test_label_propagation_deterministic_tiebreak(spark):
    from big_data_analysis_of_airline_data_set_spark.operators.graph import (
        label_propagation,
    )

    # vertex 2 sees labels {1, 3} with equal frequency -> adopts the
    # SMALLER label, every round, both runs identical
    edges = spark.createDataFrame([(1, 2), (2, 3)], "u long, v long")
    a = sorted(map(tuple, label_propagation(edges, rounds=1).collect()))
    b = sorted(map(tuple, label_propagation(edges, rounds=1).collect()))
    assert a == b
    assert dict(a)[2] == 1


def test_mann_whitney_shifted_segments(spark):
    from big_data_analysis_of_airline_data_set_spark.stats.regression import (
        mann_whitney_u,
    )

    # segment b strictly dominates segment a -> U_a = 0 (u2_a = 0),
    # z significantly negative
    rows = [("g", 0, float(v)) for v in range(10)] + [
        ("g", 1, float(v)) for v in range(100, 110)
    ]
    df = spark.createDataFrame(rows, "g string, seg int, value double")
    row = mann_whitney_u(
        df,
        group_cols=["g"],
        segment_col=F.col("seg"),
        value_col="value",
        seg_a=0,
        seg_b=1,
    ).collect()[0]
    assert row["u2_a"] == 0
    assert row["z_stat"] < -3.0
    # all-tied values -> zero variance -> NULL z, never a crash
    tied = spark.createDataFrame(
        [("g", s, 1.0) for s in (0, 1) for _ in range(5)],
        "g string, seg int, value double",
    )
    trow = mann_whitney_u(
        tied,
        group_cols=["g"],
        segment_col=F.col("seg"),
        value_col="value",
        seg_a=0,
        seg_b=1,
    ).collect()[0]
    assert trow["z_stat"] is None
    # single-row group: the tie-correction denominator n(n-1) is 0 —
    # must surface as NULL z (not NaN; 0/0 would defeat the outer
    # nullif if the inner denominator were unguarded)
    single = spark.createDataFrame(
        [("g", 0, 1.0)], "g string, seg int, value double"
    )
    srow = mann_whitney_u(
        single,
        group_cols=["g"],
        segment_col=F.col("seg"),
        value_col="value",
        seg_a=0,
        seg_b=1,
    ).collect()[0]
    assert srow["z_stat"] is None


def test_bm25_scores_ordered_and_positive(spark, sf_dir):
    out = all_queries()["text_bm25_topk"].fn(spark, sf_dir).toPandas()
    assert 0 < len(out) <= 20
    assert (out["score"] > 0).all()
    scores = out["score"].tolist()
    assert scores == sorted(scores, reverse=True)
    # every returned doc matched at least one query term
    assert (
        out[["tf_merge", "tf_vector", "tf_stream"]].sum(axis=1) > 0
    ).all()


# ----------- basket / gini / diversity / phash -----------


def test_basket_rules_internally_consistent(spark, sf_dir):
    out = all_queries()["basket_frequent_pairs"].fn(spark, sf_dir).toPandas()
    assert 0 < len(out) <= 20
    # support can never exceed either item's own frequency, and the
    # confidences must re-derive from the emitted integers
    assert (out["support"] <= out["cnt_a"]).all()
    assert (out["support"] <= out["cnt_b"]).all()
    assert (
        (out["conf_a_to_b"] - (out["support"] / out["cnt_a"]).round(6)).abs()
        < 1e-9
    ).all()
    assert (out["pa"] < out["pb"]).all()


def test_gini_known_values(spark):
    # equal values -> Gini 0; one order holding all value among n=4
    # -> G = (n-1)/n - ... exact small case checked against the
    # closed form computed by hand: x = [0,0,0,4]:
    # sxi = 4*4 = 16, sx = 4, n = 4 -> G = 2*16/(4*4) - 5/4 = 0.75
    import pandas as pd
    eq = spark.createDataFrame(
        [(i, "P", 10.0) for i in range(5)],
        "o_orderkey long, o_orderpriority string, o_totalprice double",
    )
    conc = spark.createDataFrame(
        [(1, "Q", 0.0), (2, "Q", 0.0), (3, "Q", 0.0), (4, "Q", 4.0)],
        "o_orderkey long, o_orderpriority string, o_totalprice double",
    )
    import big_data_analysis_of_airline_data_set_spark.plans.statistics as m
    import big_data_analysis_of_airline_data_set_spark.sources.readers as readers
    orig = readers.read_testdata_table
    try:
        readers_frames = {"orders": eq.unionByName(conc)}
        m_read = lambda spark_, sf, t: readers_frames[t]  # noqa: E731
        # call the query body against the synthetic frame
        import unittest.mock as mock
        with mock.patch.object(
            m, "read_testdata_table", m_read
        ):
            got = {
                r["o_orderpriority"]: r["gini"]
                for r in m.q_stats_gini_by_group(spark, "unused").collect()
            }
    finally:
        assert readers.read_testdata_table is orig
    assert got["P"] == pytest.approx(0.0)
    assert got["Q"] == pytest.approx(0.75)


def test_diversity_uniform_vs_concentrated(spark):
    from big_data_analysis_of_airline_data_set_spark.plans import events_queries as m
    import unittest.mock as mock

    rows = [(i, "uniform", float(i)) for i in range(10)] + [
        (1, "conc", float(i)) for i in range(10)
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, value double"
    )
    with mock.patch.object(
        m, "read_testdata_table", lambda s, sf, t: ev
    ):
        out = {
            r["event_type"]: r
            for r in m.q_events_diversity_index(spark, "x").collect()
        }
    # 10 users, one event each: simpson = 1 - 10/100 = 0.9,
    # effective users = 10; one user with all 10 events: simpson 0
    assert out["uniform"]["simpson"] == pytest.approx(0.9)
    assert out["uniform"]["effective_users"] == pytest.approx(10.0)
    assert out["conc"]["simpson"] == pytest.approx(0.0)
    assert out["conc"]["effective_users"] == pytest.approx(1.0)


def test_image_dhash_matches_formula_locally(spark):
    """Pin the numpy dHash against an independent pure-Python replay of
    formula + sampling + bit packing for a handful of asset ids."""
    import numpy as np
    from big_data_analysis_of_airline_data_set_spark.multimodal.synthetic import (
        image_dhash_audit,
        synthetic_image_assets,
    )

    ids = spark.createDataFrame([(i,) for i in (0, 7, 13, 255, 256)], "doc_id long")
    got = {
        r["asset_id"]: (r["phash_hi"], r["phash_lo"])
        for r in image_dhash_audit(synthetic_image_assets(ids)).collect()
    }

    def expected(aid):
        h, w = 4 + aid % 4, 8 + aid % 8
        def gray(sr, sc):
            return sum(
                (aid * 31 + sr * 7 + sc * 3 + k * 11) % 256 for k in range(3)
            ) // 3
        hi = lo = 0
        for r in range(8):
            sr = (r * h) // 8
            for c in range(8):
                sc1, sc2 = (c * w) // 9, ((c + 1) * w) // 9
                if gray(sr, sc1) > gray(sr, sc2):
                    if r < 4:
                        hi += 1 << (r * 8 + c)
                    else:
                        lo += 1 << ((r - 4) * 8 + c)
        return hi, lo

    for aid in (0, 7, 13, 255, 256):
        assert got[aid] == expected(aid), aid
    # period-256 duplicates are REAL: 0 and 256 share dims + pixels
    assert got[0] == got[256]


# ------- CUPED / pareto / seasonality / forecast eval -------


def test_cuped_reduces_variance_shape(spark, sf_dir):
    row = (
        all_queries()["stats_cuped_adjustment"].fn(spark, sf_dir).collect()[0]
    )
    # both arms populated; rho2 is a valid fraction; theta finite
    assert row["n_a"] > 0 and row["n_b"] > 0
    assert 0.0 <= row["rho2"] <= 1.0
    assert row["theta"] is not None and row["delta_cuped"] is not None


def test_pareto_coverage_invariants(spark, sf_dir):
    row = (
        all_queries()["stats_pareto_coverage"].fn(spark, sf_dir).collect()[0]
    )
    # covering 90% needs at least as many customers as covering 50%,
    # both within the population; top decile holds >= its own share
    assert 1 <= row["n_top_half"] <= row["n_top_90pct"] <= row["n_customers"]
    assert 0.1 <= row["top_decile_share"] <= 1.0


def test_seasonality_profile_ranges(spark, sf_dir):
    out = (
        all_queries()["events_seasonality_profile"]
        .fn(spark, sf_dir)
        .toPandas()
    )
    assert len(out) > 0
    assert out["peak_dow"].between(0, 6).all()
    assert out["peak_hour"].between(0, 23).all()
    assert (out["trough_peak_ratio"] <= 1.0).all()
    assert (out["trough_peak_ratio"] > 0.0).all()
    assert out["n_slots"].between(1, 168).all()


def test_forecast_eval_gap_breaks_lag(spark):
    """A missing calendar day must not let lag reach further back —
    the self-join-on-day-k formulation, not lag() over rows."""
    from big_data_analysis_of_airline_data_set_spark.plans import (
        events_queries as m,
    )
    import unittest.mock as mock
    import datetime as dt

    # type 'g': days 0..9 except day 8 missing; counts = day+1 events
    rows = []
    base = dt.datetime(2024, 1, 1)
    for day in [0, 1, 2, 3, 4, 5, 6, 7, 9]:
        for i in range(day + 1):
            rows.append((base + dt.timedelta(days=day), "g", 1.0, 1))
    ev = spark.createDataFrame(
        rows, "ts timestamp, event_type string, value double, user_id long"
    )
    with mock.patch.object(m, "read_testdata_table", lambda s, sf, t: ev):
        row = m.q_events_forecast_eval(spark, "x").collect()[0]
    # lag-7 exists for days 7 (vs 0) and 9 (vs 2) only -> n_eval7 = 2;
    # MASE window needs lag-1 too: day 7 has day 6, day 9 lacks day 8
    # -> only day 7 counts in the common window
    assert row["n_eval7"] == 2
    # day7: |8-1| = 7, day9: |10-3| = 7 -> mae = 7.0
    assert row["mae_seasonal"] == pytest.approx(7.0)
    # common window day7 only: ae7 = 7, ae1 = |8-7| = 1 -> mase 7.0
    assert row["mase"] == pytest.approx(7.0)
