"""Count-Min sketch properties (sketches/countmin.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_analysis_of_airline_data_set_spark.sketches import (
    count_min_sketch_table,
    heavy_hitters_with_estimates,
)


def _occurrences(spark, counts: dict[str, int]):
    rows = [(t,) for t, n in counts.items() for _ in range(n)]
    return spark.createDataFrame(rows, ["term"])


def test_cms_never_underestimates_even_under_heavy_collisions(spark):
    counts = {f"t{i}": i + 1 for i in range(40)}
    occ = _occurrences(spark, counts)
    # width 4 forces ~10 terms per bucket -> rampant collisions
    out = heavy_hitters_with_estimates(occ, term_col="term", k=40, depth=3, width=4)
    rows = out.collect()
    assert len(rows) == 40
    assert all(r["overestimates"] for r in rows)
    assert all(r["cms_estimate"] >= r["exact_count"] for r in rows)


def test_cms_exact_when_collision_free(spark):
    # 3 terms, width 1024: collision probability negligible per row;
    # estimates must equal exact counts
    counts = {"alpha": 7, "beta": 3, "gamma": 11}
    occ = _occurrences(spark, counts)
    out = {r["term"]: (r["exact_count"], r["cms_estimate"]) for r in
           heavy_hitters_with_estimates(occ, term_col="term", k=3).collect()}
    for t, n in counts.items():
        assert out[t] == (n, n)


def test_cms_table_mass_conservation(spark):
    # every depth level holds the total occurrence mass exactly once
    counts = {f"w{i}": 5 for i in range(20)}
    occ = _occurrences(spark, counts)
    tbl = count_min_sketch_table(occ, term_col="term", depth=4, width=16)
    per_level = {r["j"]: r["total"] for r in
                 tbl.groupBy("j").agg(F.sum("s").alias("total")).collect()}
    assert per_level == {0: 100, 1: 100, 2: 100, 3: 100}


# ------------------------- KMV distinct sketch -------------------------


def test_kmv_estimate_within_band_and_merge(spark):
    from pyspark.sql import functions as F

    from big_data_analysis_of_airline_data_set_spark.sketches.kmv import (
        kmv_distinct_by_group,
        kmv_sketch,
    )

    rows = [(("g1" if i % 2 else "g2"), f"v{i % 400}") for i in range(2000)]
    df = spark.createDataFrame(rows, "grp string, val string")
    out = {
        r.group: r
        for r in kmv_distinct_by_group(
            df, group_col="grp", value_col="val", k=96
        ).collect()
    }
    # g1 sees odd residues (200 distinct), g2 even (200), union 400
    assert out["g1"].exact_distinct == 200
    assert out["ALL"].exact_distinct == 400
    for r in out.values():
        # 1/sqrt(96) ≈ 10% std error; Kirsch-Mitzenmacher correlation
        # inflates it — 35% is the loose determinism-safe band
        assert abs(r.distinct_estimate - r.exact_distinct) <= 0.35 * r.exact_distinct
    # merge property: the ALL sketch is the elementwise min of groups
    sk = kmv_sketch(df, group_col="grp", value_col="val", k=96)
    mins = {
        (r.group, r.j): r.min_h for r in sk.collect()
    }
    merged = sk.groupBy("j").agg(F.min("min_h").alias("m")).collect()
    for r in merged:
        assert r.m == min(mins[("g1", r.j)], mins[("g2", r.j)])


def test_kmv_small_group_estimate_sane(spark):
    from big_data_analysis_of_airline_data_set_spark.sketches.kmv import (
        kmv_distinct_by_group,
    )

    df = spark.createDataFrame(
        [("g", f"x{i}") for i in range(3)], "grp string, val string"
    )
    row = kmv_distinct_by_group(
        df, group_col="grp", value_col="val", k=8, with_union=False
    ).first()
    assert row.exact_distinct == 3
    # tiny-D estimates are noisy but must stay positive and bounded
    assert 1 <= row.distinct_estimate <= 30


def test_kmv_sketch_hashes_once_per_row(spark):
    """Round-11 plan-shape guard: the two md5 draws must evaluate ONCE
    per input row — the producer projection survives below the
    explode, so the k× row fan-out carries computed longs, never
    re-hashes (CollapseProject must not inline a non-cheap producer).
    The fold to k min-agg columns was measured and REJECTED (3× slower
    — 64-function HashAggregate drops out of codegen; BASELINE.md
    round 11, kmv_sketch docstring)."""
    from big_data_analysis_of_airline_data_set_spark.sketches.kmv import kmv_sketch

    df = spark.createDataFrame(
        [("g", f"v{i}") for i in range(10)], "grp string, val string"
    )
    sk = kmv_sketch(df, group_col="grp", value_col="val", k=64)
    plan = sk._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("md5(") == 2


def test_hll_estimate_within_band_and_union_merge(spark):
    """p=8 → standard error ~1.04/sqrt(256) ≈ 6.5%; assert both group
    estimates and the max-merged 'ALL' union row land within 4σ, and
    that the union row reflects the TRUE union (overlapping groups)."""
    from big_data_analysis_of_airline_data_set_spark.sketches.hll import (
        hll_distinct_by_group,
    )

    rows = [("g1", f"v{i}") for i in range(3000)]
    rows += [("g2", f"v{i}") for i in range(1500, 4500)]  # 1500 overlap
    df = spark.createDataFrame(rows, "grp string, val string")
    got = {
        r.group: r
        for r in hll_distinct_by_group(
            df, group_col="grp", value_col="val", p=8
        ).collect()
    }
    assert got["g1"].exact_distinct == 3000
    assert got["ALL"].exact_distinct == 4500  # union, not 6000
    for g, true in [("g1", 3000), ("g2", 3000), ("ALL", 4500)]:
        est = got[g].hll_estimate
        assert abs(est - true) / true < 0.26, (g, est, true)
        assert got[g].m_registers == 256


def test_hll_registers_merge_equals_rebuild(spark):
    """Mergeability: elementwise MAX of sketches built on two slices
    == the sketch built on the union — exactly, register by register."""
    from pyspark.sql import functions as F

    from big_data_analysis_of_airline_data_set_spark.sketches.hll import (
        hll_registers,
    )

    a = spark.createDataFrame([("g", f"x{i}") for i in range(400)], "grp string, val string")
    b = spark.createDataFrame([("g", f"x{i}") for i in range(200, 700)], "grp string, val string")
    ra = hll_registers(a, group_col="grp", value_col="val", p=6)
    rb = hll_registers(b, group_col="grp", value_col="val", p=6)
    merged = {
        (r.group, r.register): r.m
        for r in ra.unionByName(rb)
        .groupBy("group", "register")
        .agg(F.max("max_rho").alias("m"))
        .collect()
    }
    rebuilt = {
        (r.group, r.register): r.max_rho
        for r in hll_registers(
            a.unionByName(b), group_col="grp", value_col="val", p=6
        ).collect()
    }
    assert merged == rebuilt


def test_hll_linear_counting_branch_small_sets(spark):
    """A handful of distincts leaves nearly all 256 registers zero —
    the linear-counting branch must fire and be near-exact there
    (m*ln(m/V) with V ≈ m-D is within ~1 of D for tiny D)."""
    from big_data_analysis_of_airline_data_set_spark.sketches.hll import (
        hll_distinct_by_group,
    )

    df = spark.createDataFrame(
        [("g", f"only{i}") for i in range(5)], "grp string, val string"
    )
    row = hll_distinct_by_group(
        df, group_col="grp", value_col="val", p=8, with_union=False
    ).first()
    assert row.exact_distinct == 5
    assert row.zero_registers >= 251
    assert abs(row.hll_estimate - 5) < 1.5


def test_hll_p_validation(spark):
    import pytest as _pytest

    from big_data_analysis_of_airline_data_set_spark.sketches.hll import (
        hll_registers,
    )

    df = spark.createDataFrame([("g", "v")], "grp string, val string")
    with _pytest.raises(ValueError, match="p must be"):
        hll_registers(df, group_col="grp", value_col="val", p=3)


def test_hll_trailing_merge_hand_checked(spark):
    """W=2 over buckets {1,2,4}: anchor 1 sees bucket 1 only, anchor 2
    merges buckets 1+2, anchor 4 sees bucket 4 only (bucket 3 absent —
    and no phantom anchor 3 or 5 is minted). Register-level equality
    against sketches rebuilt on the expected bucket unions."""
    from pyspark.sql import functions as F

    from big_data_analysis_of_airline_data_set_spark.sketches.hll import (
        hll_registers,
        hll_trailing_merge,
    )

    rows = [("g", 1, f"a{i}") for i in range(50)]
    rows += [("g", 2, f"b{i}") for i in range(50)]
    rows += [("g", 4, f"c{i}") for i in range(50)]
    df = spark.createDataFrame(rows, "grp string, hb long, val string")
    regs = hll_registers(df, group_cols=["grp", "hb"], value_col="val", p=6)
    merged = hll_trailing_merge(
        regs, bucket_col="hb", group_cols=["grp"], window_buckets=2
    )
    got = {
        (r.grp, r.hb, r.register): r.max_rho for r in merged.collect()
    }
    assert sorted({hb for (_, hb, _) in got}) == [1, 2, 4]

    def rebuild(pred):
        sub = df.filter(pred)
        return {
            (r.grp, r.register): r.max_rho
            for r in hll_registers(
                sub.select("grp", "val"), group_cols=["grp"], value_col="val", p=6
            ).collect()
        }

    for anchor, pred in [
        (1, F.col("hb") == 1),
        (2, F.col("hb").isin(1, 2)),
        (4, F.col("hb") == 4),
    ]:
        want = rebuild(pred)
        have = {
            (g, reg): rho for (g, hb, reg), rho in got.items() if hb == anchor
        }
        assert have == want, anchor


def test_cms_join_size_hand_checked(spark):
    """A = {x,x,y}, B = {x,y,y,z}: |A⋈B| = 2·1 + 1·2 = 4 exactly; at
    w=4096 with 3 distinct terms the md5 buckets are collision-free
    (deterministic hashes — verified), so the inner product equals the
    exact size; the one-sided guarantee must hold regardless."""
    from big_data_analysis_of_airline_data_set_spark.sketches.countmin import (
        cms_join_size_estimate,
    )

    a = spark.createDataFrame([("x",), ("x",), ("y",)], "t string")
    b = spark.createDataFrame([("x",), ("y",), ("y",), ("z",)], "t string")
    r = cms_join_size_estimate(
        a, b, term_col_a="t", term_col_b="t", depth=4, width=4096
    ).first()
    assert r.exact_join_size == 4
    assert r.overestimates
    assert r.cms_join_size_estimate == 4


def test_cms_join_size_disjoint_keys(spark):
    """Disjoint key sets: exact join size 0 — and with 4 independent
    rows over w=4096 at 100 keys, at least one row is collision-free,
    so the spined min is exactly 0 (the pre-spine implementation
    dropped empty rows and could emit an inflated min or NULL)."""
    from big_data_analysis_of_airline_data_set_spark.sketches.countmin import (
        cms_join_size_estimate,
    )

    a = spark.createDataFrame([(f"a{i}",) for i in range(50)], "t string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(50)], "t string")
    r = cms_join_size_estimate(
        a, b, term_col_a="t", term_col_b="t", depth=4, width=4096
    ).first()
    assert r.exact_join_size == 0
    assert r.cms_join_size_estimate == 0
    assert r.overestimates


# --------------------- HDR quantile sketch ---------------------


def _py_code(c: int, s: int) -> int:
    """Pure-Python reference of sketches.quantile.code_sql."""
    split, sub = 1 << (s + 1), 1 << s
    if c <= 0:
        return 0
    if c < split:
        return c
    b = c.bit_length()
    return split + (b - s - 2) * sub + ((c >> (b - s - 1)) - sub)


def _py_rep(code: int, s: int) -> int:
    split, sub = 1 << (s + 1), 1 << s
    if code < split:
        return code
    off = code - split
    return (sub + off % sub) << (off // sub + 1)


import pytest


@pytest.mark.parametrize("s", [3, 4, 5, 6])
def test_hdr_code_monotone_and_rep_is_bucket_lower_bound(s):
    # every cents value through several octaves plus deep-octave spots
    cases = list(range(0, 1 << (s + 4))) + [10**6, 10**9, (1 << 40) + 12345]
    prev = -1
    for c in sorted(cases):
        code = _py_code(c, s)
        assert code >= prev  # monotone
        prev = code
        rep = _py_rep(code, s)
        assert rep <= max(c, 0)
        if c >= (1 << (s + 1)):
            # relative bucket width <= 2^-s
            assert c < rep + (rep >> s) + (1 << (c.bit_length() - s - 1))
            assert _py_code(rep, s) == code  # rep lands in its own bucket


@pytest.mark.parametrize("s", [4, 5, 6])
def test_hdr_sql_code_matches_python_reference(spark, s):
    from pyspark.sql import functions as F

    from big_data_analysis_of_airline_data_set_spark.sketches.quantile import (
        code_sql,
        rep_sql,
    )

    vals = list(range(1, 300)) + [2**k + d for k in range(9, 40) for d in (0, 1, 7)]
    df = spark.createDataFrame([(v,) for v in vals], "c long")
    rows = df.select(
        "c",
        F.expr(code_sql("c", s, "spark")).alias("code"),
    ).withColumn("rep", F.expr(rep_sql("code", s, "spark"))).collect()
    import duckdb

    con = duckdb.connect()
    dk = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            "SELECT c, "
            + code_sql("c", s, "duckdb").replace("c", "c", 1)
            + " AS code, "
            + rep_sql(code_sql("c", s, "duckdb"), s, "duckdb")
            + " AS rep FROM (SELECT unnest(?) AS c)",
            [vals],
        ).fetchall()
    }
    for r in rows:
        assert r["code"] == _py_code(r["c"], s), r["c"]
        assert r["rep"] == _py_rep(r["code"], s), r["c"]
        assert dk[r["c"]] == (r["code"], r["rep"]), r["c"]


def test_hdr_merge_equals_rebuild(spark):
    from pyspark.sql import functions as F

    from big_data_analysis_of_airline_data_set_spark.sketches.quantile import (
        hdr_bucket_counts,
    )

    rows_a = [("g", float(v) / 100) for v in range(1, 5000, 7)]
    rows_b = [("g", float(v) / 100) for v in range(3, 90000, 11)]
    dfa = spark.createDataFrame(rows_a, "grp string, v double")
    dfb = spark.createDataFrame(rows_b, "grp string, v double")
    sk_union = hdr_bucket_counts(
        dfa.unionByName(dfb), group_col="grp", value_col="v"
    )
    merged = (
        hdr_bucket_counts(dfa, group_col="grp", value_col="v")
        .unionByName(hdr_bucket_counts(dfb, group_col="grp", value_col="v"))
        .groupBy("group", "code")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    a = {(r["group"], r["code"]): r["cnt"] for r in sk_union.collect()}
    b = {(r["group"], r["code"]): r["cnt"] for r in merged.collect()}
    assert a == b


def test_hdr_exact_in_small_value_regime(spark):
    # cents < 2^(s+1) = 64 -> every bucket is one exact cent value, so
    # the estimate IS the exact lower order statistic at ceil(q*n)
    from big_data_analysis_of_airline_data_set_spark.sketches.quantile import (
        hdr_quantiles_by_group,
    )

    vals = [0.01 * v for v in range(1, 41)]  # cents 1..40, n=40
    df = spark.createDataFrame([("g", v) for v in vals], "grp string, v double")
    out = {
        r["group"]: r
        for r in hdr_quantiles_by_group(
            df, group_col="grp", value_col="v"
        ).collect()
    }
    g = out["g"]
    assert g["n_rows"] == 40 and g["n_buckets"] == 40
    assert abs(g["est_p50"] - 0.20) < 1e-9  # ceil(0.5*40)=20th value
    assert abs(g["est_p90"] - 0.36) < 1e-9
    assert abs(g["est_p99"] - 0.40) < 1e-9
    assert out["ALL"]["est_p50"] == g["est_p50"]


def test_hdr_rank_accuracy_band(spark):
    # uniform values: every rank fraction must sit within one bucket's
    # mass of its target (relative bucket width 2^-5 ~ 3.1%)
    from big_data_analysis_of_airline_data_set_spark.sketches.quantile import (
        hdr_quantiles_by_group,
    )

    df = spark.createDataFrame(
        [("u", 10.0 + 0.37 * i) for i in range(2000)], "grp string, v double"
    )
    out = {
        r["group"]: r
        for r in hdr_quantiles_by_group(
            df, group_col="grp", value_col="v"
        ).collect()
    }
    for lab, q in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
        frac = out["u"][f"rank_{lab}"]
        assert frac <= q + 1e-9, (lab, frac)  # lower bound never overshoots
        assert frac >= q - 0.05, (lab, frac)


# --------------------- SpaceSaving / Misra-Gries ---------------------


def _mg_fold(stream_batches, m):
    from big_data_analysis_of_airline_data_set_spark.sketches.spacesaving import (
        mg_merge,
    )

    summary, d_total, n = {}, 0, 0
    for batch in stream_batches:
        counts = {}
        for k in batch:
            counts[k] = counts.get(k, 0) + 1
        n += len(batch)
        summary, d = mg_merge(summary, counts, m)
        d_total += d
    return summary, d_total, n


def test_mg_theorems_hold_under_any_batching():
    """The three Misra-Gries theorems must hold for EVERY batch
    partitioning of the same multiset — this order-invariance is what
    lets the catalog entry oracle the verdicts as constants."""
    import random

    rnd = random.Random(99)
    # zipf-ish multiset: key k appears ~ 600 // (k + 1) times
    items = [k for k in range(30) for _ in range(600 // (k + 1))]
    exact = {}
    for k in items:
        exact[k] = exact.get(k, 0) + 1
    n_total = len(items)
    m = 6
    for trial in range(8):
        shuffled = items[:]
        rnd.shuffle(shuffled)
        cuts = sorted(rnd.sample(range(1, len(items)), 5))
        batches = [
            shuffled[a:b]
            for a, b in zip([0] + cuts, cuts + [len(shuffled)])
        ]
        summary, d_total, n = _mg_fold(batches, m)
        assert n == n_total
        assert len(summary) <= m
        # theorem 3: cumulative decrement bound
        assert d_total * (m + 1) <= n
        # theorem 2: weight brackets the true count for tracked keys
        for k, w in summary.items():
            assert w <= exact[k] <= w + d_total, (trial, k, w)
        # theorem 1 (+ transitivity through theorem 3): every key with
        # true count above n/(m+1) is tracked
        for k, c in exact.items():
            if c * (m + 1) > n:
                assert k in summary, (trial, k, c, d_total)
            if c > d_total:
                assert k in summary, (trial, k, c, d_total)


def test_mg_merge_deterministic_ties_and_guards():
    from pytest import raises

    from big_data_analysis_of_airline_data_set_spark.sketches.spacesaving import (
        mg_merge,
    )

    # no eviction below capacity
    s, d = mg_merge({}, {1: 5, 2: 3}, 4)
    assert s == {1: 5, 2: 3} and d == 0
    # eviction: d = (m+1)-th largest under (weight desc, key asc);
    # ties with d drop to zero and disappear
    s, d = mg_merge({1: 5, 2: 3, 3: 3}, {4: 3, 5: 9}, 2)
    # ordered: (5,9),(1,5),(2,3),(3,3),(4,3) -> d = weights[2] = 3
    assert d == 3 and s == {5: 6, 1: 2}
    with raises(ValueError):
        mg_merge({}, {1: -1}, 2)
    with raises(ValueError):
        mg_merge({}, {1: 1}, 0)


def test_spacesaving_stream_matches_batch_fold(spark):
    """File-granular drain ≡ the same fold applied per batch: state
    carries across micro-batches and n_seen ends at the corpus size."""
    import tempfile

    from pyspark.sql import functions as F

    from big_data_analysis_of_airline_data_set_spark.sketches.spacesaving import (
        spacesaving_stream,
    )

    d = tempfile.mkdtemp(prefix="ss_stream_")
    rows = [
        (i, "2024-01-01 00:00:00", i % 7, "a", float((i % 13) ** 2), None)
        for i in range(400)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string,"
        " value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.repartition(4).write.mode("overwrite").parquet(d)
    out = {
        r.event_type: r
        for r in spacesaving_stream(spark, d, m=3, query_name="ss_unit").collect()
    }
    a = out["a"]
    assert a.n_seen == 400
    assert len(a.keys) <= 3
    assert a.d_total * 4 <= a.n_seen
    # tracked weights bracket true counts of the bit-length items
    exact = {}
    for i in range(400):
        v = float((i % 13) ** 2)
        item = min(15, max(1, int(abs(v))) .bit_length()) if v >= 1 else 1
        exact[item] = exact.get(item, 0) + 1
    for k, w in zip(a.keys, a.weights):
        assert w <= exact[int(k)] <= w + a.d_total


def test_mg_theorems_property():
    """Property form of the MG theorems: random multisets, random batch
    partitions, random m — the three invariants the catalog entry
    oracles must hold universally, and with no eviction pressure the
    summary must BE the exact counts. Pure Python: no Spark session."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        items=st.lists(st.integers(min_value=0, max_value=12), min_size=1, max_size=300),
        cut_seed=st.randoms(use_true_random=False),
        m=st.integers(min_value=1, max_value=6),
    )
    def run(items, cut_seed, m):
        n_items = len(items)
        n_cuts = cut_seed.randint(0, min(5, n_items - 1))
        cuts = sorted(cut_seed.sample(range(1, n_items), n_cuts)) if n_cuts else []
        batches = [items[a:b] for a, b in zip([0] + cuts, cuts + [n_items])]
        summary, d_total, n = _mg_fold(batches, m)
        exact = {}
        for k in items:
            exact[k] = exact.get(k, 0) + 1
        assert n == n_items and len(summary) <= m
        assert d_total * (m + 1) <= n
        for k, w in summary.items():
            assert w <= exact[k] <= w + d_total
        for k, c in exact.items():
            if c > d_total:
                assert k in summary
        if len(exact) <= m:
            assert summary == exact and d_total == 0

    run()


def test_mg_m_sweep_vs_skew():
    """Round-10 verdict item 6: sweep m against stream skew in the
    regime the operator exists for — m SMALLER than the distinct
    count — and check the theorem VERDICTS (the catalog entry's output
    columns) stay exactly True at every operating point. Two regimes:
    zipf-ish (guaranteed heavy hitters exist down to m=2) and
    near-uniform (no key can clear n/(m+1), so the guaranteed set is
    EMPTY and all_hh_tracked is vacuously true — the summary is then
    pure upper/lower-bound bookkeeping). Also pins the sweep table
    recorded in BASELINE.md ("Round-10 SpaceSaving m-sweep")."""
    import random

    # ~60 distinct keys each; zipf(s=2): key k appears
    # 3000 // (k + 1)^2 times (54 keys reach count >= 1 — a heavy
    # head where the top key holds >1/3 of all mass, so guaranteed
    # heavy hitters exist even at m=2); uniform: every key 50 times
    zipf = [k for k in range(60) for _ in range(3000 // (k + 1) ** 2)]
    uniform = [k for k in range(60) for _ in range(50)]
    expected_hh = {}  # pinned counts for the BASELINE.md table
    for skew_name, items in (("zipf", zipf), ("uniform", uniform)):
        exact = {}
        for k in items:
            exact[k] = exact.get(k, 0) + 1
        n = len(items)
        for m in (2, 4, 8, 16):
            assert m < len(exact)  # the regime under test
            rnd = random.Random(1000 * m + len(items))
            shuffled = items[:]
            rnd.shuffle(shuffled)
            cuts = sorted(rnd.sample(range(1, n), 7))
            batches = [
                shuffled[a:b] for a, b in zip([0] + cuts, cuts + [n])
            ]
            summary, d_total, seen = _mg_fold(batches, m)
            guaranteed = {k for k, c in exact.items() if c * (m + 1) > n}
            expected_hh[(skew_name, m)] = (
                len(guaranteed), len(summary), d_total
            )
            # the catalog entry's verdict columns, replayed exactly
            assert seen == n
            assert len(summary) <= m
            assert d_total * (m + 1) <= n  # decrement_within_bound
            assert guaranteed <= set(summary)  # all_hh_tracked
            for k, w in summary.items():  # bounds_valid
                assert w <= exact[k] <= w + d_total, (skew_name, m, k)
    # zipf has guaranteed heavy hitters at every m; uniform (every key
    # at exactly n/60) has none until m+1 > 60 — the vacuous regime
    for m in (2, 4, 8, 16):
        assert expected_hh[("zipf", m)][0] >= 1
        assert expected_hh[("uniform", m)][0] == 0
    # spot-pin the two BASELINE.md anchor rows (deterministic inputs)
    assert expected_hh[("zipf", 2)][0] == 1
    assert expected_hh[("zipf", 16)][0] == 3
