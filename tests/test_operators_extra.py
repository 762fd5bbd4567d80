"""Salting equivalence, approx-distinct bounds, Bernoulli sample
statistics, and writer guards."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from big_data_analysis_of_airline_data_set_spark.operators.salting import salted_join
from big_data_analysis_of_airline_data_set_spark.operators.transforms import bernoulli_sample
from big_data_analysis_of_airline_data_set_spark.plans.relational2 import (
    q_approx_distinct_count,
    q_distinct_count,
)
from big_data_analysis_of_airline_data_set_spark.sources.readers import read_testdata_table
from big_data_analysis_of_airline_data_set_spark.sources.writers import (
    write_parquet,
    write_report_csv,
)


def test_salted_join_equals_plain_join(spark, sf_dir):
    o = read_testdata_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_totalprice"
    )
    c = read_testdata_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    plain = o.join(c, "c_custkey").groupBy("c_nationkey").count()
    salted = salted_join(o, c, "c_custkey", salt=8).groupBy("c_nationkey").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_approx_distinct_within_rsd(spark, sf_dir):
    exact = q_distinct_count(spark, sf_dir).collect()[0].n_parts
    row = q_approx_distinct_count(spark, sf_dir).collect()[0]
    assert row.within_bound  # rsd=0.02 vs 5% band
    assert row.n_parts_exact == exact


def test_bernoulli_sample_statistics(spark, sf_dir):
    """P13 exact reference semantics: seeded, fraction-calibrated."""
    li = read_testdata_table(spark, sf_dir, "lineitem")
    n = li.count()
    s1 = bernoulli_sample(li, 0.1, seed=777).count()
    s2 = bernoulli_sample(li, 0.1, seed=777).count()
    assert s1 == s2  # same seed → same rows
    assert 0.05 * n < s1 < 0.15 * n


def test_write_parquet_partitioned_roundtrip(spark, sf_dir):
    d = tempfile.mkdtemp(prefix="wp-")
    try:
        o = read_testdata_table(spark, sf_dir, "orders").withColumn(
            "o_year", F.year("o_orderdate")
        )
        write_parquet(o, d, partition_by=["o_year"])
        # partition dirs exist → year filters become partition pruning
        years = {p for p in os.listdir(d) if p.startswith("o_year=")}
        assert len(years) >= 2
        back = spark.read.parquet(d)
        assert back.count() == o.count()
        pruned = back.filter(F.col("o_year") == 1995)
        assert pruned.count() == o.filter(F.col("o_year") == 1995).count()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_write_report_csv_guards_large_tables(spark, sf_dir):
    li = read_testdata_table(spark, sf_dir, "lineitem")
    with pytest.raises(ValueError):
        write_report_csv(li, "/tmp/should-not-exist", max_rows=10)
    d = tempfile.mkdtemp(prefix="rc-")
    try:
        small = li.groupBy("l_returnflag").count()
        write_report_csv(small, os.path.join(d, "out"))
        files = os.listdir(os.path.join(d, "out"))
        assert any(f.endswith(".csv") for f in files)
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ------------------------- incremental MV merge -------------------------


def test_aggregate_state_merge_associative(spark):
    from pyspark.sql import functions as F

    from big_data_analysis_of_airline_data_set_spark.operators.incremental import (
        aggregate_state,
        finalize_measures,
        merge_aggregate_states,
    )

    rows = [("a", float(i)) for i in range(10)] + [("b", 100.0), ("b", -3.5)]
    df = spark.createDataFrame(rows, "k string, v double")
    full = {
        r.k: r for r in finalize_measures(
            aggregate_state(df, keys=["k"], value_col="v"), keys=["k"]
        ).collect()
    }
    # split three ways, merge pairwise in two different orders
    parts = [df.filter(F.col("v") < 3), df.filter((F.col("v") >= 3) & (F.col("v") < 7)),
             df.filter(F.col("v") >= 7)]
    states = [aggregate_state(p, keys=["k"], value_col="v") for p in parts]
    m1 = merge_aggregate_states(
        merge_aggregate_states(states[0], states[1], keys=["k"]), states[2], keys=["k"]
    )
    m2 = merge_aggregate_states(
        states[0], merge_aggregate_states(states[2], states[1], keys=["k"]), keys=["k"]
    )
    for merged in (m1, m2):
        got = {r.k: r for r in finalize_measures(merged, keys=["k"]).collect()}
        for k in full:
            assert got[k].cnt == full[k].cnt
            assert got[k].total == full[k].total
            assert got[k].avg_v == full[k].avg_v
            assert got[k].min_v == full[k].min_v and got[k].max_v == full[k].max_v


# ------------------------- PIT join + snapshot diff -------------------------


def test_point_in_time_join_picks_version_at_event_time(spark):
    from pyspark.sql import functions as F

    from big_data_analysis_of_airline_data_set_spark.operators.pit import (
        point_in_time_join,
    )

    dim = spark.createDataFrame(
        [
            (1, 10.0, "2020-01-01", "2021-01-01"),
            (1, 20.0, "2021-01-01", "9999-12-31"),
            (2, 5.0, "2020-01-01", "9999-12-31"),
        ],
        "k long, val double, valid_from string, valid_to string",
    ).select("k", "val",
             F.col("valid_from").cast("timestamp").alias("valid_from"),
             F.col("valid_to").cast("timestamp").alias("valid_to"))
    fact = spark.createDataFrame(
        [(100, 1, "2020-06-01"), (101, 1, "2021-06-01"),
         (102, 2, "2022-01-01"), (103, 3, "2022-01-01")],
        "fid long, k long, t string",
    ).select("fid", "k", F.col("t").cast("timestamp").alias("t"))
    got = {
        r.fid: r.val
        for r in point_in_time_join(fact, dim, key="k", time_col="t").collect()
    }
    # boundary: an event AT valid_from belongs to the NEW version
    assert got == {100: 10.0, 101: 20.0, 102: 5.0}  # fid 103: no version
    left = point_in_time_join(fact, dim, key="k", time_col="t", how="left")
    assert left.count() == 4  # audit mode keeps the uncovered fact
    boundary = spark.createDataFrame(
        [(104, 1, "2021-01-01")], "fid long, k long, t string"
    ).select("fid", "k", F.col("t").cast("timestamp").alias("t"))
    assert point_in_time_join(boundary, dim, key="k", time_col="t").first().val == 20.0


def test_snapshot_diff_classification(spark):
    from big_data_analysis_of_airline_data_set_spark.operators.incremental import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, None)], "k long, v double"
    )
    new = spark.createDataFrame(
        [(1, 10.0), (2, 25.0), (4, 40.0), (5, None)], "k long, v double"
    )
    got = {
        r.k: r.change_type
        for r in snapshot_diff(old, new, key="k", compare_cols=["v"]).collect()
    }
    # null-safe compare: k=3 removed (not 'changed by null'), k=5 added
    assert got == {1: "unchanged", 2: "changed", 3: "removed",
                   4: "added", 5: "added"}


def test_snapshot_diff_membership_only(spark):
    """compare_cols=[] is the pure-membership CDC: present-in-both rows
    are 'unchanged' (review finding: this used to TypeError)."""
    from big_data_analysis_of_airline_data_set_spark.operators.incremental import (
        snapshot_diff,
    )

    old = spark.createDataFrame([(1,), (2,)], "k long")
    new = spark.createDataFrame([(2,), (3,)], "k long")
    got = {r.k: r.change_type
           for r in snapshot_diff(old, new, key="k", compare_cols=[]).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "added"}


def test_snapshot_diff_check_unique_guard(spark):
    from big_data_analysis_of_airline_data_set_spark.operators.incremental import (
        snapshot_diff,
    )

    old = spark.createDataFrame([(1, "a"), (1, "b")], "k long, v string")
    new = spark.createDataFrame([(1, "a")], "k long, v string")
    # silent by default (documented contract) ...
    assert snapshot_diff(old, new, key="k", compare_cols=["v"]).count() == 2
    # ... loud on request
    with pytest.raises(ValueError, match="duplicate keys"):
        snapshot_diff(old, new, key="k", compare_cols=["v"], check_unique=True)


# ------------------------- bloom-prefiltered join -------------------------


def test_bloom_filter_no_false_negatives_and_prunes(spark):
    from pyspark.sql import functions as F

    from big_data_analysis_of_airline_data_set_spark.operators.bloom_join import (
        bloom_might_contain,
        build_bloom_words,
    )

    keys = spark.createDataFrame([(i * 7,) for i in range(200)], "k long")
    words, m = build_bloom_words(keys, "k", k=7)
    assert m >= 200 * 10  # auto-sized: ≥10 bits/key
    probe = spark.range(0, 3000).select(F.col("id").alias("k"))
    hit = probe.filter(bloom_might_contain(F.col("k"), words, m_bits=m, k=7))
    hit_keys = {r.k for r in hit.collect()}
    member = {i * 7 for i in range(200)}
    # no false negatives: every member key passes
    assert member <= hit_keys
    # real pruning: false positives stay near epsilon (~1% at 9.6
    # bits/key; 2^14 bits / 200 keys is far above that) — allow 5%
    fp = len(hit_keys - member) / (3000 - len(member & set(range(3000))))
    assert fp < 0.05, fp


def test_bloom_prefiltered_join_equals_plain_join(spark):
    from pyspark.sql import functions as F

    from big_data_analysis_of_airline_data_set_spark.operators.bloom_join import (
        bloom_prefiltered_join,
    )

    big = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    small = spark.createDataFrame([(i * 13, f"s{i}") for i in range(50)], "k long, tag string")
    got = sorted(
        (r.k, r.v, r.tag) for r in bloom_prefiltered_join(big, small, "k").collect()
    )
    want = sorted((r.k, r.v, r.tag) for r in big.join(small, "k").collect())
    assert got == want and len(got) > 0


def test_bloom_join_rejects_outer(spark):
    from big_data_analysis_of_airline_data_set_spark.operators.bloom_join import (
        bloom_prefiltered_join,
    )

    df = spark.range(3).selectExpr("id AS k")
    with pytest.raises(ValueError, match="unsupported how"):
        bloom_prefiltered_join(df, df, "k", how="left_outer")


# ------------------------- insert-only join delta -------------------------


def test_insert_only_join_delta_equals_direct_difference(spark):
    from big_data_analysis_of_airline_data_set_spark.operators.incremental import (
        insert_only_join_delta,
    )

    base_a = spark.createDataFrame([(1, "a1"), (2, "a2")], "k long, av string")
    delta_a = spark.createDataFrame([(2, "a2new"), (3, "a3")], "k long, av string")
    base_b = spark.createDataFrame([(1, "b1"), (3, "b3old")], "k long, bv string")
    delta_b = spark.createDataFrame([(2, "b2"), (3, "b3new")], "k long, bv string")

    got = sorted(
        (r.k, r.av, r.bv)
        for r in insert_only_join_delta(base_a, delta_a, base_b, delta_b, "k").collect()
    )
    new_join = base_a.unionByName(delta_a).join(
        base_b.unionByName(delta_b), "k"
    )
    old_join = base_a.join(base_b, "k")
    want = sorted(
        (r.k, r.av, r.bv)
        for r in new_join.exceptAll(old_join).collect()
    )
    assert got == want and len(got) > 0


# ------------------------- resample + forward fill -------------------------


def test_resample_ffill_fills_gaps_hand_checked(spark):
    import datetime as dt

    from big_data_analysis_of_airline_data_set_spark.operators.timeseries import (
        resample_ffill,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 30)
    rows = [
        (1, t0, 10.0),                                # hour 0
        (1, t0 + dt.timedelta(hours=3), 7.0),         # hour 3 (gap 1-2)
        (2, t0 + dt.timedelta(hours=1), 5.0),         # single point
    ]
    df = spark.createDataFrame(rows, "series long, ts timestamp, value double")
    out = {
        (r.series, r.bucket.hour): (r.value_ffill, r.is_gap)
        for r in resample_ffill(
            df, key_col="series", ts_col="ts", value_col="value"
        ).collect()
    }
    assert out[(1, 0)] == (10.0, False)
    assert out[(1, 1)] == (10.0, True)   # carried forward
    assert out[(1, 2)] == (10.0, True)
    assert out[(1, 3)] == (7.0, False)
    assert out[(2, 1)] == (5.0, False)
    assert len(out) == 5                 # series 2 grid is one bucket


# ------------------------- review-fix regressions (r5) -------------------------


def test_target_encoding_null_category_keeps_row(spark):
    from big_data_analysis_of_airline_data_set_spark.ml.encoding import (
        target_encode_loo,
    )

    df = spark.createDataFrame(
        [(1, "a", 1), (2, "a", 0), (3, None, 1)], "id long, cat string, y int"
    )
    out = {r.id: r.target_enc
           for r in target_encode_loo(df, category_col="cat", label_col="y").collect()}
    assert set(out) == {1, 2, 3}      # NULL-category row survives
    assert out[3] is None


def test_flatten_hierarchy_missing_parent_keeps_subtree(spark):
    from big_data_analysis_of_airline_data_set_spark.operators.graph import (
        flatten_hierarchy,
    )

    # node 1 (the parent of 2) is absent: 2 and its child 3 must
    # survive, terminating at the missing id (root=1, detectable)
    rows = [(2, 1), (3, 2), (9, None)]
    df = spark.createDataFrame(rows, "node long, parent long")
    got = {r.node: (r.root, r.depth) for r in flatten_hierarchy(df).collect()}
    assert got[2] == (1, 1) and got[3] == (1, 2) and got[9] == (9, 0)


def test_snapshot_diff_null_key_guard(spark):
    from big_data_analysis_of_airline_data_set_spark.operators.incremental import (
        snapshot_diff,
    )

    old = spark.createDataFrame([(1, "a"), (None, "b")], "k long, v string")
    new = spark.createDataFrame([(1, "a")], "k long, v string")
    with pytest.raises(ValueError, match="NULL"):
        snapshot_diff(old, new, key="k", compare_cols=["v"], check_unique=True)


def test_ab_ztest_one_variant_yields_nulls_not_zero(spark):
    from big_data_analysis_of_airline_data_set_spark.stats.regression import (
        ab_proportion_ztest,
    )

    df = spark.createDataFrame([(1, True), (2, False)], "user long, conv boolean")
    r = ab_proportion_ztest(
        df,
        unit_col="user",
        variant_col=F.lit("A"),          # broken experiment: one arm
        conversion_col=F.col("conv"),
    ).first()
    assert r.variant_b is None and r.z_stat is None and r.n_b is None


def test_decode_png_truncated_before_crc_raises_valueerror(spark):
    import numpy as np

    from big_data_analysis_of_airline_data_set_spark.multimodal.codecs import (
        decode_png,
        encode_png,
    )

    blob = encode_png((np.arange(2 * 2 * 3) % 256).astype(np.uint8).reshape(2, 2, 3))
    # cut exactly between the IEND chunk's (empty) data and its CRC
    with pytest.raises(ValueError, match="truncated"):
        decode_png(blob[:-4])


# --------------------- CM-prefiltered heavy-hitter join ---------------------


def test_heavy_hitter_join_equals_plain_and_prunes(spark):
    """The cascade (CMS prefilter → exact count on survivors → join)
    must be byte-equal to the plain HAVING-count join, while the
    map-side prefilter actually drops cold rows before any shuffle."""
    from big_data_analysis_of_airline_data_set_spark.operators.heavy_hitter_join import (
        build_cms_counters,
        cms_estimate_expr,
        heavy_hitter_join,
    )

    # keys 0..4 hot (20 rows each), keys 100..299 cold (1 row each)
    rows = [(k, float(k)) for k in range(5) for _ in range(20)]
    rows += [(k, 0.5) for k in range(100, 300)]
    big = spark.createDataFrame(rows, "k long, v double")
    small = spark.createDataFrame(
        [(k, f"dim{k}") for k in range(300)], "k long, name string"
    )

    got = heavy_hitter_join(big, small, "k", min_count=10, width=4096)
    plain = (
        big.join(
            big.groupBy("k").count().filter(F.col("count") >= 10).select("k"),
            "k",
        )
        .join(small, "k")
    )
    a = sorted((r.k, r.v, r.name) for r in got.select("k", "v", "name").collect())
    b = sorted((r.k, r.v, r.name) for r in plain.collect())
    assert a == b and len(a) == 100
    assert all(r.key_count == 20 for r in got.select("key_count").collect())

    # pruning: the sketch filter alone keeps all 100 hot rows and, at
    # 300 keys over 4096 buckets, nearly none of the 200 cold rows
    counters = build_cms_counters(big.select("k"), term_col="k", width=4096)
    cms = spark.createDataFrame([(counters,)], "___cms: array<long>")
    est = cms_estimate_expr(F.col("k"), F.col("___cms"), depth=4, width=4096)
    survivors = big.crossJoin(F.broadcast(cms)).filter(est >= 10).count()
    assert 100 <= survivors < 150


def test_heavy_hitter_join_counter_geometry_checked(spark):
    from big_data_analysis_of_airline_data_set_spark.operators.heavy_hitter_join import (
        heavy_hitter_join,
    )

    big = spark.createDataFrame([(1, 1.0)], "k long, v double")
    small = spark.createDataFrame([(1, "d")], "k long, name string")
    with pytest.raises(ValueError, match="geometry"):
        heavy_hitter_join(
            big, small, "k", min_count=1, depth=4, width=1024, counters=[0] * 8
        )


def test_bloom_block_masks_never_collapse_to_one_bit(spark):
    """Blocked-layout analogue of the round-5 h2≡0 finding: a key whose
    in-block mask degenerates to very few bits behaves like a 1-hash
    filter. With k=7 independent 6-bit slices of h2, full collapse
    needs all 7 slices equal (64^-6 per key ≈ 1.5e-11 — not the
    SYSTEMATIC 1/m failure h2≡0 was); empirically every one of 20k
    keys must set ≥ 2 bits, the mean must sit near the 7-slice
    birthday expectation (~6.7), and no mask may be zero."""
    from big_data_analysis_of_airline_data_set_spark.operators.bloom_join import (
        _block_mask,
    )

    keys = spark.range(0, 20000).select(F.col("id").cast("string").alias("s"))
    bits = keys.select(F.bit_count(_block_mask(F.col("s"), 7)).alias("n"))
    stats = bits.agg(
        F.min("n").alias("lo"), F.avg("n").alias("mean")
    ).first()
    assert stats.lo >= 2
    assert 6.3 <= stats.mean <= 7.0


def test_resample_ffill_rejects_unknown_unit(spark):
    """The unit string is interpolated into BOTH date_trunc and an
    INTERVAL literal; units only one grammar accepts (quarter) or
    typos must fail at entry with a clear error, not as a SQL parse
    error from deep inside the plan."""
    from big_data_analysis_of_airline_data_set_spark.operators.timeseries import (
        resample_ffill,
    )

    df = spark.createDataFrame([(1, None, 1.0)], "series long, ts timestamp, value double")
    for bad in ("quarter", "fortnight", 7):
        with pytest.raises(ValueError, match="not supported"):
            resample_ffill(
                df, key_col="series", ts_col="ts", value_col="value", unit=bad
            )


# --------------------- sweep-line peak concurrency ---------------------


def test_peak_concurrency_hand_checked(spark):
    """Three intervals: [0h, 2h], [1h, 1h30], a point at 3h. Hour 0
    peaks at 1; hour 1 at 2 (overlap); hour 2 opens at carry 1 and
    only closes (peak = entry concurrency); hour 3's point interval
    counts (+1 sorts before -1 at the same instant — inclusive)."""
    import datetime as dt

    from big_data_analysis_of_airline_data_set_spark.operators.timeseries import (
        peak_concurrency_by_bucket,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0)
    h = dt.timedelta(hours=1)
    rows = [
        (1, 1, t0, t0 + 2 * h),
        (2, 1, t0 + h, t0 + h + dt.timedelta(minutes=30)),
        (3, 1, t0 + 3 * h, t0 + 3 * h),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, session_ordinal long, s timestamp, e timestamp"
    )
    out = {
        r.bucket - rows[0][2].toordinal() * 0: r  # buckets are absolute
        for r in peak_concurrency_by_bucket(
            df, start_col="s", end_col="e",
            tiebreak_cols=["user_id", "session_ordinal"],
        ).collect()
    }
    base = min(out)
    peaks = {b - base: (r.carry_in, r.peak_concurrent, r.net_change)
             for b, r in out.items()}
    assert peaks[0] == (0, 1, 1)
    assert peaks[1] == (1, 2, 0)   # second session opens AND closes
    assert peaks[2] == (1, 1, -1)  # only a departure; peak = entry
    assert peaks[3] == (0, 1, 0)   # point interval still counts


def test_peak_concurrency_touching_endpoints_inclusive(spark):
    """A ends exactly when B starts: inclusive semantics — both open
    at that instant, so the bucket peaks at 2."""
    import datetime as dt

    from big_data_analysis_of_airline_data_set_spark.operators.timeseries import (
        peak_concurrency_by_bucket,
    )

    t0 = dt.datetime(2024, 1, 1, 5, 0)
    m = dt.timedelta(minutes=10)
    df = spark.createDataFrame(
        [(1, 1, t0, t0 + m), (2, 1, t0 + m, t0 + 2 * m)],
        "user_id long, session_ordinal long, s timestamp, e timestamp",
    )
    r = peak_concurrency_by_bucket(
        df, start_col="s", end_col="e",
        tiebreak_cols=["user_id", "session_ordinal"],
    ).first()
    assert r.peak_concurrent == 2


def test_peak_concurrency_pre_1970_floor_buckets(spark):
    """Negative unix micros must FLOOR into bucket -1, matching a
    DuckDB `//` replay — truncation-toward-zero (`div`) would fold
    a 23:30-before-epoch interval into bucket 0."""
    import datetime as dt

    from big_data_analysis_of_airline_data_set_spark.operators.timeseries import (
        peak_concurrency_by_bucket,
    )

    s = dt.datetime(1969, 12, 31, 23, 30)
    df = spark.createDataFrame(
        [(1, 1, s, s + dt.timedelta(minutes=10))],
        "user_id long, session_ordinal long, s timestamp, e timestamp",
    )
    rows = peak_concurrency_by_bucket(
        df, start_col="s", end_col="e",
        tiebreak_cols=["user_id", "session_ordinal"],
    ).collect()
    assert [r.bucket for r in rows] == [-1]
    assert rows[0].peak_concurrent == 1


# ------- round-7 decomposition == textbook invariance guards -------


def test_ks_bucketed_cdf_equals_naive_global_window(spark):
    """The range-bucketed two-sample KS must equal the textbook
    single-window formulation exactly — including tied values that
    straddle would-be bucket boundaries."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from big_data_analysis_of_airline_data_set_spark.stats.regression import (
        ks_two_sample,
    )

    rng = random.Random(77)
    # heavy ties: values drawn from a tiny support so many duplicates
    rows = [
        (rng.choice(["a", "b"]), float(rng.choice([1, 2, 2, 3, 5, 8, 8, 13])))
        for _ in range(500)
    ]
    df = spark.createDataFrame(rows, "g string, v double")

    got = ks_two_sample(
        df, group_col="g", value_col="v", group_a="a", group_b="b"
    ).collect()[0]

    # naive reference: one global RANGE window (fine at test scale)
    pooled = df.select(F.col("g").alias("_g"), F.col("v").alias("_v"))
    w = W.orderBy("_v").rangeBetween(W.unboundedPreceding, 0)
    ca = F.sum(F.when(F.col("_g") == "a", 1).otherwise(0)).over(w)
    cb = F.sum(F.when(F.col("_g") == "b", 1).otherwise(0)).over(w)
    na = F.sum(F.when(F.col("_g") == "a", 1).otherwise(0)).over(W.partitionBy())
    nb = F.sum(F.when(F.col("_g") == "b", 1).otherwise(0)).over(W.partitionBy())
    ref = (
        pooled.select(
            F.abs(
                ca.cast("double") / na.cast("double")
                - cb.cast("double") / nb.cast("double")
            ).alias("_d")
        )
        .agg(F.round(F.max("_d"), 6).alias("ks_d"))
        .collect()[0]["ks_d"]
    )
    assert got["ks_d"] == ref
    assert got["n_a"] + got["n_b"] == 500


def test_pareto_bucketed_cumulative_equals_naive(spark, sf_dir):
    """stats_pareto_coverage's range-bucketed descending cumulative
    must reproduce the textbook global-window answer on real data."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from big_data_analysis_of_airline_data_set_spark.plans import all_queries
    from big_data_analysis_of_airline_data_set_spark.sources.readers import (
        read_testdata_table,
    )

    got = all_queries()["stats_pareto_coverage"].fn(spark, sf_dir).collect()[0]

    o = read_testdata_table(spark, sf_dir, "orders")
    per = o.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)").cast("decimal(38,2)"))
        .cast("decimal(18,2)")
        .alias("rev")
    )
    w_cum = W.orderBy(F.desc("rev"), F.asc("cust")).rowsBetween(
        W.unboundedPreceding, 0
    )
    w_all = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    ranked = per.select(
        F.row_number().over(W.orderBy(F.desc("rev"), F.asc("cust"))).alias("i"),
        F.sum(F.col("rev").cast("decimal(38,2)")).over(w_cum).alias("cum"),
        F.sum(F.col("rev").cast("decimal(38,2)")).over(w_all).alias("total"),
        F.count(F.lit(1)).over(w_all).alias("n_customers"),
    )
    ref = ranked.groupBy().agg(
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
    ).collect()[0]
    for k in (
        "n_customers",
        "total_revenue",
        "n_top_half",
        "n_top_90pct",
        "top_decile_share",
    ):
        assert got[k] == ref[k], k


def test_rfm_bucketed_quartiles_equal_naive_ntile(spark, sf_dir):
    """events_rfm_segments' decomposed quartiles must equal Spark's
    own ntile(4) windows row for row."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from big_data_analysis_of_airline_data_set_spark.plans import all_queries
    from big_data_analysis_of_airline_data_set_spark.plans.spec import US_DAY
    from big_data_analysis_of_airline_data_set_spark.sources.readers import (
        read_testdata_table,
    )

    got = {
        r["user_id"]: (r["r_q"], r["f_q"], r["m_q"])
        for r in all_queries()["events_rfm_segments"].fn(spark, sf_dir).collect()
    }

    e = read_testdata_table(spark, sf_dir, "events")
    per = e.filter(F.col("user_id").isNotNull()).groupBy("user_id").agg(
        F.max(F.unix_micros(F.col("ts"))).alias("last_us"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(
            F.col("value").cast("decimal(18,6)").cast("decimal(38,6)")
        ).cast("double").alias("monetary"),
    )
    anchor = per.agg(F.max("last_us").alias("anchor_us"))
    base = per.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        F.expr(f"(anchor_us - last_us) div {US_DAY}").alias("recency_days"),
        "frequency",
        "monetary",
    )
    ref_rows = base.select(
        "user_id",
        F.ntile(4)
        .over(W.orderBy(F.asc("recency_days"), F.asc("user_id")))
        .cast("long")
        .alias("r_q"),
        F.ntile(4)
        .over(W.orderBy(F.desc("frequency"), F.asc("user_id")))
        .cast("long")
        .alias("f_q"),
        F.ntile(4)
        .over(W.orderBy(F.desc("monetary"), F.asc("user_id")))
        .cast("long")
        .alias("m_q"),
    ).collect()
    ref = {r["user_id"]: (r["r_q"], r["f_q"], r["m_q"]) for r in ref_rows}
    assert got == ref and len(got) > 0
