"""The TPC-H family's boundary (plans/tpch.py holds all 22 adapted
shapes and nothing else declares one), plus unit tests for the
product-quantization codebook (``embedding_pq_codebook``,
plans/content.py) and inter-event gap statistics
(``events_gap_stats``, plans/events_queries.py). Oracle parity of
these queries is test_relational_queries.py::test_query_matches_oracle."""

from __future__ import annotations

from big_data_analysis_of_airline_data_set_spark import plans
from big_data_analysis_of_airline_data_set_spark.plans import all_queries, tpch


def test_all_22_tpch_shapes_present():
    """plans/tpch.py declares exactly the 22 adapted TPC-H shapes, in
    query order, and no other catalog module declares a ``tpch_``
    name (Q11/Q20 substitute lineitem volume for the absent partsupp
    columns; every adaptation is documented in its docstring)."""
    assert tpch in plans._MODULES
    names = [spec.name for spec in tpch.QUERIES]
    assert names == [f"tpch_q{q}_style" for q in range(1, 23)]
    strays = [
        spec.name
        for mod in plans._MODULES
        if mod is not tpch
        for spec in mod.QUERIES
        if spec.name.startswith("tpch_")
    ]
    assert strays == []


def test_pq_every_subvector_assigned(spark, sf_dir):
    """8 subspaces x full table: occupancy sums to 8 * n_vectors."""
    from big_data_analysis_of_airline_data_set_spark.sources.readers import (
        read_testdata_table,
    )

    out = all_queries()["embedding_pq_codebook"].fn(spark, sf_dir)
    rows = out.collect()
    n = read_testdata_table(spark, sf_dir, "embeddings").count()
    assert sum(r.n_assigned for r in rows) == 8 * n
    assert {r.sub for r in rows} == set(range(8))
    assert all(r.mean_sq_err >= 0.0 for r in rows)


def test_gap_stats_mean_bounded_by_max(spark, sf_dir):
    out = all_queries()["events_gap_stats"].fn(spark, sf_dir)
    for r in out.collect():
        assert 0.0 <= r.mean_gap_s <= r.max_gap_s
        assert 0.0 <= r.share_gt_1h <= 1.0


def test_pq_subspace_assignment_matches_bruteforce(spark):
    """Seeded randomized consistency: for a small synthetic table,
    the distributed PQ argmin must equal a NumPy brute-force
    computation of the same integer-quantized distances."""
    import numpy as np

    rng = np.random.default_rng(777)
    n, d = 40, 16  # 2 subspaces of 8 when sliced the same way
    vecs = rng.uniform(-0.5, 0.5, size=(n, d)).astype("float32")

    from pyspark.sql import functions as F

    from big_data_analysis_of_airline_data_set_spark.operators.vector_quant import (
        quantize_micro,
        squared_distance,
    )

    df = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    q = df.select("vec_id", quantize_micro(F.col("embedding")).alias("vq"))
    cents = (
        df.orderBy("vec_id")
        .limit(4)
        .select(
            F.col("vec_id").alias("cid"),
            quantize_micro(F.col("embedding")).alias("cq"),
        )
    )
    best = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            F.struct(
                squared_distance(F.col("vq"), F.col("cq")).alias("d2"),
                F.col("cid"),
            ).alias("s"),
        )
        .groupBy("vec_id")
        .agg(F.min("s").alias("s"))
        .select("vec_id", F.col("s.cid").alias("cid"))
    )
    got = {r.vec_id: r.cid for r in best.collect()}

    qv = np.floor(vecs.astype("float64") * 1e6 + 0.5).astype("int64")
    cq = qv[:4]
    for i in range(n):
        d2 = ((qv[i][None, :] - cq) ** 2).sum(axis=1)
        # argmin with (d2, cid) tiebreak
        want = min(range(4), key=lambda c: (d2[c], c))
        assert got[i] == want, (i, got[i], want, d2.tolist())
