"""Quantized-first-pass ANN: int8 scoring → exact rerank.

The production two-stage retrieval shape for a 100 TB vector corpus:
score every vector with cheap int8 dot products (4× less memory
traffic than float32, SIMD-friendly integer math), keep a candidate
pool ~3× the requested k, then rerank only the pool with exact float
cosine. Complements the bucketed paths (similarity/lsh.py, ivf.py):
those prune WHICH vectors get scored, this cheapens HOW each one is
scored — real deployments stack both.

Engine-exact by construction, so the DuckDB oracle replays the whole
pipeline rather than assuming it equals brute force:

- codes = floor(x · 127/max|x| + 0.5) — the same engine-neutral
  rounding contract as similarity/quantize.py (round() half-case
  behavior differs across engines; floor(+0.5) does not);
- int_score = Σ qᵢcᵢ over int8-range codes: |score| ≤ d·127² — exact
  in int64 (and in IEEE doubles, which is how SQL list_dot_product
  over floor()-valued lists computes it);
- candidate pool = top-``candidates`` by (int_score DESC, id ASC),
  executed as TakeOrderedAndProject (per-partition heaps, no global
  sort);
- final = exact double cosine over the pool only, round(6).

Quantization happens in an Arrow-batched pandas UDF for the same
reason quantize.py documents: the per-vector scale referenced inside a
JVM higher-order-function lambda is re-evaluated per element (O(d²)
per row); numpy does the batch in O(n·d) with one Arrow transfer and
no shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from ..dedup.embedding import cosine_to_const_expr
from ..sources.local import local_rows


def _int8_codes(x: np.ndarray) -> np.ndarray:
    m = np.max(np.abs(x)) if x.size else 0.0
    if m == 0.0:
        return np.zeros(x.size, dtype=np.int64)
    return np.floor(x * (127.0 / m) + 0.5).astype(np.int64)


def quantized_rerank_topk(
    df: DataFrame,
    query_vec: list[float],
    *,
    id_col: str,
    vec_col: str,
    k: int = 10,
    candidates: int = 30,
) -> DataFrame:
    """(id, int_score, cosine) of the top-``k`` rows by exact cosine
    among the ``candidates``-sized int8-dot-product pool."""
    qc = _int8_codes(np.asarray(query_vec, dtype=np.float64))

    @pandas_udf(LongType())
    def int8_dot(vecs: pd.Series) -> pd.Series:
        out = []
        for v in vecs:
            c = _int8_codes(np.asarray(v, dtype=np.float64))
            out.append(int(c @ qc) if c.size == qc.size else 0)
        return pd.Series(out, dtype="int64")

    pool = (
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("_v"),
            int8_dot(F.col(vec_col).cast("array<double>")).alias("int_score"),
        )
        .orderBy(F.desc("int_score"), F.asc("id"))
        .limit(candidates)
    )
    return (
        pool.select(
            "id",
            "int_score",
            F.round(cosine_to_const_expr(F.col("_v"), query_vec), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


def kcenter_coreset_quantized(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Greedy k-center coreset selection in the int8-quantized space —
    the diversity-maximizing data-selection pass (pick the point least
    similar to everything already chosen, k times; Sener & Savarese's
    coreset shape) run on quantized codes so every comparison is
    INTEGER-exact and a SQL oracle replays the full greedy trajectory:
    float k-center argmaxes can flip on last-ulp distance ties across
    engines; int8 dot products cannot.

    Semantics: seed = lowest id. Each round scores every row by its
    MAX int8 dot product against the chosen centers (signed similarity
    — higher means closer) and picks the row with the MINIMUM score,
    ties to the lowest id. The seed's score is reported as 0 by
    convention (it has no prior centers).

    Scale shape: k scans, each a map-side Arrow-batched scoring pass +
    TakeOrderedAndProject(1); centers are a k-row driver artifact
    (bounded, like the DSIR bucket model). No shuffle anywhere.
    """
    ordered = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_v"))
    seed = ordered.orderBy(F.asc("id")).first()
    if seed is None:
        raise ValueError("kcenter_coreset_quantized: empty input")
    centers = [(0, int(seed.id), 0)]
    center_codes = [_int8_codes(np.asarray(seed._v, dtype=np.float64))]

    for rank in range(1, k):
        codes_snapshot = [c.copy() for c in center_codes]

        @pandas_udf(LongType())
        def max_center_sim(vecs: pd.Series) -> pd.Series:
            out = []
            for v in vecs:
                c = _int8_codes(np.asarray(v, dtype=np.float64))
                out.append(max(int(c @ cc) for cc in codes_snapshot))
            return pd.Series(out, dtype="int64")

        chosen_ids = [cid for _, cid, _ in centers]
        far = (
            ordered.filter(~F.col("id").isin(chosen_ids))
            .select("id", "_v", max_center_sim(F.col("_v").cast("array<double>")).alias("s"))
            .orderBy(F.asc("s"), F.asc("id"))
            .limit(1)
            .first()
        )
        if far is None:  # fewer than k rows — return what exists
            break
        centers.append((rank, int(far.id), int(far.s)))
        center_codes.append(_int8_codes(np.asarray(far._v, dtype=np.float64)))

    spark = df.sparkSession
    return local_rows(
        spark, centers, "center_rank long, id long, max_center_sim long"
    )
