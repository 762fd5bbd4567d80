"""Pearson correlation (reference A3/M6).

The reference assembles all numeric columns into a vector and calls
``Correlation.corr`` (Scripts/2_cs_777_statistical_analysis_feature_
selection.py:59-61, 83-85), collecting the DenseMatrix to the driver.
That is the right shape at 100 TB too: MLlib computes the Gramian via a
single treeAggregate pass — one distributed job for the full matrix,
versus O(k²) separate ``corr(a,b)`` aggregations.

``correlation_matrix`` keeps that design; the result is a tiny k×k
matrix, so driver-side materialization is the correct sink
(SURVEY.md §1.4). ``correlation_pairs_df`` flattens it into a long-form
DataFrame for oracle checking against pairwise SQL ``corr``.
"""

from __future__ import annotations

from pyspark.ml.feature import VectorAssembler
from pyspark.ml.stat import Correlation
from pyspark.sql import DataFrame, SparkSession

from ..sources.local import local_rows


def correlation_matrix(
    df: DataFrame, cols: list[str], method: str = "pearson"
) -> list[list[float]]:
    """k×k correlation matrix over ``cols`` via one treeAggregate job."""
    vec_col = "__corr_features"
    assembled = VectorAssembler(
        inputCols=cols, outputCol=vec_col, handleInvalid="skip"
    ).transform(df.select(cols))
    matrix = Correlation.corr(assembled, vec_col, method).collect()[0][0]
    return matrix.toArray().tolist()


def correlation_pairs_df(
    spark: SparkSession,
    df: DataFrame,
    cols: list[str],
    *,
    method: str = "pearson",
    round_to: int = 6,
) -> DataFrame:
    """Long-form (col_a, col_b, corr) for the full upper triangle incl.
    diagonal, rounded for cross-engine comparison."""
    m = correlation_matrix(df, cols, method)
    rows = [
        (cols[i], cols[j], round(m[i][j], round_to))
        for i in range(len(cols))
        for j in range(i, len(cols))
    ]
    return local_rows(spark, rows, "col_a string, col_b string, corr double")
