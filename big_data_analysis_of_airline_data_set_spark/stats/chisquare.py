"""Chi-square independence test (reference A4/M7).

Reference: index each categorical column with a per-column
``StringIndexer.fit`` loop (Scripts/2_cs_777_statistical_analysis_
feature_selection.py:56-57) — N sequential distributed jobs — then
``ChiSquareTest.test`` on the assembled vector (:91-93).

Scale fix (SURVEY.md §7.4.5): ONE multi-column ``StringIndexer`` fit
(single pass computes all value dictionaries), then one ChiSquareTest
job. At 100 TB this is 2 jobs instead of N+1.
"""

from __future__ import annotations

from pyspark.ml.feature import StringIndexer, VectorAssembler
from pyspark.ml.stat import ChiSquareTest
from pyspark.sql import DataFrame, SparkSession

from ..sources.local import local_rows


def index_categoricals(
    df: DataFrame, cols: list[str], *, suffix: str = "_string"
) -> tuple[DataFrame, list[str]]:
    """Frequency-desc string indexing of all ``cols`` in ONE fit
    (vs the reference's per-column loop). ``handleInvalid='skip'``
    preserved from Scripts/2_...py:57."""
    out_cols = [f"{c}{suffix}" for c in cols]
    indexer = StringIndexer(
        inputCols=cols, outputCols=out_cols, handleInvalid="skip"
    )
    return indexer.fit(df).transform(df), out_cols


def chi_square_test(
    spark: SparkSession,
    df: DataFrame,
    categorical_cols: list[str],
    label_col: str,
    *,
    round_to: int = 6,
) -> DataFrame:
    """Per-feature chi-square statistic / dof / p-value vs ``label_col``,
    as a long-form DataFrame (feature, statistic, dof, p_value)."""
    indexed, idx_cols = index_categoricals(df, categorical_cols)
    vec_col = "__chi_features"
    assembled = VectorAssembler(inputCols=idx_cols, outputCol=vec_col).transform(indexed)
    res = ChiSquareTest.test(assembled, vec_col, label_col).collect()[0]
    rows = [
        (
            categorical_cols[i],
            round(float(res.statistics[i]), round_to),
            int(res.degreesOfFreedom[i]),
            round(float(res.pValues[i]), round_to),
        )
        for i in range(len(categorical_cols))
    ]
    return local_rows(
        spark, rows, "feature string, statistic double, dof bigint, p_value double"
    )
