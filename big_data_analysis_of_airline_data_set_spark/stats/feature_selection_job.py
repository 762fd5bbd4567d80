"""End-to-end feature-selection job — reference entry-point B
(Scripts/2_cs_777_statistical_analysis_feature_selection.py,
SURVEY.md §3.2): correlation matrix → chi-square test → univariate
selectors (cat χ² / num ANOVA-F) → variance-threshold selection →
selected-feature lists.

Differences from the reference, by design:
- one multi-column StringIndexer fit instead of a per-column loop
  (N+1 jobs → 2, SURVEY.md §7.4.5);
- the script-2 list-mutation bug (removing from the iterated list,
  Scripts/2_...py:73-75) is NOT replicated — selections are computed
  functionally (SURVEY.md §2.12.7);
- results land in small DataFrames (the reference's pandas-to-CSV tail
  is the caller's concern via sources.writers.write_report_csv).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.local import local_rows
from .chisquare import chi_square_test
from .correlation import correlation_pairs_df
from .selectors import select_univariate_categorical, select_univariate_continuous
from .variance import variance_threshold_select


def feature_selection_job(
    spark: SparkSession,
    df: DataFrame,
    *,
    categorical_cols: list[str],
    numeric_cols: list[str],
    label_col: str,
    num_top_categorical: int = 3,
    num_top_continuous: int = 7,
    variance_k: int = 6,
) -> dict[str, DataFrame]:
    """Returns the job's artifact tables keyed by name:
    correlation (long-form pairs), chi_square (per-feature stats),
    selected (method × feature list — the model-input feature sets the
    training jobs consume, reference S3)."""
    k = min(variance_k, len(numeric_cols))
    corr = correlation_pairs_df(spark, df, numeric_cols)
    chi = chi_square_test(spark, df, categorical_cols, label_col)
    sel_cat = select_univariate_categorical(
        df, categorical_cols, label_col,
        num_top=min(num_top_categorical, len(categorical_cols)),
    )
    sel_num = select_univariate_continuous(
        df, numeric_cols, label_col,
        num_top=min(num_top_continuous, len(numeric_cols)),
    )
    sel_var, threshold = variance_threshold_select(df, numeric_cols, k=k)

    selected_rows = (
        [("univariate_categorical", c) for c in sorted(sel_cat)]
        + [("univariate_continuous", c) for c in sorted(sel_num)]
        + [("variance_threshold", c) for c in sorted(sel_var)]
    )
    selected = local_rows(spark, selected_rows, "method string, feature string")
    return {"correlation": corr, "chi_square": chi, "selected": selected}
