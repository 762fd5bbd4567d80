"""End-to-end training job — reference entry-point C
(Scripts/3_cs_777_logistic_regression.py and twins, SURVEY.md §3.3):

read → rename label → temporal split by year → pipeline fit (TVS/CV
over a grid) → predict test → 6 metrics off cached predictions →
small metrics table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.local import local_rows
from .estimators import make_estimator, quick_grid, reference_grid
from .evaluation import evaluate_predictions
from .pipeline import build_feature_pipeline
from .tuning import best_params, fit_cv_prefix_once, fit_tvs_prefix_once


def temporal_split(df: DataFrame, year_col: str, test_year: int) -> tuple[DataFrame, DataFrame]:
    """Train = all years except ``test_year``; test = ``test_year``
    (Scripts/3_...py:52-53 — NOT a random split). With the table
    partitioned by year this is static partition pruning on both sides."""
    train = df.filter(F.col(year_col) != test_year)
    test = df.filter(F.col(year_col) == test_year)
    return train, test


def fit_family(
    df: DataFrame,
    *,
    categorical_cols: list[str],
    numeric_cols: list[str],
    family: str,
    year_col: str = "Year",
    test_year: int,
    tuner: str = "tvs",
    grid: str = "quick",
    mlp_layers: list[int] | None = None,
    num_folds: int = 3,
):
    """Split + grid + tuned pipeline fit for one estimator family.
    Returns ``(model, train, test, param_maps)`` so metric extraction
    and invariant extraction can share ONE fit (the fit is the expensive
    part — at scale it's hours of cluster time; never run it twice for
    two views of the same result)."""
    train, test = temporal_split(df, year_col, test_year)
    est = make_estimator(family, mlp_layers=mlp_layers)
    grid_fn = quick_grid if grid == "quick" else reference_grid
    param_maps = grid_fn(family, est)

    if tuner == "cv":
        # CV fits the parameter-free prefix once and grids over the
        # estimator alone (round-12 verdict item 6) — same folds seed,
        # same evaluator; consumers see the full-Pipeline surface
        # through PrefixTunedModel, and CV's final refit-on-full-train
        # is prefix-on-full-train in both constructions.
        model = fit_cv_prefix_once(
            build_feature_pipeline(categorical_cols, numeric_cols),
            est,
            param_maps,
            train,
            num_folds=num_folds,
        )
    else:
        # TVS fits the parameter-free prefix once and grids over the
        # estimator alone (round-12 verdict item 5) — same grid, same
        # evaluator, same split seed; consumers see the full-Pipeline
        # surface through PrefixTunedModel.
        model = fit_tvs_prefix_once(
            build_feature_pipeline(categorical_cols, numeric_cols),
            est,
            param_maps,
            train,
        )
    return model, train, test, param_maps


def training_invariants(
    spark: SparkSession,
    model,
    train: DataFrame,
    test: DataFrame,
    param_maps: list,
    *,
    family: str,
) -> DataFrame:
    """One-row, fully deterministic projection of a tuned fit — the
    oracle-checkable scaffolding invariants behind the (stochastic)
    metrics: raw temporal-split sizes (pure SQL — Scripts/3_...py:52-53),
    grid size (ParamGridBuilder product), and the fitted classifier's
    feature/class dimensions (OHE dropLast layout + label cardinality;
    the reference hard-codes these dims at Scripts/9_...py:113-115).
    Everything here is predictable from the input data + published grid,
    so a DuckDB oracle can verify the pipeline end-to-end even though
    the metric VALUES are engine-specific."""
    clf = model.bestModel.stages[-1]
    row = (
        family,
        len(param_maps),
        train.count(),
        test.count(),
        int(clf.numFeatures),
        int(clf.numClasses),
    )
    return local_rows(
        spark,
        [row],
        "family string, n_param_combos long, train_rows long, "
        "test_rows long, feature_dim long, n_classes long",
    )


def run_training_job(
    spark: SparkSession,
    df: DataFrame,
    *,
    categorical_cols: list[str],
    numeric_cols: list[str],
    family: str,
    year_col: str = "Year",
    test_year: int,
    tuner: str = "tvs",
    grid: str = "quick",
    mlp_layers: list[int] | None = None,
    num_folds: int = 3,
    round_to: int = 3,
    fitted: tuple | None = None,
) -> DataFrame:
    """Returns the reference-shaped metrics table: rows of
    (parameter, value) — best params first, then the 6 metrics
    (Scripts/3_...py:113-118). ``fitted`` (a ``fit_family`` result)
    reuses an existing fit instead of re-training."""
    model, train, test, param_maps = fitted or fit_family(
        df,
        categorical_cols=categorical_cols,
        numeric_cols=numeric_cols,
        family=family,
        year_col=year_col,
        test_year=test_year,
        tuner=tuner,
        grid=grid,
        mlp_layers=mlp_layers,
        num_folds=num_folds,
    )
    predictions = model.transform(test)
    metrics = evaluate_predictions(predictions)
    best = best_params(model) if param_maps else {}

    def fmt(v) -> str:
        # param values may be categorical ('gini'); metrics are floats
        return str(round(float(v), round_to)) if isinstance(v, (int, float)) else str(v)

    rows = [(k, fmt(v)) for k, v in best.items()]
    rows += [(k, fmt(v)) for k, v in metrics.items()]
    return local_rows(spark, rows, "parameter string, value string")
