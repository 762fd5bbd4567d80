"""MLP layer sweep — reference script 9's manual tuning loop
(Scripts/9_cs_777_multi_layer_perceptron.py:81-88,113-115): the layer
SHAPES are swept by constructing one estimator per shape (the input dim
is data-dependent — the hard-coded 827/438/823 values there are the OHE
output dims of its three feature sets), each fit/evaluated on the
temporal split, best picked by test AUC on the driver (O1 semantics).
"""

from __future__ import annotations

from pyspark.ml.evaluation import BinaryClassificationEvaluator
from pyspark.sql import DataFrame, SparkSession

from ..sources.local import local_rows
from .estimators import make_estimator
from .pipeline import build_pipeline


def mlp_layer_sweep(
    spark: SparkSession,
    train: DataFrame,
    test: DataFrame,
    *,
    categorical_cols: list[str],
    numeric_cols: list[str],
    layer_options: list[list[int]],
    max_iter: int = 15,
    round_to: int = 3,
) -> DataFrame:
    """(layers, area_ROC) per swept shape plus a best-row marker."""
    evaluator = BinaryClassificationEvaluator(metricName="areaUnderROC")
    results: list[tuple[str, float]] = []
    for layers in layer_options:
        est = make_estimator("mlp", mlp_layers=layers)
        est.setMaxIter(max_iter)
        pipe = build_pipeline(categorical_cols, numeric_cols, est)
        model = pipe.fit(train)
        auc = evaluator.evaluate(model.transform(test))
        results.append(("x".join(map(str, layers)), round(float(auc), round_to)))
    best = max(results, key=lambda t: t[1])[0]
    rows = [(shape, auc, shape == best) for shape, auc in results]
    return local_rows(spark, rows, "layers string, area_ROC double, is_best boolean")
