"""Named query catalog — the judge-visible surface.

Each module contributes ``QUERIES: list[QuerySpec]``; this package
merges them, keyed by ``spec.name``. ``__spark_entry__.py`` exposes
exactly this registry to the external correctness harness.

The harness checks only the first 50 entries. ``correctness_window``
derives them from the committed ``CORRECTNESS_r*.json`` ledger:
``_CHANGED_THIS_ROUND`` first, then names with no passing ledger row
(registry order), then the oldest latest passing round (ties by name).
"""

from __future__ import annotations

import functools
import json
import re
from importlib import import_module
from pathlib import Path

from .spec import QuerySpec

# Registry order: outside the correctness window, specs follow this list.
_MODULES = [
    import_module(f"{__name__}.{m}")
    for m in (
        "relational",
        "relational2",
        "relational3",
        "patterns",
        "graph_queries",
        "tpch",
        "statistics",
        "experiments",
        "ml_queries",
        "content",
        "curation_queries",
        "events_queries",
        "flights_job",
        "scale_ops",
        "multimodal_queries",
    )
]

_REPO_ROOT = Path(__file__).resolve().parents[2]
_WINDOW_SIZE = 50

# Names whose plans this round changed; they re-prove first.
_CHANGED_THIS_ROUND: tuple[str, ...] = (
    "stats_power_analysis",
    "events_uplift_by_segment",
    "events_tumbling_stream",
    "events_sliding_stream",
    "events_session_stream",
    "events_interval_join_stream",
    "events_dedup_stream",
    "events_kmv_stream",
    "events_hll_stream",
    "events_cms_stream",
    "events_quantile_sketch_stream",
    "events_enrich_stream",
    "events_user_totals_stream",
    "events_spacesaving_stream",
    "graph_triangles",
    "coreset_kcenter",
    "curation_dsir_resample",
    "feature_selection_job",
    "join_bloom_prefiltered",
    "join_bucketed_colocated",
    "ml_decision_tree_metrics_banded",
    "ml_decision_tree_tvs",
    "ml_gbt_metrics_banded",
    "ml_gbt_tvs",
    "ml_linear_svc_metrics_banded",
    "ml_linear_svc_tvs",
    "ml_logistic_regression_cv",
    "ml_logistic_regression_cv_metrics_banded",
    "ml_logistic_regression_metrics_banded",
    "ml_logistic_regression_tvs",
    "ml_mlp_metrics_banded",
    "ml_mlp_tvs",
    "ml_naive_bayes_metrics_banded",
    "ml_naive_bayes_tvs",
    "ml_random_forest_metrics_banded",
    "ml_random_forest_tvs",
    "ml_reference_bands",
    "ml_variant_sweep",
    "mllib_chi_square",
    "mllib_correlation_matrix",
    "range_join_bucketized",
    "ri_orphans",
    "sink_jsonl_roundtrip",
    "sink_orc_roundtrip",
    "sink_partitioned_roundtrip",
    "sink_report_csv_roundtrip",
    "spearman_correlation",
    "text_inverted_index",
    "univariate_select_categorical",
)


@functools.cache
def _latest_passing_round(ledger_dir: Path) -> dict[str, int]:
    """name → the latest round whose ledger row matched on every check."""
    latest: dict[str, int] = {}
    for path in ledger_dir.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m is None:
            continue
        rnd = int(m.group(1))
        for name, row in json.loads(path.read_text()).items():
            passed = row["rows_match"] and row["schema_match"] and row["hash_match"]
            if passed and row["err"] is None:
                latest[name] = max(latest.get(name, rnd), rnd)
    return latest


def correctness_window(names: list[str], ledger_dir: Path = _REPO_ROOT) -> list[str]:
    """The first ``_WINDOW_SIZE`` of ``names`` in correctness-window order.
    A ``_CHANGED_THIS_ROUND`` longer than the window raises: the names
    past it would silently go unchecked."""
    unknown = [n for n in _CHANGED_THIS_ROUND if n not in names]
    if unknown:
        raise ValueError(f"changed names not in registry: {unknown}")
    if len(_CHANGED_THIS_ROUND) > _WINDOW_SIZE:
        raise ValueError(
            f"{len(_CHANGED_THIS_ROUND)} changed names overflow the "
            f"{_WINDOW_SIZE}-name window: {list(_CHANGED_THIS_ROUND[_WINDOW_SIZE:])}"
        )
    latest = _latest_passing_round(ledger_dir)
    never = [n for n in names if n not in latest]
    aged = sorted((n for n in names if n in latest), key=lambda n: (latest[n], n))
    return list(dict.fromkeys([*_CHANGED_THIS_ROUND, *never, *aged]))[:_WINDOW_SIZE]


def all_queries() -> dict[str, QuerySpec]:
    merged: dict[str, QuerySpec] = {}
    for mod in _MODULES:
        for spec in mod.QUERIES:
            if spec.name in merged:
                raise ValueError(f"duplicate query name: {spec.name}")
            merged[spec.name] = spec
    window = correctness_window(list(merged))
    return {n: merged[n] for n in [*window, *merged]}


__all__ = ["QuerySpec", "all_queries", "correctness_window"]
