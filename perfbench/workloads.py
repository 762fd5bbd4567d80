"""The benchmark's workloads: which catalog calls make one op, and how
each op's output is checked against its DuckDB oracle.

An op is one call into the catalog that returns a DataFrame; the runner
times the call plus its materialisation through the noop sink. Three
kinds of op differ only in how they are checked:

- ``query``: the op's own result is collected and compared with the
  query's oracle.
- ``drain``: a streaming drain. Timed through the noop sink, as
  ``bench.py`` times drains; checked by draining again to the memory
  sink, the path the driver's correctness check uses.
- ``fit``: one ML family's tuned fit plus its raw metrics table. The
  fit cache is cleared before every op so every op fits; the check
  reuses the op's own fit through the family's banded-metrics query.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

import bench
from big_data_analysis_of_airline_data_set_spark.plans import all_queries, ml_queries
from big_data_analysis_of_airline_data_set_spark.streaming import jobs as stream_jobs
from tests.oracle_harness import assert_frames_match, check_query, run_oracle

ML_TUNER = "tvs"


@dataclass(frozen=True)
class Op:
    name: str
    kind: str  # "query" | "drain" | "fit"
    build: Callable[[SparkSession, str], DataFrame]

    @property
    def family(self) -> str:
        return self.name.removeprefix("ml_")


def _catalog_op(name: str, kind: str = "query") -> Op:
    return Op(name, kind, all_queries()[name].fn)


def _fit_op(family: str) -> Op:
    return Op(f"ml_{family}", "fit", ml_queries.raw_metrics_query(family, ML_TUNER))


# interactive_mix: the 16 headline queries, lazily built plans.
# eager_pipeline: ops that launch their jobs inside the call.
WORKLOAD_OPS: dict[str, Callable[[], list[Op]]] = {
    "interactive_mix": lambda: [_catalog_op(n) for n in bench.HEADLINE],
    "eager_pipeline": lambda: [
        _catalog_op("graph_k_core"),
        _fit_op("logistic_regression"),
        _catalog_op("events_tumbling_stream", "drain"),
        _catalog_op("sink_partitioned_roundtrip"),
        _catalog_op("flights_cleaning_job"),
    ],
}


def _fit_key(spark: SparkSession, sf_dir: str, op: Op) -> tuple:
    """The fit cache key ``ml_queries._fitted`` uses for this op."""
    return (spark.sparkContext.applicationId, sf_dir, op.family, ML_TUNER)


def fit_of(spark: SparkSession, sf_dir: str, op: Op):
    """The fit a fit op just made (None for other ops)."""
    if op.kind != "fit":
        return None
    return ml_queries._FIT_CACHE.get(_fit_key(spark, sf_dir, op))


def fit_only(spark: SparkSession, sf_dir: str, op: Op) -> None:
    """The fit half of a fit op on its own, for the traced run's split
    of ``ml.fit_s`` from ``ml.eval_s``."""
    ml_queries._fitted(spark, sf_dir, op.family, ML_TUNER)


def before_op(op: Op) -> None:
    """Cache policy: a fit op always fits."""
    if op.kind == "fit":
        ml_queries._FIT_CACHE.clear()


def query_oracles(ops: list[Op], sf_dir: str) -> dict[str, object]:
    """The DuckDB result, or the error it raised, of every query op's
    oracle. Depends only on the inputs, so it can run before Spark does."""
    specs = all_queries()
    out: dict[str, object] = {}
    for op in ops:
        if op.kind == "query":
            try:
                out[op.name] = run_oracle(specs[op.name].oracle, sf_dir)
            except Exception as exc:  # noqa: BLE001 — raised again by check()
                out[op.name] = exc
    return out


def check(
    spark: SparkSession, sf_dir: str, op: Op, df: DataFrame, op_fit, oracles: dict
) -> None:
    """Raise AssertionError when the op's output does not match its
    oracle. ``df`` is the op's last result, ``op_fit`` the fit it made
    (fit ops only) and ``oracles`` the output of ``query_oracles``."""
    specs = all_queries()
    if op.kind == "query":
        expected = oracles[op.name]
        if isinstance(expected, Exception):
            raise expected
        assert_frames_match(df.toPandas(), expected, op.name)
    elif op.kind == "drain":
        saved = stream_jobs.DRAIN_SINK
        stream_jobs.DRAIN_SINK = "memory"
        try:
            check_query(spark, specs[op.name], sf_dir)
        finally:
            stream_jobs.DRAIN_SINK = saved
    else:
        ml_queries._FIT_CACHE.put(_fit_key(spark, sf_dir, op), op_fit)
        check_query(spark, specs[f"ml_{op.family}_metrics_banded"], sf_dir)
