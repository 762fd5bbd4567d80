"""Generated-code reuse: a query run again in the same JVM must find its
whole-stage codegen classes in Spark's cache instead of recompiling
them. A cache smaller than the working set (Spark's default of 100
entries against about 180 headline classes) misses on every query of
every round, and the JVM then JIT-compiles the fresh classes again."""

from __future__ import annotations

import bench
from big_data_analysis_of_airline_data_set_spark.plans import all_queries

# Headline queries whose generated code varies from run to run, so a
# repeat can miss the cache however large it is.
_VARIES = {
    # The LSH band self-join's two sides are sibling AQE query stages.
    # Whichever finishes first decides the broadcast build side and the
    # codegen stage numbers, and both are part of the generated class
    # body, so a new finishing order compiles a new variant.
    "dedup_minhash_lsh": "sibling AQE stages finish in a varying order",
}


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_headline_pass_compiles_nothing(spark, sf_dir):
    assert set(_VARIES) <= set(bench.HEADLINE)
    specs = all_queries()
    for name in bench.HEADLINE:
        bench._materialize(specs[name].fn(spark, sf_dir))
    misses = {}
    for name in bench.HEADLINE:
        before = _compilations(spark)
        bench._materialize(specs[name].fn(spark, sf_dir))
        misses[name] = _compilations(spark) - before
    assert {n: m for n, m in misses.items() if m and n not in _VARIES} == {}
