"""Two builds of each interactive_mix query in one session give the same
plan fingerprint."""

import os

import pytest

from perfbench import datagen, stats
from perfbench.workloads import WORKLOAD_OPS


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from big_data_analysis_of_airline_data_set_spark.session import get_session

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    s = get_session("perfbench-tests", extra_conf={"spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    return datagen.generate(5, str(tmp_path_factory.mktemp("data") / "sf0.001"))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("op", WORKLOAD_OPS["interactive_mix"](), ids=lambda op: op.name)
def test_rebuild_has_same_fingerprint(spark, sf_dir, op):
    first = _plan(op.build(spark, sf_dir))
    second = _plan(op.build(spark, sf_dir))
    assert stats.fingerprint(first) == stats.fingerprint(second), (
        stats.normalize_plan(first), stats.normalize_plan(second)
    )
