"""Dev tool: write ``df.explain('formatted')`` for catalog queries to
files, one per query, normalized by ``perfbench.stats.normalize_plan``
(expression ids, exchange plan ids and lambda-variable suffixes
stripped) and with the session's running counters masked
(``MapPartitionsRDD[1325]`` becomes ``MapPartitionsRDD[]``,
``_common_expr_34`` becomes ``_common_expr_``: both count what the
session built before, so they shift with whatever ran earlier). The
call site Spark records for an RDD (``at localCheckpoint at
NativeMethodAccessorImpl.java:0``, or ``at <unknown>:0`` in a fresh
process) and the IVF index's temp directory (``ivf_index_k3j9x``) are
masked too. Two
captures of the same code are then byte-identical, so a plan-parity
check between two checkouts is one ``diff -r``. Driver-side
only: plans are analyzed, never executed, except for queries that
materialize internally (iterative loops), whose returned frame is a
local/cached result — those are captured anyway.

Usage:
    python tests/capture_plans.py --out-dir /tmp/plans_a \
        [--suffix _after] [--sf-dir SF_DIR] [name1 name2 ...]
    diff -r /tmp/plans_a /tmp/plans_b   # empty exactly when plans match

Without query names it captures every registry query in registry
order, the full-catalog capture a plan-parity check needs on both
sides.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from perfbench.stats import normalize_plan  # noqa: E402

_SESSION_COUNTER = re.compile(r"(?<=RDD\[)\d+(?=\])|(?<=_common_expr_)\d+")
_CALL_SITE = re.compile(r"(RDD\[\] at \w+ at )\S+:\d+")
_IVF_INDEX_DIR = re.compile(r"(?<=ivf_index_)\w+")


def normalize(plan: str) -> str:
    """``normalize_plan`` plus masked RDD ids, common-expression ids, RDD
    call sites and IVF index directories."""
    plan = _SESSION_COUNTER.sub("", normalize_plan(plan))
    return _IVF_INDEX_DIR.sub("", _CALL_SITE.sub(r"\1<call site>", plan))


def selected(names: list[str]) -> list[str]:
    """``names``, or every registry query in registry order if none."""
    from big_data_analysis_of_airline_data_set_spark.plans import all_queries

    return names or list(all_queries())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--suffix", default="")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    from big_data_analysis_of_airline_data_set_spark.plans import all_queries
    from big_data_analysis_of_airline_data_set_spark.plans.events_queries import (
        ensure_events_landed,
    )
    from big_data_analysis_of_airline_data_set_spark.session import get_session

    os.makedirs(args.out_dir, exist_ok=True)
    spark = get_session("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_events_landed(spark, args.sf_dir)
    specs = all_queries()
    for name in selected(args.queries):
        df = specs[name].fn(spark, args.sf_dir)
        text = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(args.out_dir, f"{name}{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(normalize(text))
        print(f"wrote {path} ({len(text)} bytes)", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
