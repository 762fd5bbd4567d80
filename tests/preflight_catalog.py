"""Dev tool: run EVERY catalog entry against its DuckDB oracle in one
session — the complete-surface version of the driver's 50-entry
correctness window (the r11 'full-catalog pre-flight', now a script
instead of a one-off loop).

Usage:
    python tests/preflight_catalog.py [--sf-dir /root/testdata/sf0.01] \
        [--only name1,name2] [--start-at name]

Prints one line per entry (ok/FAIL + seconds) and a final tally;
exits 1 on any failure. A name in --only or --start-at that is not in
the catalog (or, for --start-at, not among the --only names) exits 2
before a Spark session starts.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from tests.oracle_harness import check_query  # noqa: E402


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None, help="comma-separated names")
    ap.add_argument("--start-at", default=None, help="skip entries before this name")
    args = ap.parse_args(argv)

    from big_data_analysis_of_airline_data_set_spark.plans import all_queries
    from big_data_analysis_of_airline_data_set_spark.session import get_session

    specs = all_queries()
    names = list(specs)
    if args.only:
        names = [n for n in args.only.split(",") if n]
    unknown = [n for n in names if n not in specs]
    if args.start_at and args.start_at not in names:
        unknown.append(args.start_at)
    if unknown:
        print(f"# unknown names: {','.join(unknown)}", file=sys.stderr, flush=True)
        sys.exit(2)
    if args.start_at:
        names = names[names.index(args.start_at):]

    spark = get_session("preflight-catalog")
    spark.sparkContext.setLogLevel("ERROR")

    n_ok = n_fail = n_rows_only = 0
    failures: list[str] = []
    t_start = time.perf_counter()
    for name in names:
        spec = specs[name]
        if spec.oracle is None:
            n_rows_only += 1
            print(f"[rows-only] {name}", flush=True)
            continue
        t0 = time.perf_counter()
        try:
            check_query(spark, spec, args.sf_dir)
            n_ok += 1
            print(f"[ok]   {name} ({time.perf_counter() - t0:.1f}s)", flush=True)
        except Exception as exc:  # noqa: BLE001 — report and continue
            n_fail += 1
            failures.append(name)
            print(f"[FAIL] {name}: {exc}", flush=True)
            traceback.print_exc()
    total = time.perf_counter() - t_start
    print(
        f"# preflight: {n_ok} ok, {n_fail} fail, {n_rows_only} rows-only, "
        f"{len(names)} entries, {total:.0f}s",
        flush=True,
    )
    if failures:
        print("# failures: " + ",".join(failures), flush=True)
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
