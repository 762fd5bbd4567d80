"""The experimentation kit in plans/experiments.py: each Spark spelling
and its DuckDB twin give identical values on hand-built rows, and no
other plan module spells a kit item again."""

from __future__ import annotations

import ast
from decimal import Decimal
from pathlib import Path

import duckdb
from pyspark.sql import functions as F

from big_data_analysis_of_airline_data_set_spark.plans import experiments as kit

# A plan module that spells one of these again has forked the family's
# arithmetic: the pinned z literals, the arm and the DuckDB widening.
_KIT_FLOATS = {1.959964, 0.841621}
_KIT_FRAGMENTS = ("user_id % 2", "DECIMAL(19,6)")


def test_kit_items_spelled_only_in_the_kit():
    kit_path = Path(kit.__file__)
    offenders = []
    for path in sorted(kit_path.parent.rglob("*.py")):
        if path == kit_path:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom) and any(
                a.name == "md5_parity_arm_sql" for a in node.names
            ):
                offenders.append((path.name, node.lineno, "md5_parity_arm_sql"))
            elif isinstance(node, ast.Constant) and (
                node.value in _KIT_FLOATS
                or isinstance(node.value, str)
                and any(f in node.value for f in _KIT_FRAGMENTS)
            ):
                offenders.append((path.name, node.lineno, node.value))
    assert offenders == []


def test_arm_twins_agree(spark):
    ids = [0, 1, 2, 7, 10, 11, 12345, 2**40 + 1, 2**62]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (user_id BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(u,) for u in ids])
    df = spark.createDataFrame([(u,) for u in ids], "user_id long")
    arms = [kit.user_arm(), kit.md5_parity_arm(F.col("user_id"))]
    got = {r[0]: tuple(r[1:]) for r in df.select("user_id", *arms).collect()}
    want = con.execute(
        f"SELECT user_id, {kit.USER_ARM_SQL}, {kit.md5_parity_arm_sql('user_id')} FROM t"
    ).fetchall()
    assert got == {r[0]: tuple(r[1:]) for r in want}
    assert {a for pair in got.values() for a in pair} == {0, 1}


def test_power_sums_exact_past_the_int64_product(spark):
    """Per-user sums near the DECIMAL(18,6) ceiling square past int64 in
    their scaled form; the widened DuckDB product and the Spark exact
    sum still agree to the last digit."""
    vals = ["999999999999.999999", "-123456789012.345678", "0.000001", "1.5", None]
    rows = [(i, Decimal(v) if v else None) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, v decimal(18,6)")
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, v DECIMAL(18,6))")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    v = F.col("v")
    got = df.agg(kit.exact_sum(v, 6), kit.exact_sum(v * v, 12)).collect()[0]
    want = con.execute(
        f"SELECT CAST(SUM(v) AS DOUBLE), "
        f"CAST(SUM({kit.widened_product_sql('v', 'v')}) AS DOUBLE) FROM t"
    ).fetchone()
    assert tuple(got) == want
    assert got[1] == float(sum(Decimal(x) ** 2 for x in vals if x))


def test_spend_square_keeps_all_twelve_decimals(spark):
    """Σv² over a DECIMAL(28,6) per-user sum is exact: squared as
    DECIMAL(38,6) it would drop 0.000000323664 from 1234.567892²."""
    v = Decimal("1234.567892")
    df = spark.createDataFrame([(v,)], "v decimal(28,6)")
    got = df.agg(*kit.spend_moments("n")).collect()[0]
    con = duckdb.connect()
    want = con.execute(
        f"SELECT CAST({kit.widened_product_sql('v', 'v')} AS DOUBLE)"
        " FROM (SELECT CAST(? AS DECIMAL(28,6)) AS v)",
        [v],
    ).fetchone()[0]
    assert v * v == Decimal("1524157.879957323664")
    assert got["svv"] == want == float(v * v)
    assert got["svv"] != float(Decimal("1524157.879957"))
