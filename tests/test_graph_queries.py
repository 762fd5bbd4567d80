"""The graph family has one home, plans/graph_queries.py: every
``graph_*`` catalog query is declared there, its kit items are spelled
only there, and the part→supplier edge twins agree."""

from __future__ import annotations

import ast
from pathlib import Path

import duckdb

from big_data_analysis_of_airline_data_set_spark import plans
from big_data_analysis_of_airline_data_set_spark.plans import graph_queries as kit

# SQL spellings of the co-supplier CTEs and of the part→supplier edge.
_KIT_FRAGMENTS = (
    "SELECT DISTINCT l_partkey AS p, l_suppkey AS s",
    "a.p = b.p AND a.s < b.s",
    "'p' || l_partkey",
)


def _is_part_edge_concat(node: ast.AST) -> bool:
    """The Spark spelling of the edge: ``F.concat(F.lit("p"), ...)``."""
    return (
        isinstance(node, ast.Call)
        and getattr(node.func, "attr", None) == "concat"
        and any(
            isinstance(a, ast.Call)
            and getattr(a.func, "attr", None) == "lit"
            and a.args
            and isinstance(a.args[0], ast.Constant)
            and a.args[0].value == "p"
            for a in node.args
        )
    )


def test_graph_specs_declared_in_graph_queries():
    homes = {
        spec.name: mod.__name__
        for mod in plans._MODULES
        for spec in mod.QUERIES
        if spec.name.startswith("graph_")
    }
    assert set(homes.values()) == {kit.__name__}
    assert sorted(homes) == sorted(spec.name for spec in kit.QUERIES)


def test_graph_kit_items_spelled_only_in_the_kit():
    kit_path = Path(kit.__file__)
    offenders = []
    for path in sorted(kit_path.parent.glob("*.py")):
        if path == kit_path:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if _is_part_edge_concat(node) or (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and any(f in node.value for f in _KIT_FRAGMENTS)
            ):
                offenders.append((path.name, node.lineno))
    assert offenders == []


def test_part_supplier_edge_twins_agree(spark):
    rows = [(1, 10), (1, 10), (2, 10), (3, None), (None, 4)]
    li = spark.createDataFrame(rows, "l_partkey long, l_suppkey long")
    got = sorted(map(tuple, kit.part_supplier_edges(li).distinct().collect()), key=str)
    con = duckdb.connect()
    con.execute("CREATE TABLE lineitem (l_partkey BIGINT, l_suppkey BIGINT)")
    con.executemany("INSERT INTO lineitem VALUES (?, ?)", rows)
    want = sorted(con.execute(kit.PART_SUPPLIER_EDGES_SQL).fetchall(), key=str)
    assert got == want
    assert ("p1", "s10") in got and ("p3", None) in got
