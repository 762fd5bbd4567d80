"""Driver-side rows as a DataFrame: ``local_rows``, the package's one
way to turn a handful of Python rows (a metrics table, a top-k, a
selected-feature list, an empty frame of a known schema) into a
DataFrame."""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_rows(
    spark: SparkSession, rows: Iterable[Sequence], schema: StructType | str
) -> DataFrame:
    """``rows`` (tuples or ``Row``s, matched to ``schema`` by position)
    as a DataFrame whose plan is a ``LocalTableScan``. ``schema`` is a
    ``StructType`` or a DDL string such as ``"name string, n long"``.

    Why not ``spark.createDataFrame(rows, schema)``: from a Python list
    that builds a Python RDD, so the plan is an ``ExistingRDD`` scan
    with ``defaultParallelism`` partitions, and every action on it
    starts the Python worker daemon and runs one Python task per core
    to hand back rows the driver already holds. Here the rows go to the
    JVM once, as an Arrow table, and Spark keeps them in the plan as a
    local relation (below ``spark.sql.execution.arrow.
    localRelationThreshold``, 48 MB by default): collecting it runs no
    job, and no action on it needs a Python worker.

    Values convert as the old path converted them: ``None`` is NULL,
    ``[]`` an empty array, NaN and ±inf stay doubles. A naive
    ``datetime`` for a ``timestamp`` column is read as UTC (the old
    path read it in the driver process's local zone — the same where
    that zone is UTC)."""
    struct = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    arrow = to_arrow_schema(struct)
    rows = list(rows)
    columns = [
        pa.array([r[i] for r in rows], type=field.type)
        for i, field in enumerate(arrow)
    ]
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow), struct)
