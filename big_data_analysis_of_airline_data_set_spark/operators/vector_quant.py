"""Integer micro-unit vector quantization shared by the embedding
catalog entries (k-means assignment, PQ codebook).

Coordinates quantize as floor(x·10⁶ + 0.5) — round-half-up into
BIGINT micro-units, the engine-neutral integer quantization from the
repo's rounding contract — so squared distances are EXACT integers
and argmin comparisons never touch floats. DuckDB oracles replay the
identical formula (list_transform with the same floor expression).
Both helpers build codegen higher-order-function expressions: no
explode fan-out, no Python UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MICRO = 1_000_000.0


def quantize_micro(col: Column) -> Column:
    """array<float|double> → array<bigint> of micro-units."""
    return F.transform(
        col,
        lambda x: F.floor(
            x.cast("double") * F.lit(MICRO) + F.lit(0.5)
        ).cast("long"),
    )


def squared_distance(a: Column, b: Column) -> Column:
    """Exact BIGINT squared L2 distance between two equal-length
    micro-unit arrays (codegen zip_with + aggregate fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
