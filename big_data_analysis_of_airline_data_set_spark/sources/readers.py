"""Readers: Parquet primary, CSV compatibility path.

Replaces reference S1-S3 (SURVEY.md §2.1): the reference reads headered
CSV with ``inferSchema=True`` (two passes) and unions five yearly files
positionally (``nb:4-5``). Here:

- Parquet with explicit schema — single pass, columnar, predicate/column
  pushdown into row-group stats, splittable at 100 TB.
- Multi-file ingest is one glob scan, not N reads + N-1 unions.
- CSV stays available (explicit schema, no inference) for compatibility
  with the reference's file format.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from ..caching import BoundedCache
from .schemas import TESTDATA_SCHEMAS, TESTDATA_TABLES


def read_parquet_table(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """Parquet scan. ``schema`` (when given) pins the read schema so a
    drifted file fails fast instead of silently widening types."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    *,
    header: bool = True,
) -> DataFrame:
    """CSV scan with a REQUIRED explicit schema — kills the reference's
    ``inferSchema=True`` extra pass (Scripts/1_cs_777_cleaning_data.py:30)."""
    return spark.read.csv(path, header=header, schema=schema)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _normalize_events(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to session-TZ ``TimestampType`` regardless of
    how the file on disk encodes it.  The driver's testdata has shipped
    BOTH encodings across rounds — parquet TIMESTAMP(NANOS) (readable only
    as epoch-nanos long via ``nanosAsLong``) and TIMESTAMP(MICROS) — so the
    encoding is DETECTED from the scanned dtype, never assumed:

    - ``LongType``      → epoch-nanos under the legacy flag; integer ``div
      1000`` to micros (a double division would lose bits at 1.7e18).
    - ``TimestampNTZType`` → micros/millis read as wall-clock; reinterpret
      in the session TZ (UTC — ``session.py``), matching how DuckDB and the
      driver's oracle read the same file.
    - ``TimestampType`` → already right; pass through.
    """
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast(TimestampType()))
    elif not isinstance(ts_type, TimestampType):
        raise TypeError(f"events.ts: unexpected parquet type {ts_type}")
    return df


# Widenings that preserve values exactly — anything else is REAL drift
# and must fail loudly, not be papered over by a cast.
_INTEGRALS = (ByteType, ShortType, IntegerType, LongType)

# (applicationId, path) → the file's self-described schema; see
# read_testdata_table. LRU-bounded: a long-lived session cycling many
# sf_dirs keeps only the most recent footers (the bound guards the key
# space, ~10 tables × live sf_dirs).
_ON_DISK_SCHEMA_CACHE: BoundedCache[tuple, StructType] = BoundedCache(64)


def _on_disk_schema(spark: SparkSession, path: str) -> StructType:
    """The parquet footer's schema of ``path``, inferred once per
    (session, path). Inference is a Spark job, and files under a given
    path don't change type mid-session."""
    return _ON_DISK_SCHEMA_CACHE.get_or_build(
        (spark.sparkContext.applicationId, path),
        lambda: read_parquet_table(spark, path).schema,
    )


def _safe_cast_ok(actual: DataType, expected: DataType) -> bool:
    if isinstance(expected, LongType) and isinstance(actual, _INTEGRALS):
        return True
    if isinstance(expected, IntegerType) and isinstance(
        actual, (ByteType, ShortType, IntegerType)
    ):
        return True
    if isinstance(expected, DoubleType) and isinstance(
        actual, (FloatType, DoubleType) + _INTEGRALS
    ):
        return True
    # Decimal→double is exact only while every digit fits a double's
    # 53-bit mantissa (~15 significant digits). A drifted DECIMAL(38,10)
    # would silently round — that is lossy drift and must raise.
    if (
        isinstance(expected, DoubleType)
        and isinstance(actual, DecimalType)
        and actual.precision <= 15
    ):
        return True
    if isinstance(expected, TimestampType) and isinstance(
        actual, (TimestampNTZType, DateType)
    ):
        return True
    return False


def _align_to_schema(df: DataFrame, expected: StructType, name: str) -> DataFrame:
    """Project ``df`` onto the pinned schema, value-preserving casts
    only. The round-2 lesson, generalized: a blind ``.schema(...)`` pin
    over drifted parquet does NOT fail fast — it silently reinterprets
    the physical bytes (events.ts TIMESTAMP_MICROS read as epoch-nanos
    long put every event in 1970). So every testdata table is scanned
    with its self-described schema first, then aligned: exact types
    pass through, exact-value widenings (int→long, float→double,
    date/ntz→timestamp) are cast, anything else raises with both types
    in the message. Extra columns are dropped by the projection; the
    scan still prunes to the selected columns either way."""
    if [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in expected.fields
    ]:
        return df  # already exact — no projection needed
    cols = []
    for f in expected.fields:
        if f.name not in df.columns:
            raise ValueError(f"{name}: expected column {f.name!r} missing on disk")
        actual = df.schema[f.name].dataType
        if actual == f.dataType:
            cols.append(F.col(f.name))
        elif _safe_cast_ok(actual, f.dataType):
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            raise TypeError(
                f"{name}.{f.name}: on-disk type {actual} is not a value-preserving "
                f"match for the pinned {f.dataType} — testdata format drifted; "
                "update sources/schemas.py deliberately instead of casting blind"
            )
    return df.select(cols)


def _pinnable(actual: DataType, expected: DataType) -> bool:
    """True when a pinned-schema scan reads ``actual`` bytes as
    ``expected`` without reinterpretation risk: identical types, or an
    NTZ-micros timestamp read as session-TZ timestamp (same int64
    payload, no per-row work). Everything else goes through the
    cast/raise alignment path."""
    return actual == expected or (
        isinstance(expected, TimestampType) and isinstance(actual, TimestampNTZType)
    )


def read_testdata_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-testdata table, normalized to its pinned schema
    via detect-then-pin (events.ts additionally gets encoding-specific
    normalization).

    The self-described schema is ALWAYS inspected first — the round-2
    lesson is that pinning blind does not fail fast, it silently
    reinterprets bytes. But once validated, the pinned-schema scan is
    the fast path: it folds the NTZ→session-TZ timestamp
    reinterpretation into the reader instead of a per-row cast Project
    (measurably cheaper on the hot aggregate queries)."""
    path = table_path(sf_dir, name)
    if name == "events":
        # the on-disk ts encoding varies by testdata generation, and
        # pinning (say) LongType against a TIMESTAMP_MICROS file silently
        # reads raw micros as nanos. The legacy flag is session-settable
        # and only affects NANOS files, so pin it unconditionally, before
        # the footer is first read; the scan then pins the file's own
        # schema, never the normalized one.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        on_disk = _on_disk_schema(spark, path)
        df = _normalize_events(read_parquet_table(spark, path, on_disk))
        return _align_to_schema(df, TESTDATA_SCHEMAS["events"], name)
    expected = TESTDATA_SCHEMAS.get(name)
    if expected is None:
        return read_parquet_table(spark, path)
    # The pin-vs-align verdict is a pure function of the cached footer
    # schema: without the cache, the validation costs one extra relation
    # setup (footer read + py4j round-trips), which multiplied across
    # every table touch of every query measurably drags the bench.
    schema = _on_disk_schema(spark, path)
    on_disk = {f.name: f.dataType for f in schema.fields}
    if all(
        f.name in on_disk and _pinnable(on_disk[f.name], f.dataType)
        for f in expected.fields
    ):
        return read_parquet_table(spark, path, expected)
    return _align_to_schema(read_parquet_table(spark, path, schema), expected, name)


def load_star_schema(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Load the driver testdata star schema as DataFrames keyed by name."""
    return {name: read_testdata_table(spark, sf_dir, name) for name in tables}


def register_star_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load + register each testdata table as a temp view so queries can be
    written in ``spark.sql`` as well as the DataFrame API."""
    dfs = load_star_schema(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
