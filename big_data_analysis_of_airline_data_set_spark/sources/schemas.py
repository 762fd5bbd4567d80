"""Static StructType schemas.

The reference infers every schema (``header=True, inferSchema=True`` at
``Scripts/1_cs_777_cleaning_data.py:30`` and the same line in every other
script) — an extra full scan per read. Here every table gets an explicit
schema: scans are single-pass, and at 100 TB the inference pass alone
would be a multi-hour job.

``FLIGHTS_RAW_SCHEMA`` is the reference's post-projection flight table
(exact inferred schema from notebook cell 26 output; see FIXTURES.md §A).
``TESTDATA_SCHEMAS`` matches the driver-generated TPC-H-ish star schema
(TESTDATA.md).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _st(*fields: tuple) -> StructType:
    return StructType([StructField(n, t, nullable) for n, t, nullable in fields])


# Reference flight table after the 40-column drop
# (Scripts/1_cs_777_cleaning_data.py:41-48); types from nb:26 output.
FLIGHTS_RAW_SCHEMA = _st(
    ("Airline", StringType(), True),
    ("Origin", StringType(), True),
    ("Dest", StringType(), True),
    ("Cancelled", BooleanType(), True),
    ("Diverted", BooleanType(), True),
    ("DepTime", DoubleType(), True),
    ("DepDelay", DoubleType(), True),
    ("ArrTime", DoubleType(), True),
    ("ArrDelay", DoubleType(), True),
    ("AirTime", DoubleType(), True),
    ("Distance", DoubleType(), True),
    ("Year", IntegerType(), True),
    ("Quarter", IntegerType(), True),
    ("Month", IntegerType(), True),
    ("DayofMonth", IntegerType(), True),
    ("DayOfWeek", IntegerType(), True),
    ("OriginCityName", StringType(), True),
    ("OriginState", StringType(), True),
    ("DestCityName", StringType(), True),
    ("DestState", StringType(), True),
    ("DivAirportLandings", DoubleType(), True),
)

# ML-ready table after cleaning + feature engineering
# (Scripts/1_cs_777_cleaning_data.py:63-98; 21 cols, nb:45/46 outputs).
FLIGHTS_CLEAN_SCHEMA = _st(
    ("Airline", StringType(), True),
    ("Origin", StringType(), True),
    ("Dest", StringType(), True),
    ("Diverted", IntegerType(), True),
    ("AirTime", DoubleType(), True),
    ("Distance", DoubleType(), True),
    ("Year", IntegerType(), True),
    ("Quarter", IntegerType(), True),
    ("Month", IntegerType(), True),
    ("DayofMonth", IntegerType(), True),
    ("DayOfWeek", IntegerType(), True),
    ("OriginCityName", StringType(), True),
    ("OriginState", StringType(), True),
    ("DestCityName", StringType(), True),
    ("DestState", StringType(), True),
    ("DivAirportLandings", DoubleType(), True),
    ("Delay_Status", IntegerType(), True),
    ("DepTimeHour", IntegerType(), True),
    ("DepTimeMinute", IntegerType(), True),
    ("ArrTimeHour", IntegerType(), True),
    ("ArrTimeMinute", IntegerType(), True),
)

# Driver-generated star schema (/root/testdata/sf*/, TESTDATA.md).
TESTDATA_SCHEMAS: dict[str, StructType] = {
    "region": _st(
        ("r_regionkey", IntegerType(), True),
        ("r_name", StringType(), True),
    ),
    "nation": _st(
        ("n_nationkey", IntegerType(), True),
        ("n_name", StringType(), True),
        ("n_regionkey", IntegerType(), True),
    ),
    "customer": _st(
        ("c_custkey", LongType(), True),
        ("c_name", StringType(), True),
        ("c_nationkey", IntegerType(), True),
        ("c_acctbal", DoubleType(), True),
        ("c_mktsegment", StringType(), True),
    ),
    "supplier": _st(
        ("s_suppkey", LongType(), True),
        ("s_name", StringType(), True),
        ("s_nationkey", IntegerType(), True),
        ("s_acctbal", DoubleType(), True),
    ),
    "part": _st(
        ("p_partkey", LongType(), True),
        ("p_name", StringType(), True),
        ("p_brand", StringType(), True),
        ("p_type", StringType(), True),
        ("p_size", IntegerType(), True),
        ("p_retailprice", DoubleType(), True),
    ),
    "orders": _st(
        ("o_orderkey", LongType(), True),
        ("o_custkey", LongType(), True),
        ("o_orderstatus", StringType(), True),
        ("o_totalprice", DoubleType(), True),
        ("o_orderdate", TimestampType(), True),
        ("o_orderpriority", StringType(), True),
    ),
    "lineitem": _st(
        ("l_orderkey", LongType(), True),
        ("l_partkey", LongType(), True),
        ("l_suppkey", LongType(), True),
        ("l_linenumber", IntegerType(), True),
        ("l_quantity", DoubleType(), True),
        ("l_extendedprice", DoubleType(), True),
        ("l_discount", DoubleType(), True),
        ("l_tax", DoubleType(), True),
        ("l_returnflag", StringType(), True),
        ("l_linestatus", StringType(), True),
        ("l_shipdate", TimestampType(), True),
    ),
    "events": _st(
        ("event_id", LongType(), True),
        # POST-NORMALIZATION type. The on-disk encoding has varied across
        # testdata generations (TIMESTAMP(NANOS) readable only as long via
        # the nanosAsLong legacy flag; later TIMESTAMP(MICROS)), so
        # sources.readers reads events WITHOUT this pinned schema, detects
        # the scanned dtype, and normalizes ts to TimestampType. This entry
        # describes what read_testdata_table returns, not the file bytes.
        ("ts", TimestampType(), True),
        ("user_id", LongType(), True),
        ("event_type", StringType(), True),
        ("value", DoubleType(), True),
        ("props", StringType(), True),
    ),
    "documents": _st(
        ("doc_id", LongType(), True),
        ("text", StringType(), True),
        ("lang", StringType(), True),
        ("source", StringType(), True),
        ("n_chars", LongType(), True),
    ),
    "embeddings": _st(
        ("vec_id", LongType(), True),
        ("embedding", ArrayType(FloatType()), True),
        ("label", IntegerType(), True),
    ),
}

TESTDATA_TABLES = tuple(TESTDATA_SCHEMAS)
