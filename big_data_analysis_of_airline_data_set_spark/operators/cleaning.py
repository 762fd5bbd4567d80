"""End-to-end flight-cleaning pipeline — the reference's job 1
(``Scripts/1_cs_777_cleaning_data.py``) re-expressed as composable
DataFrame transforms with exact quirk parity (SURVEY.md §2.12).

Structure (reference line refs):
- drop 40 raw columns ..................... :41-48  (project_without)
- split cancelled / non-cancelled ......... :50-53
- na.drop on the non-cancelled side ....... :56
- viz dataset = cancelled ∪ cleaned ....... :58     (positional union)
- drop Cancelled, derive Delay_Status ..... :63-68
- drop DepDelay/ArrDelay .................. :71-72
- city split .............................. :75-76
- hhmm hour/minute extraction + casts ..... :79-92
- drop DepTime/ArrTime, Diverted→int ...... :95-98

At scale the pipeline is one Catalyst plan: the withColumn chain folds
into a single Project over the scan (CollapseProject), the two filters
push into Parquet row-group stats, and nothing here shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from ..functions.flight_exprs import (
    city_from_city_state,
    delay_status,
    hhmm_hour_int,
    hhmm_minute_int,
)
from .transforms import drop_any_null, union_positional

def visualization_dataset(flights: DataFrame) -> DataFrame:
    """Cancelled rows (nulls intact) ∪ cleaned non-cancelled rows —
    the viz dataset of Scripts/1_cs_777_cleaning_data.py:50-58."""
    cancelled = flights.filter(F.col("Cancelled") == True)  # noqa: E712
    cleaned = drop_any_null(flights.filter(F.col("Cancelled") == False))  # noqa: E712
    return union_positional([cancelled, cleaned])


def clean_flights(flights: DataFrame) -> DataFrame:
    """Non-cancelled, fully-non-null flight rows, ``Cancelled`` dropped
    (Scripts/1_cs_777_cleaning_data.py:53-63)."""
    return (
        drop_any_null(flights.filter(F.col("Cancelled") == False))  # noqa: E712
        .drop("Cancelled")
    )


def engineer_features(cleaned: DataFrame) -> DataFrame:
    """Label + city split + time-digit features, reference semantics
    (Scripts/1_cs_777_cleaning_data.py:68-98)."""
    return (
        cleaned
        .withColumn("Delay_Status", delay_status(F.col("DepDelay"), F.col("ArrDelay")))
        .drop("DepDelay", "ArrDelay")
        .withColumn("OriginCityName", city_from_city_state(F.col("OriginCityName")))
        .withColumn("DestCityName", city_from_city_state(F.col("DestCityName")))
        .withColumn("DepTimeHour", hhmm_hour_int(F.col("DepTime")))
        .withColumn("DepTimeMinute", hhmm_minute_int(F.col("DepTime")))
        .withColumn("ArrTimeHour", hhmm_hour_int(F.col("ArrTime")))
        .withColumn("ArrTimeMinute", hhmm_minute_int(F.col("ArrTime")))
        .drop("DepTime", "ArrTime")
        .withColumn("Diverted", F.col("Diverted").cast(IntegerType()))
    )


def clean_and_engineer(flights: DataFrame) -> DataFrame:
    """Full job-1 pipeline: raw flights → ML-ready table."""
    return engineer_features(clean_flights(flights))
