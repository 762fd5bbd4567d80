from .schemas import FLIGHTS_RAW_SCHEMA, FLIGHTS_CLEAN_SCHEMA, TESTDATA_SCHEMAS
from .readers import (
    read_parquet_table,
    read_csv,
    read_testdata_table,
    load_star_schema,
    register_star_views,
)
from .writers import write_parquet, write_report_csv
from .local import local_rows
from .bucketing import write_bucketed_table, bucketed_join
from .compaction import compact_parquet

__all__ = [
    "FLIGHTS_RAW_SCHEMA",
    "FLIGHTS_CLEAN_SCHEMA",
    "TESTDATA_SCHEMAS",
    "read_parquet_table",
    "read_csv",
    "read_testdata_table",
    "load_star_schema",
    "register_star_views",
    "write_parquet",
    "write_report_csv",
    "write_bucketed_table",
    "bucketed_join",
    "compact_parquet",
    "local_rows",
]
