"""Source compatibility: CSV with explicit schema (the reference's
format, minus inferSchema), parquet schema pinning."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from big_data_analysis_of_airline_data_set_spark.sources.readers import (
    read_csv,
    read_testdata_table,
)
from big_data_analysis_of_airline_data_set_spark.sources.schemas import TESTDATA_SCHEMAS


def test_csv_roundtrip_with_explicit_schema(spark, sf_dir):
    """Write lineitem-shaped CSV, read it back with the pinned schema —
    no inference pass, identical values."""
    d = tempfile.mkdtemp(prefix="csv-")
    try:
        li = read_testdata_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
        )
        li.write.mode("overwrite").options(header=True).csv(d)
        from pyspark.sql.types import (
            StructType, StructField, LongType, IntegerType, DoubleType, StringType,
        )

        schema = StructType(
            [
                StructField("l_orderkey", LongType()),
                StructField("l_linenumber", IntegerType()),
                StructField("l_quantity", DoubleType()),
                StructField("l_returnflag", StringType()),
            ]
        )
        back = read_csv(spark, d, schema)
        assert back.schema == schema
        assert back.count() == li.count()
        a = li.agg(F.sum("l_quantity")).collect()[0][0]
        b = back.agg(F.sum("l_quantity")).collect()[0][0]
        assert abs(a - b) < 1e-6
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_pinned_parquet_schema_applied(spark, sf_dir):
    for name in ("orders", "lineitem", "documents"):
        df = read_testdata_table(spark, sf_dir, name)
        if name == "orders":
            assert dict(df.dtypes)["o_orderkey"] == "bigint"
        got = {f.name for f in df.schema.fields}
        want = {f.name for f in TESTDATA_SCHEMAS[name].fields}
        assert got == want


def test_events_normalized_to_timestamp(spark, sf_dir):
    ev = read_testdata_table(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.filter(F.col("ts").isNull()).count() == 0
    # Regression guard for the round-2 encoding bug: whatever the on-disk
    # encoding, normalized timestamps must land in the data's real epoch
    # (2024+), not 1970 (symptom of micros misread as nanos).
    years = [r[0] for r in ev.select(F.year("ts")).distinct().collect()]
    assert all(y >= 2020 for y in years), years


def test_events_encoding_detection_micros_and_nanos(spark, tmp_path):
    """read_testdata_table must normalize BOTH historical on-disk ts
    encodings — TIMESTAMP(MICROS) and TIMESTAMP(NANOS) — to identical
    TimestampType values. The round-2 testdata re-encode flipped the
    driver feed from nanos to micros and the then-hardcoded nanos
    assumption landed every event in 1970; this pins detect-and-branch.
    A second read of the same file must give the same values without a
    job: the footer schema is inferred once per (session, path)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pa.table(
        {
            "event_id": pa.array([0, 1, 2], pa.int64()),
            "ts": pa.array(
                [1704067200_000000, 1704067260_500000, 1735689599_999999],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([10, 11, 12], pa.int64()),
            "event_type": pa.array(["view", "click", "buy"]),
            "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    for unit in ("us", "ns"):
        d = tmp_path / f"enc_{unit}"
        d.mkdir()
        t = base.set_column(1, "ts", base.column("ts").cast(pa.timestamp(unit)))
        pq.write_table(t, str(d / "events.parquet"))

    def rows(ev):
        return [(r["event_id"], r["ts"].isoformat()) for r in ev.orderBy("event_id").collect()]

    sc, group = spark.sparkContext, "events-second-read"
    got = {}
    for unit in ("us", "ns"):
        sf = str(tmp_path / f"enc_{unit}")
        ev = read_testdata_table(spark, sf, "events")
        assert dict(ev.dtypes)["ts"] == "timestamp"
        got[unit] = rows(ev)
        # the second read reuses the cached footer schema: no schema
        # inference job, and the same values
        sc.setJobGroup(group, group)
        try:
            again = read_testdata_table(spark, sf, "events")
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert rows(again) == got[unit]
    assert got["us"] == got["ns"]
    assert got["us"][0][1].startswith("2024-01-01")


def test_schema_drift_widening_is_aligned(spark, tmp_path):
    """Value-preserving width drift (int32 where the pin says long) is
    detected and cast, not blindly reinterpreted — the generalized
    round-2 lesson (a pinned .schema() over drifted parquet silently
    misreads bytes instead of failing)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "drift_ok"
    d.mkdir()
    t = pa.table(
        {
            "doc_id": pa.array([1, 2], pa.int32()),  # pinned: int64
            "text": pa.array(["a b", "c d"]),
            "lang": pa.array(["en", "en"]),
            "source": pa.array(["s1", "s2"]),
            "n_chars": pa.array([3, 3], pa.int32()),  # pinned: int64
        }
    )
    pq.write_table(t, str(d / "documents.parquet"))
    df = read_testdata_table(spark, str(d), "documents")
    assert dict(df.dtypes)["doc_id"] == "bigint"
    assert dict(df.dtypes)["n_chars"] == "bigint"
    assert df.agg(F.sum("n_chars")).collect()[0][0] == 6


def test_schema_drift_incompatible_raises(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    d = tmp_path / "drift_bad"
    d.mkdir()
    t = pa.table(
        {
            "doc_id": pa.array([1], pa.int64()),
            "text": pa.array(["a"]),
            "lang": pa.array(["en"]),
            "source": pa.array(["s1"]),
            "n_chars": pa.array(["3"]),  # string where the pin says long
        }
    )
    pq.write_table(t, str(d / "documents.parquet"))
    with pytest.raises(TypeError, match="n_chars"):
        read_testdata_table(spark, str(d), "documents")


def test_sorted_layout_yields_disjoint_file_ranges(spark, sf_dir, tmp_path):
    """write_sorted_layout must produce files whose sort-key ranges are
    pairwise disjoint (the property row-group skipping depends on);
    a plain shuffled write of the same data does not."""
    import glob

    import pyarrow.parquet as pq

    from big_data_analysis_of_airline_data_set_spark.sources.readers import (
        read_testdata_table,
    )
    from big_data_analysis_of_airline_data_set_spark.sources.writers import (
        write_sorted_layout,
    )

    events = read_testdata_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )

    def file_ranges(path):
        out = []
        for f in sorted(glob.glob(f"{path}/*.parquet")):
            md = pq.ParquetFile(f).metadata
            if md.num_rows == 0:
                continue
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                group = md.row_group(rg)
                col = next(
                    group.column(i)
                    for i in range(group.num_columns)
                    if group.column(i).path_in_schema == "ts"
                )
                assert col.statistics is not None, "ts written without stats"
                mins.append(col.statistics.min)
                maxs.append(col.statistics.max)
            out.append((min(mins), max(maxs)))
        return sorted(out)

    sorted_dir = str(tmp_path / "sorted")
    write_sorted_layout(events, sorted_dir, sort_cols=("ts",), num_files=8)
    ranges = file_ranges(sorted_dir)
    assert len(ranges) >= 4  # range partitioner actually spread the data
    for (lo_a, hi_a), (lo_b, hi_b) in zip(ranges, ranges[1:]):
        assert hi_a <= lo_b, (hi_a, lo_b)

    # control: a hash-shuffled write has overlapping file ranges
    shuffled_dir = str(tmp_path / "shuffled")
    events.repartition(8, "user_id").write.parquet(shuffled_dir)
    overlaps = [
        (a, b)
        for a, b in zip(file_ranges(shuffled_dir), file_ranges(shuffled_dir)[1:])
        if a[1] > b[0]
    ]
    assert overlaps, "control layout unexpectedly sorted"


def test_jsonl_doubles_bit_exact(spark, tmp_path):
    """JSON text round-trip must reproduce doubles exactly — the
    shortest-repr writer + exact parser contract the sink relies on."""
    from big_data_analysis_of_airline_data_set_spark.sources.writers import (
        write_jsonl,
    )

    vals = [
        (1, 0.1), (2, 1.0 / 3.0), (3, 2.0 ** -1074), (4, 1.7976931348623157e308),
        (5, -0.0), (6, 123456789.123456789),
    ]
    df = spark.createDataFrame(vals, "id long, v double")
    out = str(tmp_path / "jsonl")
    write_jsonl(df, out)
    back = spark.read.schema(df.schema).json(out)
    got = {r.id: r.v for r in back.collect()}
    import struct

    for k, v in vals:
        assert struct.pack("<d", got[k]) == struct.pack("<d", v), (k, got[k], v)
