"""Streaming document ingestion with incremental dedup — the
continuous-crawl front door of a training-data pipeline.

Pattern: ``foreachBatch`` dedup-against-store. Each micro-batch
1. fingerprints its documents (md5 of normalized text —
   text.analysis.content_fingerprint, same hash the batch dedup uses);
2. collapses in-batch duplicates (min doc id per fingerprint);
3. left-anti joins the persistent fingerprint store (documents whose
   content was EVER seen are dropped);
4. appends the survivors to the corpus sink and their fingerprints to
   the store — so later batches (and later *jobs*: the store outlives
   the stream, which is what makes the dedup incremental) see them.

Why not ``dropDuplicatesWithinWatermark``: that bounds state by event
time, which dedups within the watermark horizon only; corpus dedup must
be exact across the full history, so the state lives in a table, not in
the stream. At scale the store is parquet bucketed by fingerprint and
the anti-join is shuffle-free on the bucketed key; the re-scan per
micro-batch prunes to the store buckets the batch's fingerprints hash
to. foreachBatch gives exactly-once appends per epoch id under
checkpointing (Spark replays a failed epoch; the store append is
idempotent per epoch because replays rewrite the same batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..sources.local import local_rows
from ..text.analysis import content_fingerprint
from .jobs import drain

DOCS_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

_STORE_SCHEMA = StructType([StructField("fingerprint", StringType())])


def documents_stream_reader(spark: SparkSession, docs_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
    )


def seed_fingerprint_store(spark: SparkSession, store_dir: str) -> None:
    """Create an empty store so the first micro-batch has something to
    anti-join (parquet can't read a dir with no footer files)."""
    local_rows(spark, [], _STORE_SCHEMA).write.mode("overwrite").parquet(store_dir)


def run_dedup_ingest_available_now(
    spark: SparkSession,
    docs_dir: str,
    *,
    store_dir: str,
    out_dir: str,
    query_name: str = "docs_dedup_ingest",
) -> DataFrame:
    """Drain ``docs_dir`` through the incremental-dedup ingest
    (availableNow) and return the appended corpus. Re-running against
    the same store emits nothing new — the store carries the dedup
    state across jobs."""
    stream = documents_stream_reader(spark, docs_dir)

    out_schema = StructType(
        [
            StructField("fingerprint", StringType()),
            StructField("doc_id", LongType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    # seed the sink so a zero-survivor run still reads back as empty
    local_rows(spark, [], out_schema).write.mode("append").parquet(out_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        store = s.read.schema(_STORE_SCHEMA).parquet(store_dir)
        fresh = (
            batch_df.withColumn("fingerprint", content_fingerprint(F.col("text")))
            .groupBy("fingerprint")
            .agg(
                F.min("doc_id").alias("doc_id"),
                F.min_by("source", "doc_id").alias("source"),
                F.min_by("n_chars", "doc_id").alias("n_chars"),
            )
            .join(store, "fingerprint", "left_anti")
        )
        fresh.persist()  # feeds two sinks; don't run the anti-join twice
        fresh.select("fingerprint", "doc_id", "source", "n_chars").write.mode(
            "append"
        ).parquet(out_dir)
        fresh.select("fingerprint").write.mode("append").parquet(store_dir)
        fresh.unpersist()

    drain(stream, docs_dir, query_name=query_name, foreach_batch=sink)
    return spark.read.parquet(out_dir)
