"""SparkSession factory.

Replaces the reference's ``SparkContext()`` / ``SQLContext(sc)`` bootstrap
(``Scripts/1_cs_777_cleaning_data.py:24-26``) with a modern
``SparkSession`` configured for scale:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting).
- Arrow on (fast toPandas / pandas_udf batches).
- Shuffle partitions sized from the env, not the 200 default.
- A generated-code cache that holds the working set. Spark keeps the
  classes Janino compiles for whole-stage codegen in an LRU cache of
  ``spark.sql.codegen.cache.maxEntries`` entries (default 100). The 16
  headline queries alone generate about 180 distinct classes, so at the
  default every repeat recompiles all of them and the JVM then
  JIT-compiles the new classes again. 1024 holds the headline and
  pipeline working sets with room to spare; the whole catalog (about
  3,500 classes at sf0.001) is not worth holding for traffic that never
  repeats. The conf is static: it is read once per JVM, when the first
  query compiles, so a session made later in the same JVM cannot
  resize it.

On a real cluster the same builder is used; only ``master`` and the
resource configs differ (supplied by spark-submit), so nothing here
assumes local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "big-data-analysis-airline-spark"

# Floor task size for shuffles sized from a known row count.
ROWS_PER_TASK = 50_000


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_session(
    app_name: str = DEFAULT_APP_NAME,
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster
    manager injected one; on a cluster, leave it unset.
    """
    cpus = _default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    n_shuffle = shuffle_partitions if shuffle_partitions is not None else max(cpus, 32)
    conf = {
        "spark.sql.shuffle.partitions": str(n_shuffle),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Some testdata generations write events.ts as parquet
        # TIMESTAMP(NANOS), which Spark rejects without this flag (it then
        # scans as epoch-nanos long). The flag is inert for MICROS/MILLIS
        # files; sources.readers._normalize_events detects which encoding
        # was scanned and normalizes to TimestampType either way.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Spark's default INT96 parquet timestamps carry NO min/max
        # statistics, which kills row-group skipping on time-range scans;
        # write standards-track INT64 micros instead.
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        # Splittable-input sizing: at 100 TB this keeps scan tasks ~128 MB.
        "spark.sql.files.maxPartitionBytes": "134217728",
        # Broadcast small dimension tables automatically (10 MB default is
        # fine; AQE upgrades sort-merge to broadcast at runtime too).
        "spark.sql.autoBroadcastJoinThreshold": "10485760",
        "spark.sql.codegen.cache.maxEntries": "1024",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def session_width(spark: SparkSession) -> int:
    """``spark.sql.shuffle.partitions`` as a number; 1 when it is not one
    (some platforms set 'auto'), which every caller treats as "leave the
    width alone"."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return 1


def rows_width(width: int, rows: int) -> int:
    """ceil(rows / ``ROWS_PER_TASK``), floored at 1 and capped at
    ``width``: never wider than the session, and at scale (rows ≥ width
    × 50k) exactly the session width. The graph loops size their cached
    tables and iteration shuffles with it, the streaming drain its
    stateful shuffle."""
    return max(1, min(width, -(-rows // ROWS_PER_TASK)))
