"""Events/streaming query catalog — batch-mode runs of the
DataFrame-symmetric window transforms (streaming.windows), each with a
DuckDB oracle, and their true Structured Streaming twins (the
``events_*_stream`` entries): each builds its stream over landed
parquet from the same transform or sketch the batch query uses and
runs it through ``streaming.jobs.drain``. Complete output mode emits
every window, so the drained result equals the batch plan — the batch
oracle doubles as a hard check on the streaming runtime (micro-batch
scheduling, watermark bookkeeping, state store). Late-data drops stay
in tests/test_streaming*.py — they are not SQL-expressible. The batch
per-user features (calendar lag, trailing-week RANGE mean, inter-event
gap statistics) work on exact integer micros and whole days from the
kit in ``spec.py``. Beside the count funnel sit its time-to-convert
and 7-day-window variants, the weekly cohort LTV triangle and the
event-time disorder audit behind a watermark choice, then RFM,
diversity, seasonality, stickiness and the readouts on ``spec.py``'s
daily series (CUSUM, forecast evaluation, Holt, interpolation, the
clamped balance, drawdown).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..caching import BoundedCache, remove_dir
from ..operators.ranking import bucketed_global_rank, ntile_from_rank
from ..operators.weighted_quantile import weighted_median
from ..sources.readers import read_testdata_table
from ..streaming.jobs import drain, events_stream_reader
from ..streaming.windows import (
    enriched_segment_counts,
    interval_join_pairs,
    json_extract_k,
    session_counts,
    sliding_counts,
    tumbling_counts,
)
from .spec import (
    DAILY_COUNTS_SQL,
    DAILY_SPEND_SQL,
    SPEND_SQL,
    US_DAY,
    US_HOUR,
    US_SEC,
    QuerySpec,
    daily_counts,
    daily_spend,
    day_bucket,
    day_bucket_sql,
    spend,
)


def q_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_counts(read_testdata_table(spark, sf_dir, "events"), width="1 hour")


_TUMBLING_ORACLE = """
SELECT strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


# landed-events dirs per (session, sf_dir, variant): the stream queries
# re-read them across driver calls without re-landing. One cache owns
# all three landing variants (normal, doubled, flat); evicting an entry
# removes its dir.
_LANDED_CACHE: BoundedCache[tuple, str] = BoundedCache(4, on_evict=remove_dir)


def _landed_dir(key: tuple, prefix: str, build) -> str:
    """The landed dir under ``key``; on a miss, ``build(out_dir)``
    materializes the variant into a fresh dir."""

    def land() -> str:
        out = tempfile.mkdtemp(prefix=prefix)
        build(out)
        return out

    return _LANDED_CACHE.get_or_build(key, land)


def _landed_events_dir(spark: SparkSession, sf_dir: str) -> str:
    from ..streaming.landing import land_events_batch

    return _landed_dir(
        (spark.sparkContext.applicationId, sf_dir),
        "landed_events_",
        lambda out: land_events_batch(spark, sf_dir, out),
    )


def ensure_events_landed(spark: SparkSession, sf_dir: str) -> str:
    """Public warm-up hook: land ``sf_dir``'s events table now so a
    later timed streaming query doesn't absorb the one-time landing
    copy (bench.py calls this before its timed passes)."""
    return _landed_events_dir(spark, sf_dir)


def _landed_events_doubled_dir(spark: SparkSession, sf_dir: str) -> str:
    """Every event landed TWICE (two appended writes → distinct files):
    the at-least-once delivery shape a streaming dedup exists to fix."""
    from ..sources.readers import read_testdata_table

    def build(out: str) -> None:
        ev = read_testdata_table(spark, sf_dir, "events")
        ev.repartition(2).write.mode("append").parquet(out)
        ev.repartition(3).write.mode("append").parquet(out)

    return _landed_dir(
        (spark.sparkContext.applicationId, sf_dir, "doubled"),
        "landed_events_x2_",
        build,
    )


def _landed_events_flat_dir(spark: SparkSession, sf_dir: str, n_files: int = 4) -> str:
    """Events landed as a FLAT n-file directory (no date partitioning):
    with maxFilesPerTrigger=1 each file becomes one micro-batch, so a
    stateful query provably carries state ACROSS batches while the
    drain stays bounded at n micro-batches."""
    from ..sources.readers import read_testdata_table

    def build(out: str) -> None:
        read_testdata_table(spark, sf_dir, "events").repartition(
            n_files
        ).write.mode("overwrite").parquet(out)

    return _landed_dir(
        (spark.sparkContext.applicationId, sf_dir, "flat", n_files),
        "landed_events_flat_",
        build,
    )


def q_user_totals_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) driver-checked:
    per-user running totals carried across 4 file-granular micro-batches
    must equal the batch groupBy — the state store's load/update cycle
    is what the oracle certifies. State accumulates integer cents, so
    the result is batch-order-exact (streaming/stateful.py)."""
    from ..streaming.stateful import running_user_totals_stream

    return running_user_totals_stream(
        spark,
        _landed_events_flat_dir(spark, sf_dir),
        query_name="events_user_totals_stream",
        max_files_per_trigger=1,
    )


_USER_TOTALS_STREAM_ORACLE = """
SELECT user_id,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY user_id
"""


def q_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup under at-least-once delivery: every event
    is landed twice, the watermarked ``dropDuplicatesWithinWatermark``
    stream must emit each event_id exactly once — oracled against the
    plain batch projection of the (single-copy) events table. Exercises
    the streaming dedup state store with REAL duplicate traffic.

    The doubled landing's files are NOT time-ordered (each spans the
    full time range), so it drains in one micro-batch: after a first
    batch the watermark would sit near the data's end and every later
    file's rows would be dropped as late rather than deduplicated.
    Time-ordered file feeds (the production shape) can keep
    file-granular batches."""
    landed = _landed_events_doubled_dir(spark, sf_dir)
    stream = events_stream_reader(
        spark, landed, max_files_per_trigger=None
    ).withWatermark("ts", "30 minutes")
    deduped = stream.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "user_id", "event_type", "value"
    )
    return drain(deduped, landed, query_name="events_dedup_stream")


def q_tumbling_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling aggregation as a REAL streaming query: land the
    (encoding-normalized) events once, then readStream → watermark →
    window agg → memory sink with trigger(availableNow) — the idiomatic
    backfill execution. Complete mode ⇒ result equals the batch plan.
    Backfill shape: the drain takes as few micro-batches as it can
    (file-granular triggering is the tests' incremental-state knob)."""
    landed = _landed_events_dir(spark, sf_dir)
    stream = events_stream_reader(
        spark, landed, max_files_per_trigger=None
    ).withWatermark("ts", "30 minutes")
    return drain(
        tumbling_counts(stream, width="1 hour"),
        landed,
        query_name="events_tumbling_stream",
        output_mode="complete",
    )


_KMV_STREAM_K = 64


def q_kmv_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via a KMV sketch maintained
    INCREMENTALLY by the streaming runtime: per (event_type, j) the
    running MIN of the j-th hash of user_id. The streaming state IS the
    sketch — groups × k longs, constant for any stream volume, which is
    why no watermark is needed and complete-mode output is cheap (an
    exact streaming distinct count would hold every user id in state).
    Estimates, the merged union row, and the exact reference counts are
    computed over the drained sketch in batch (the production split:
    streams maintain sketches, queries read them). Oracle = full batch
    md5 replay, so the incremental min-maintenance must converge to
    exactly the batch sketch."""
    from ..sketches.kmv import kmv_report, kmv_sketch

    landed = _landed_events_dir(spark, sf_dir)
    stream = events_stream_reader(spark, landed, max_files_per_trigger=None)
    sk = drain(
        kmv_sketch(
            stream.select("event_type", "user_id"),
            group_col="event_type",
            value_col="user_id",
            k=_KMV_STREAM_K,
        ),
        landed,
        query_name="events_kmv_sketch_stream",
        output_mode="complete",
    )
    # the merge/estimate/exact assembly is SHARED with the batch query
    # (sketches.kmv.kmv_report) — only the sketch's provenance differs
    return kmv_report(
        sk,
        read_testdata_table(spark, sf_dir, "events"),
        group_col="event_type",
        value_col="user_id",
    )


# oracle shared with the batch KMV entry — one builder, different base
from .patterns import kmv_oracle_sql as _kmv_oracle_sql  # noqa: E402

_KMV_STREAM_ORACLE = _kmv_oracle_sql(
    'SELECT event_type AS "group", CAST(user_id AS VARCHAR) AS val FROM events',
    _KMV_STREAM_K,
)


_HLL_STREAM_P = 8


def q_hll_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via an HLL register sketch
    maintained INCREMENTALLY by the streaming runtime: per (event_type,
    register) the running MAX of the hash rank — the max-merge twin of
    events_kmv_stream: state is groups × ≤2^p small ints, constant for
    any stream volume (no watermark, complete-mode output cheap).
    Estimates, the merged 'ALL' row, and the exact reference counts are
    computed over the drained register table in batch; the assembly is
    SHARED with the batch query (sketches.hll.hll_report), so the
    estimator cannot diverge between paths. The register max is
    order-insensitive, so the oracle's full batch md5 replay holds the
    incremental max-maintenance to exactly the batch sketch."""
    from ..sketches.hll import hll_registers, hll_report

    landed = _landed_events_dir(spark, sf_dir)
    stream = events_stream_reader(spark, landed, max_files_per_trigger=None)
    regs = drain(
        hll_registers(
            stream.select("event_type", "user_id"),
            group_col="event_type",
            value_col="user_id",
            p=_HLL_STREAM_P,
        ),
        landed,
        query_name="events_hll_sketch_stream",
        output_mode="complete",
    )
    return hll_report(
        regs,
        read_testdata_table(spark, sf_dir, "events"),
        group_col="event_type",
        value_col="user_id",
        p=_HLL_STREAM_P,
    )


from .patterns import hll_oracle_sql as _hll_oracle_sql  # noqa: E402

_HLL_STREAM_ORACLE = _hll_oracle_sql(
    'SELECT event_type AS "group", CAST(user_id AS VARCHAR) AS val FROM events',
    _HLL_STREAM_P,
)


_HDR_STREAM_SUB_BITS = 5


def q_hdr_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value quantiles (p50/p90/p99) per event type via an HDR bucket
    sketch maintained INCREMENTALLY by the streaming runtime: per
    (event_type, bucket code) the running COUNT of values routed there —
    the RANK member of the streamed sketch family: state is groups ×
    ≤ ~1.9k bucket counts, constant for any stream volume (no watermark
    needed, complete-mode output cheap). Estimates, the additive-merge
    'ALL' row, and the true-rank reference are computed over the
    drained bucket table in batch; the assembly is SHARED with the
    batch query (sketches.quantile.hdr_quantile_report), so the
    estimator cannot diverge between paths. Oracle = full batch
    integer replay: incremental count-maintenance must converge to
    exactly the batch sketch."""
    from ..sketches.quantile import hdr_bucket_counts, hdr_quantile_report

    landed = _landed_events_dir(spark, sf_dir)
    stream = events_stream_reader(spark, landed, max_files_per_trigger=None)
    sk = drain(
        hdr_bucket_counts(
            stream.select("event_type", "value"),
            group_col="event_type",
            value_col="value",
            sub_bits=_HDR_STREAM_SUB_BITS,
        ),
        landed,
        query_name="events_hdr_sketch_stream",
        output_mode="complete",
    )
    return hdr_quantile_report(
        sk,
        read_testdata_table(spark, sf_dir, "events"),
        group_col="event_type",
        value_col="value",
        sub_bits=_HDR_STREAM_SUB_BITS,
    )


from .patterns import hdr_oracle_sql as _hdr_oracle_sql  # noqa: E402

_HDR_STREAM_ORACLE = _hdr_oracle_sql(
    'SELECT event_type AS "group", value AS val FROM events',
    _HDR_STREAM_SUB_BITS,
)


_HLL_SLIDE_P = 8
_HLL_SLIDE_W = 3  # trailing 3-hour window, anchored per observed hour


def q_hll_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window distinct users per (event_type, hour) via
    sliding HLL register merge (sketches.hll.hll_trailing_merge) — the
    op register sketches exist for: per-bucket vectors are built ONCE
    from the raw events, then every trailing 3-hour window is a
    scatter + max-merge over register rows (shuffle = W × registers
    per bucket, CONSTANT in event volume), never a re-scan of W hours
    of raw data per anchor. The exact trailing distinct rides along as
    the accuracy reference, computed scalably the same way (per-bucket
    dedup → scatter → count_distinct; no range join). Hour buckets are
    integer unix_micros div 3.6e9 — exact in both engines. Estimates
    replay exactly (the shared hll_sql_parts discipline). The
    projected base feeds THREE consumers (register build, exact-side
    dedup, anchors) — a lazy localCheckpoint computes the events scan
    once (round-6 review catch; the same shared-frame pattern as
    resample_ffill)."""
    from ..sketches.hll import hll_estimate, hll_registers, hll_trailing_merge

    base = read_testdata_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"unix_micros(ts) div {US_HOUR}").alias("hour_bucket"),
        F.col("user_id").cast("string").alias("val"),
    ).localCheckpoint(eager=False)
    regs = hll_registers(
        base,
        group_cols=["event_type", "hour_bucket"],
        value_col="val",
        p=_HLL_SLIDE_P,
    )
    merged = hll_trailing_merge(
        regs,
        bucket_col="hour_bucket",
        group_cols=["event_type"],
        window_buckets=_HLL_SLIDE_W,
    )
    est = hll_estimate(
        merged, p=_HLL_SLIDE_P, group_cols=("event_type", "hour_bucket")
    )
    dedup = base.distinct()
    scattered = dedup.select(
        "event_type",
        F.explode(
            F.sequence(
                F.col("hour_bucket"),
                F.col("hour_bucket") + (_HLL_SLIDE_W - 1),
            )
        ).alias("hour_bucket"),
        "val",
    )
    anchors = base.select("event_type", "hour_bucket").distinct()
    exact = (
        scattered.join(anchors, ["event_type", "hour_bucket"], "left_semi")
        .groupBy("event_type", "hour_bucket")
        .agg(F.count_distinct("val").alias("exact_distinct"))
    )
    return est.join(exact, ["event_type", "hour_bucket"]).select(
        "event_type",
        "hour_bucket",
        "m_registers",
        "zero_registers",
        "hll_estimate",
        "exact_distinct",
    )


def _hll_sliding_oracle() -> str:
    # every estimator-critical fragment (hash, rank CASE, term scaling,
    # ln table, numerator) comes from the ONE shared builder —
    # plans.patterns.hll_sql_parts — so this oracle cannot drift from
    # the batch/streamed ones (round-6 review dedup finding)
    from .patterns import hll_sql_parts

    w = _HLL_SLIDE_W
    q = hll_sql_parts(_HLL_SLIDE_P)
    return f"""
WITH base AS (
  SELECT event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) // {US_HOUR} AS hour_bucket,
         CAST(user_id AS VARCHAR) AS val
  FROM events
), hashed AS (
  SELECT event_type, hour_bucket, {q["hash_expr"]} AS h FROM base
), regs AS (
  SELECT event_type, hour_bucket, h // {1 << q["sb"]} AS register,
         max({q["rank_case"]}) AS max_rho
  FROM hashed GROUP BY 1, 2, 3
), anchors AS (
  SELECT DISTINCT event_type, hour_bucket FROM base
), scattered AS (
  SELECT r.event_type, r.hour_bucket + j.j AS hour_bucket,
         register, max_rho
  FROM regs r CROSS JOIN (SELECT unnest(generate_series(0, {w - 1})) AS j) j
), merged AS (
  SELECT s.event_type, s.hour_bucket, s.register, max(s.max_rho) AS max_rho
  FROM scattered s JOIN anchors USING (event_type, hour_bucket)
  GROUP BY 1, 2, 3
), agg AS (
  SELECT event_type, hour_bucket,
         CAST({q["m"]} - count(*) AS BIGINT) AS zero_registers,
         sum({q["term_sql"]}) AS s_present
  FROM merged GROUP BY 1, 2
), lc(v, lc_est) AS (VALUES
    {q["lc_rows"]}
), est AS (
  SELECT event_type, hour_bucket, zero_registers,
         {q["numerator"]!r} / CAST(s_present
             + CAST(zero_registers AS DECIMAL(38,0))
               * {q["zero_term"]} AS DOUBLE) AS e_raw
  FROM agg
), dedup AS (
  SELECT DISTINCT event_type, hour_bucket, val FROM base
), scat2 AS (
  SELECT d.event_type, d.hour_bucket + j.j AS hour_bucket, val
  FROM dedup d CROSS JOIN (SELECT unnest(generate_series(0, {w - 1})) AS j) j
), exact AS (
  SELECT s.event_type, s.hour_bucket,
         CAST(count(DISTINCT val) AS BIGINT) AS exact_distinct
  FROM scat2 s JOIN anchors USING (event_type, hour_bucket)
  GROUP BY 1, 2
)
SELECT est.event_type, est.hour_bucket,
       CAST({q["m"]} AS BIGINT) AS m_registers, zero_registers,
       round(CASE WHEN e_raw <= {q["lc_bound"]!r} AND zero_registers > 0
                  THEN (SELECT lc_est FROM lc WHERE v = zero_registers)
                  ELSE e_raw END, 6) AS hll_estimate,
       exact_distinct
FROM est JOIN exact USING (event_type, hour_bucket)
"""


_CMS_STREAM_DEPTH, _CMS_STREAM_WIDTH, _CMS_STREAM_K = 4, 1024, 20


def q_cms_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event frequencies via a Count-Min sketch maintained
    INCREMENTALLY by the streaming runtime: per (j, bucket) the running
    COUNT of occurrences routed there — the sum-merge member that
    completes the streamed sketch trio (KMV min / HLL max / CMS sum):
    state is the d×w cell table, constant for any stream volume, which
    is why sketches stream where exact counts cannot. The exact top-20
    users and their probe estimates are assembled in batch by the SAME
    heavy_hitters_report the batch catalog entry uses. Oracle = full
    batch md5 replay: incremental count maintenance must converge to
    exactly the batch sketch."""
    from ..sketches.countmin import count_min_sketch_table, heavy_hitters_report

    landed = _landed_events_dir(spark, sf_dir)
    stream = events_stream_reader(spark, landed, max_files_per_trigger=None)
    cells = drain(
        count_min_sketch_table(
            stream.selectExpr("CAST(user_id AS STRING) AS term"),
            term_col="term",
            depth=_CMS_STREAM_DEPTH,
            width=_CMS_STREAM_WIDTH,
        ),
        landed,
        query_name="events_cms_sketch_stream",
        output_mode="complete",
    )
    occ = read_testdata_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("term")
    )
    return heavy_hitters_report(
        cells,
        occ,
        term_col="term",
        k=_CMS_STREAM_K,
        depth=_CMS_STREAM_DEPTH,
        width=_CMS_STREAM_WIDTH,
    )


from .patterns import count_min_oracle_sql as _cms_oracle_sql  # noqa: E402

_CMS_STREAM_ORACLE = _cms_oracle_sql(
    "SELECT CAST(user_id AS VARCHAR) AS term FROM events",
    _CMS_STREAM_DEPTH,
    _CMS_STREAM_WIDTH,
    _CMS_STREAM_K,
)


_SS_M = 4  # counters per group: 9-ish live buckets force real evictions


def q_spacesaving_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SpaceSaving / Misra-Gries streamed top-k heavy hitters
    (sketches/spacesaving.py): per event_type, a 4-counter summary of
    the |value| bit-length buckets folded across 4 file-granular
    micro-batches via the mergeable-summaries MG step — the
    deletion-free COUNTER-SET member that completes the streamed
    sketch family (min/max/sum/rank/counter-set).

    The tracked counters are inherently batch-order-dependent (micro-
    batch boundaries are not SQL-replayable), so the catalog output is
    the deterministic part: exact group sizes, the guaranteed-heavy-
    hitter count (c·(m+1) > n — integer compare), and the three MG
    theorem verdicts (every guaranteed HH tracked; w ≤ c ≤ w + D per
    tracked key; D·(m+1) ≤ n), plus stream-vs-batch row-count
    equality — the ml_*_banded evidentiary pattern: booleans oracled
    as constants, counts oracled exactly."""
    from ..sketches.spacesaving import (
        ITEM_SQL,
        spacesaving_invariants_report,
        spacesaving_stream,
    )

    summaries = spacesaving_stream(
        spark,
        _landed_events_flat_dir(spark, sf_dir),
        m=_SS_M,
        query_name="events_spacesaving_stream",
        max_files_per_trigger=1,
    )
    exact = (
        read_testdata_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull())
        .select("event_type", F.expr(ITEM_SQL).alias("item"))
        .groupBy("event_type", "item")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    report = spacesaving_invariants_report(summaries, exact, m=_SS_M)
    return report.join(
        summaries.select("event_type", "n_seen"), "event_type"
    ).select(
        "event_type",
        "n_events",
        "n_guaranteed_hh",
        "all_hh_tracked",
        "bounds_valid",
        "decrement_within_bound",
        (F.col("n_seen") == F.col("n_events")).alias("stream_count_matches"),
    )


_SS_STREAM_ORACLE = f"""
WITH it AS (
  SELECT event_type,
         least(15, length(bin(greatest(1,
             CAST(floor(abs(coalesce(value, 0.0))) AS BIGINT))))) AS item
  FROM events WHERE event_type IS NOT NULL
), cnt AS (
  SELECT event_type, item, CAST(count(*) AS BIGINT) AS c
  FROM it GROUP BY 1, 2
), tot AS (
  SELECT event_type, CAST(sum(c) AS BIGINT) AS n_events
  FROM cnt GROUP BY 1
)
SELECT t.event_type, t.n_events,
       CAST(coalesce((SELECT count(*) FROM cnt
                      WHERE cnt.event_type = t.event_type
                        AND c * {_SS_M + 1} > t.n_events), 0) AS BIGINT)
         AS n_guaranteed_hh,
       TRUE AS all_hh_tracked,
       TRUE AS bounds_valid,
       TRUE AS decrement_within_bound,
       TRUE AS stream_count_matches
FROM tot t
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    stream: P(next event type | current), from lag pairs ordered by
    (ts, event_id) within user — the behavioral-model fit step
    (next-action prediction, anomaly scoring against the matrix).
    One window shuffle on user_id + one pair aggregate; probabilities
    are exact-count ratios rounded at display."""
    ev = read_testdata_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    pairs = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    wf = W.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wf), 6).alias("p"),
    )


_TRANSITIONS_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (
             PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         ) AS next_type
  FROM events
), pairs AS (
  SELECT event_type AS from_type, next_type AS to_type,
         CAST(count(*) AS BIGINT) AS n
  FROM ordered WHERE next_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       round(CAST(n AS DOUBLE)
             / sum(n) OVER (PARTITION BY from_type), 6) AS p
FROM pairs
"""


def q_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_counts(
        read_testdata_table(spark, sf_dir, "events"), width="1 hour", slide="30 minutes"
    )


def q_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sliding aggregation under the real streaming runtime
    (availableNow drain, complete mode) — oracled ≡ batch."""
    landed = _landed_events_dir(spark, sf_dir)
    stream = events_stream_reader(
        spark, landed, max_files_per_trigger=None
    ).withWatermark("ts", "30 minutes")
    return drain(
        sliding_counts(stream, width="1 hour", slide="30 minutes"),
        landed,
        query_name="events_sliding_stream",
        output_mode="complete",
    )


def q_enrich_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC enrichment join under the real streaming runtime
    (streaming.windows.enriched_segment_counts, complete mode): the
    event stream is broadcast-joined per micro-batch to the customer
    dimension (stateless), then window-aggregated per market segment
    (the only stateful operator). That is why this is the shape for
    dimension enrichment at stream time, while a stream-STREAM join
    (events_interval_join_stream) pays watermark-deep state on both
    sides. Oracled ≡ the batch join+window."""
    dim = read_testdata_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("dim_key"),
        F.col("c_mktsegment").alias("segment"),
    )
    landed = _landed_events_dir(spark, sf_dir)
    stream = events_stream_reader(
        spark, landed, max_files_per_trigger=None
    ).withWatermark("ts", "30 minutes")
    return drain(
        enriched_segment_counts(stream, dim, width="1 hour"),
        landed,
        query_name="events_enrich_stream",
        output_mode="complete",
    )


_ENRICH_STREAM_ORACLE = """
SELECT strftime(time_bucket(INTERVAL '1 hour', CAST(e.ts AS TIMESTAMP)),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       coalesce(c.c_mktsegment, 'UNKNOWN') AS segment,
       count(*) AS n_events,
       CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


def q_upsert_sink_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming UPSERT sink (streaming.jobs
    run_upsert_sink_stream_available_now): micro-batches merge into a
    keyed parquet state via foreachBatch (generation-swap writes);
    the final serving table must equal the batch latest-event-per-user
    — which is exactly what the oracle computes. max_files_per_trigger
    = 4 forces MULTIPLE merge generations over the landed directory,
    so the cross-batch upsert path executes, not just the first-batch
    bootstrap."""
    from ..streaming.jobs import run_upsert_sink_stream_available_now

    out = run_upsert_sink_stream_available_now(
        spark,
        _landed_events_dir(spark, sf_dir),
        max_files_per_trigger=4,
    )
    return out.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
    )


_UPSERT_SINK_ORACLE = """
WITH ranked AS (
  SELECT user_id, ts, event_id, value,
         row_number() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC, value DESC
         ) AS rn
  FROM events
)
SELECT user_id,
       strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS last_ts,
       event_id AS last_event_id,
       value AS last_value
FROM ranked WHERE rn = 1
"""


def q_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The session-window aggregation under the real streaming runtime
    — the state-heavy case: windows merge as events arrive, and the
    watermark bounds how long an open session can wait for a late
    extension before its state is finalized. Oracled ≡ batch."""
    landed = _landed_events_dir(spark, sf_dir)
    stream = events_stream_reader(
        spark, landed, max_files_per_trigger=None
    ).withWatermark("ts", "30 minutes")
    return drain(
        session_counts(stream, gap="5 minutes"),
        landed,
        query_name="events_session_stream",
        output_mode="complete",
    )


# An event at t belongs to the two 1h windows starting at floor30(t) and
# floor30(t) - 30min (width/slide = 2 overlapping windows).
_SLIDING_ORACLE = """
WITH placed AS (
  SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) AS window_start,
         event_type FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) - INTERVAL '30 minutes',
         event_type FROM events
)
SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS n_events
FROM placed GROUP BY 1, 2
"""


def q_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_counts(read_testdata_table(spark, sf_dir, "events"), gap="5 minutes")


# Gaps-and-islands: a new session starts when the gap from the previous
# event of the same user is >= 5 minutes (session_window's end-exclusive
# [start, last+gap) semantics).
_SESSION_ORACLE = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL '5 minutes'
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
), islands AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_no
  FROM marked
)
SELECT user_id,
       strftime(CAST(min(ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS n_events
FROM islands GROUP BY user_id, session_no
"""


_DEDUP_STREAM_ORACLE = """
SELECT event_id, user_id, event_type, value FROM events
"""


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First- and last-touch attribution: each purchase credits the
    FIRST and the LAST click by the same user inside the 10-minute
    lookback. Scale shape: the bounded interval join (same predicate as
    events_interval_join) followed by one min/max aggregate per
    purchase — no window function, no unbounded state; deterministic
    because (c_ts, click_id) ordering is total."""
    ev = read_testdata_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES")),
    )
    # struct min/max orders by (ts, id) lexicographically → total order
    touch = F.struct(F.col("c_ts"), F.col("click_id"))
    return (
        joined.groupBy("user_id", "purchase_id")
        .agg(
            F.min(touch).getField("click_id").alias("first_touch_click"),
            F.max(touch).getField("click_id").alias("last_touch_click"),
            F.count(F.lit(1)).alias("n_touches"),
        )
    )


_ATTRIBUTION_ORACLE = """
WITH pairs AS (
  SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id, c.ts AS c_ts
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  JOIN (SELECT * FROM events WHERE event_type = 'click') c
    ON p.user_id = c.user_id
   AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL '10 minutes'
)
SELECT user_id, purchase_id,
       (min(struct_pack(t := c_ts, i := click_id))).i AS first_touch_click,
       (max(struct_pack(t := c_ts, i := click_id))).i AS last_touch_click,
       count(*) AS n_touches
FROM pairs GROUP BY user_id, purchase_id
"""


def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct active users per day — the DAU/WAU
    hypertable staple. Scale shape: dedupe to (user, day) FIRST (one
    shuffle that collapses the event volume), then each (user, day)
    contributes to ≤7 window days via a generated-sequence explode, and
    the per-day distinct count partially aggregates map-side. No
    self-join over raw events, no unbounded window frame."""
    ev = read_testdata_table(spark, sf_dir, "events")
    user_days = ev.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    contrib = user_days.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("window_day"),
    )
    # active days derive from the already-collapsed (user, day) table —
    # no second scan of the raw event volume for a ~hundreds-row set
    active_days = user_days.select(F.col("day").alias("window_day")).distinct()
    return (
        contrib.join(active_days, "window_day")
        .groupBy("window_day")
        .agg(F.count_distinct("user_id").alias("active_users_7d"))
        .select(
            F.date_format("window_day", "yyyy-MM-dd").alias("window_day"),
            "active_users_7d",
        )
    )


_ROLLING_ACTIVE_ORACLE = """
WITH ud AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
), days AS (
  SELECT DISTINCT CAST(ts AS DATE) AS window_day FROM events
)
SELECT strftime(d.window_day, '%Y-%m-%d') AS window_day,
       count(DISTINCT u.user_id) AS active_users_7d
FROM days d
JOIN ud u ON u.day BETWEEN d.window_day - INTERVAL 6 DAY AND d.window_day
GROUP BY 1
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return json_extract_k(read_testdata_table(spark, sf_dir, "events"))


_JSON_ORACLE = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events
"""


def q_multi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.rollup import multi_granularity_rollup

    return multi_granularity_rollup(read_testdata_table(spark, sf_dir, "events"))


_MULTI_ROLLUP_ORACLE = """
WITH minute AS (
  SELECT date_trunc('minute', CAST(ts AS TIMESTAMP)) AS bucket, event_type,
         count(*) AS n_events, SUM(CAST(value AS DECIMAL(18,2))) AS sum_dec
  FROM events GROUP BY 1, 2
), hour AS (
  SELECT date_trunc('hour', bucket) AS bucket, event_type,
         CAST(sum(n_events) AS BIGINT) AS n_events, sum(sum_dec) AS sum_dec
  FROM minute GROUP BY 1, 2
), day AS (
  SELECT date_trunc('day', bucket) AS bucket, event_type,
         CAST(sum(n_events) AS BIGINT) AS n_events, sum(sum_dec) AS sum_dec
  FROM hour GROUP BY 1, 2
)
SELECT 'minute' AS grain, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket_start,
       event_type, n_events, CAST(sum_dec AS DOUBLE) AS sum_value FROM minute
UNION ALL
SELECT 'hour', strftime(bucket, '%Y-%m-%d %H:%M:%S'), event_type, n_events,
       CAST(sum_dec AS DOUBLE) FROM hour
UNION ALL
SELECT 'day', strftime(bucket, '%Y-%m-%d %H:%M:%S'), event_type, n_events,
       CAST(sum_dec AS DOUBLE) FROM day
"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch interval join: each purchase paired with every click by the
    same user in the preceding 10 minutes — the batch twin of the
    watermarked stream-stream join (tests/test_streaming_join.py runs
    the same predicate as a real stream-stream join)."""
    ev = read_testdata_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    return (
        p.join(
            c,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES")),
        )
        .select("user_id", "purchase_id", "click_id")
    )


_INTERVAL_JOIN_ORACLE = """
SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL '10 minutes'
"""


def q_interval_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interval join as a real watermarked stream-stream join
    (streaming.windows.interval_join_pairs, append mode) — oracled
    against the batch interval-join SQL."""
    landed = _landed_events_dir(spark, sf_dir)
    return drain(
        interval_join_pairs(
            events_stream_reader(spark, landed, max_files_per_trigger=None),
            events_stream_reader(spark, landed, max_files_per_trigger=None),
            watermark="30 minutes",
            lookback="10 MINUTES",
        ),
        landed,
        query_name="events_interval_join_stream",
    )


def _first_views(ev: DataFrame) -> DataFrame:
    """Step 1 of every funnel: each viewer's first view time ``t1``."""
    return (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )


def _step_counts(
    v: DataFrame, c: DataFrame, p: DataFrame, click: str, purchase: str
) -> DataFrame:
    """(step, stage, n_users) for the view, click and purchase frames."""

    def step(df: DataFrame, n: int, stage: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(n).cast("long").alias("step"),
            F.lit(stage).alias("stage"),
            "n_users",
        )

    return step(v, 1, "view").unionByName(step(c, 2, click)).unionByName(
        step(p, 3, purchase)
    )


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: a user counts
    at step N only with an event strictly after their step-N-1 time.
    Per-user frames shrink to ≤ |users| rows after the first aggregate,
    so the step joins broadcast — at 100 TB the only big-data pass is
    the three filtered scans feeding the first groupBys."""
    ev = read_testdata_table(spark, sf_dir, "events")
    v = _first_views(ev)
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(F.broadcast(v), "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return _step_counts(v, c, p, "click", "purchase")


_FUNNEL_ORACLE = """
WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
      JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
      JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id)
SELECT CAST(1 AS BIGINT) AS step, 'view' AS stage, count(*) AS n_users FROM v
UNION ALL SELECT 2, 'click', count(*) FROM c
UNION ALL SELECT 3, 'purchase', count(*) FROM p
"""


# ------------- funnel time-to-convert -------------


def q_events_funnel_ttc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert between funnel steps (view→click,
    click→purchase): per-stage converter count, mean gap, and the
    exact lower-median gap in whole seconds.

    Scale shape: the funnel stage frames reduce to one row per user
    before any join (same discipline as events_funnel); the median
    runs on operators/weighted_quantile.py:weighted_median with unit
    weights — range-bucketed prefix counts, ordered window only
    inside the crossing bucket, never a whole-stage sort. Gaps are
    exact integer seconds (micros div 10⁶ on positive gaps), so sums
    stay in BIGINT/DECIMAL and only the mean divides as float."""
    ev = read_testdata_table(spark, sf_dir, "events")
    v = _first_views(ev)
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(F.broadcast(v), "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.min("t1").alias("t1k"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"), F.min("t2").alias("t2k"))
    )
    # integer division, not /-then-cast: Spark's cast-to-long
    # truncates while DuckDB's CAST rounds — div/// agree on the
    # positive gaps
    gap_vc = c.select(
        F.lit("view_to_click").alias("stage"),
        F.expr(
            f"(unix_micros(t2) - unix_micros(t1k)) div {US_SEC}"
        ).alias("gap_s"),
    )
    gap_cp = p.select(
        F.lit("click_to_purchase").alias("stage"),
        F.expr(
            f"(unix_micros(t3) - unix_micros(t2k)) div {US_SEC}"
        ).alias("gap_s"),
    )
    # gaps feeds the median operator (3 refs internally) AND the
    # mean aggregate — checkpoint once here
    gaps = gap_vc.unionByName(gap_cp).localCheckpoint(eager=False)
    med = weighted_median(
        gaps,
        group="stage",
        val="gap_s",
        weight_expr=F.lit(1).cast("decimal(18,2)"),
        buckets=64,
    ).select(
        "stage", F.col("weighted_median").alias("median_gap_s")
    )
    means = gaps.groupBy("stage").agg(
        F.count(F.lit(1)).alias("n_converters"),
        F.round(
            F.sum("gap_s").cast("double") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_gap_s"),
    )
    return (
        means.join(med, "stage")
        .select("stage", "n_converters", "mean_gap_s", "median_gap_s")
        .orderBy("stage")
    )


_TTC_ORACLE = f"""
WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS t2, min(v.t1) AS t1k FROM events e
      JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS t3, min(c.t2) AS t2k FROM events e
      JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id),
gaps AS (
  SELECT 'view_to_click' AS stage,
         (epoch_us(CAST(t2 AS TIMESTAMP))
          - epoch_us(CAST(t1k AS TIMESTAMP))) // {US_SEC} AS gap_s
  FROM c
  UNION ALL
  SELECT 'click_to_purchase',
         (epoch_us(CAST(t3 AS TIMESTAMP))
          - epoch_us(CAST(t2k AS TIMESTAMP))) // {US_SEC}
  FROM p
), cum AS (
  SELECT stage, gap_s,
         SUM(w) OVER (PARTITION BY stage ORDER BY gap_s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cw,
         SUM(w) OVER (PARTITION BY stage) AS total
  FROM (SELECT stage, gap_s,
               SUM(CAST(1 AS DECIMAL(18,2))) AS w
        FROM gaps GROUP BY 1, 2) d
), med AS (
  SELECT stage, min(gap_s) AS median_gap_s
  FROM cum WHERE 2 * cw >= total GROUP BY stage
)
SELECT g.stage, count(*) AS n_converters,
       round(CAST(SUM(g.gap_s) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         AS mean_gap_s,
       min(m.median_gap_s) AS median_gap_s
FROM gaps g JOIN med m ON g.stage = m.stage
GROUP BY g.stage
ORDER BY g.stage
"""


# ------------- conversion-window funnel -------------


def q_events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count funnel with a CONVERSION WINDOW: a click counts only
    within 7 days of the first view, a purchase only within 7 days
    of the qualifying click — the production funnel semantics
    (unbounded funnels overcount by attributing unrelated late
    events).

    Scale shape: identical reduction discipline to events_funnel —
    each stage reduces to one row per user before the next broadcast
    join; the window bound rides the stage filter, costing
    nothing."""
    ev = read_testdata_table(spark, sf_dir, "events")
    win = F.expr("INTERVAL 7 DAYS")
    v = _first_views(ev)
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(F.broadcast(v), "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + win))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + win))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return _step_counts(v, c, p, "click_7d", "purchase_7d")


_FUNNEL_WINDOWED_ORACLE = """
WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
      JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
        AND e.ts <= v.t1 + INTERVAL 7 DAY
      GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
      JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
        AND e.ts <= c.t2 + INTERVAL 7 DAY
      GROUP BY e.user_id)
SELECT CAST(1 AS BIGINT) AS step, 'view' AS stage, count(*) AS n_users FROM v
UNION ALL SELECT 2, 'click_7d', count(*) FROM c
UNION ALL SELECT 3, 'purchase_7d', count(*) FROM p
"""


# ------------- weekly cohort LTV -------------


def q_events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-cohort lifetime value triangle: users cohort by their
    first-activity week; revenue accumulates per (cohort_week,
    weeks_since_first) with cohort size and cumulative LTV per user.

    Scale shape: the cohort assignment is ONE per-user min
    (broadcast back onto the user's own events via a keyed join —
    both sides reduce/partition on user_id); the triangle frame is
    O(weeks²) rows, so its cumulative window is bounded by the time
    domain, never event volume. Revenue quantizes to DECIMAL(18,6);
    the cumulative sum stays decimal until the final rounded
    division."""
    ev = read_testdata_table(spark, sf_dir, "events")
    keyed = ev.select(
        "user_id",
        F.call_function("div", day_bucket("ts"), F.lit(7)).alias("week"),
        spend().alias("v"),
    )
    first = keyed.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    joined = keyed.join(first, "user_id").withColumn(
        "weeks_since", F.col("week") - F.col("cohort_week")
    )
    cohort_sizes = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    tri = joined.groupBy("cohort_week", "weeks_since").agg(
        F.sum("v").alias("rev")
    )
    cum_w = (
        W.partitionBy("cohort_week")
        .orderBy("weeks_since")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        tri.withColumn("cum_rev", F.sum("rev").over(cum_w))
        .join(F.broadcast(cohort_sizes), "cohort_week")
        .select(
            "cohort_week",
            "weeks_since",
            "cohort_users",
            F.col("rev").cast("double").alias("week_revenue"),
            F.round(
                F.col("cum_rev").cast("double")
                / F.col("cohort_users").cast("double"),
                6,
            ).alias("cum_ltv_per_user"),
        )
        .orderBy("cohort_week", "weeks_since")
    )


_LTV_ORACLE = f"""
WITH keyed AS (
  SELECT user_id,
         ({day_bucket_sql('ts')}) // 7 AS week,
         {SPEND_SQL} AS v
  FROM events
), first AS (
  SELECT user_id, min(week) AS cohort_week FROM keyed GROUP BY 1
), sizes AS (
  SELECT cohort_week, count(*) AS cohort_users FROM first GROUP BY 1
), tri AS (
  SELECT f.cohort_week, k.week - f.cohort_week AS weeks_since,
         SUM(k.v) AS rev
  FROM keyed k JOIN first f ON k.user_id = f.user_id
  GROUP BY 1, 2
)
SELECT t.cohort_week, t.weeks_since, s.cohort_users,
       CAST(t.rev AS DOUBLE) AS week_revenue,
       round(CAST(SUM(t.rev) OVER (PARTITION BY t.cohort_week
                                   ORDER BY t.weeks_since
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS DOUBLE)
             / CAST(s.cohort_users AS DOUBLE), 6) AS cum_ltv_per_user
FROM tri t JOIN sizes s ON t.cohort_week = s.cohort_week
ORDER BY t.cohort_week, t.weeks_since
"""


# ------------- event-time disorder audit -------------


def q_events_disorder_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness audit per event type: treating event_id as
    arrival order, how far do event times run behind the running
    event-time high-water mark? Reports the late fraction and the
    max/mean lateness — EXACTLY the numbers that justify a
    structured-streaming watermark delay (`withWatermark("ts", X)`)
    instead of guessing X.

    Engine parity: lateness = clamped (running max − ts) in exact
    integer micros; the running max is an ordered prefix window on
    (event_id) — unique, so engine-deterministic. Scale shape: the
    window partitions by event_type (per-type arrival streams);
    state is one type's ordered frame, and at 100 TB arrival order
    would partition further by ingest shard."""
    e = read_testdata_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    us = F.unix_micros(F.col("ts"))
    # each type's FIRST arrival has no prior high-water mark: drop it
    # BEFORE the clamp — greatest(0, NULL) is engine-divergent
    # (Spark's greatest skips NULLs), so the NULL must never reach it
    lat = (
        e.select(
            "event_type",
            us.alias("us"),
            F.max(us).over(w).alias("prev_max"),
        )
        .filter(F.col("prev_max").isNotNull())
        .select(
            "event_type",
            F.greatest(
                F.lit(0).cast("long"), F.col("prev_max") - F.col("us")
            ).alias("late_us"),
        )
    )
    return (
        lat.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_arrivals"),
            F.sum((F.col("late_us") > 0).cast("long")).alias("n_late"),
            F.round(
                F.sum((F.col("late_us") > 0).cast("long")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("late_frac"),
            (F.max("late_us") / F.lit(US_SEC))
            .cast("double")
            .alias("max_lateness_s"),
            F.round(
                F.sum("late_us").cast("double")
                / F.lit(float(US_SEC))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_lateness_s"),
        )
        .orderBy("event_type")
    )


_DISORDER_ORACLE = f"""
WITH marked AS (
  SELECT event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us,
         max(epoch_us(CAST(ts AS TIMESTAMP))) OVER
           (PARTITION BY event_type ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max
  FROM events
), lat AS (
  SELECT event_type,
         greatest(CAST(0 AS BIGINT), prev_max - us) AS late_us
  FROM marked WHERE prev_max IS NOT NULL
)
SELECT event_type,
       count(*) AS n_arrivals,
       CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_late,
       round(CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS late_frac,
       CAST(max(late_us) AS DOUBLE) / {float(US_SEC)!r} AS max_lateness_s,
       round(CAST(SUM(late_us) AS DOUBLE) / {float(US_SEC)!r}
             / CAST(count(*) AS DOUBLE), 6) AS mean_lateness_s
FROM lat
GROUP BY event_type
ORDER BY event_type
"""


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bound equi-width histogram over value: width_bucket keeps
    it a single aggregate pass (no global min/max pre-scan), which is
    the right shape at scale — adaptive bounds would cost a second
    full read."""
    ev = read_testdata_table(spark, sf_dir, "events")
    bucket = F.width_bucket(F.col("value"), F.lit(0.0), F.lit(500.0), F.lit(10))
    return ev.groupBy(bucket.cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


# width_bucket clamps: value < lo -> bucket 0, value >= hi -> bucket
# n+1. The plain floor(value/50)+1 form agreed by accident at small sf
# (no value reached 600); sf0.1 exposed the divergence — the CASE
# replicates the clamp exactly.
_HISTOGRAM_ORACLE = """
SELECT CAST(CASE WHEN value < 0.0 THEN 0
                 WHEN value >= 500.0 THEN 11
                 ELSE floor(value / 50.0) + 1 END AS BIGINT) AS bucket,
       count(*) AS n_events,
       min(value) AS min_value,
       max(value) AS max_value,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
"""


def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day, counted on
    each later active day (day_offset). The distinct collapses events to
    ≤ |users|·|days| rows before the cohort join, which then
    broadcasts."""
    ev = read_testdata_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    active = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("active_day")
    ).distinct()
    return (
        active.join(F.broadcast(firsts), "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("active_day", "cohort_day").cast("long").alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            "day_offset",
            "n_users",
        )
    )


_RETENTION_ORACLE = """
WITH firsts AS (
  SELECT user_id, date_trunc('day', min(ts)) AS cd FROM events GROUP BY user_id
), active AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS ad FROM events
)
SELECT strftime(cd, '%Y-%m-%d') AS cohort_day,
       CAST(date_diff('day', cd, ad) AS BIGINT) AS day_offset,
       count(DISTINCT user_id) AS n_users
FROM active JOIN firsts USING (user_id)
GROUP BY cd, day_offset
"""


def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly regularization + forward fill
    (operators/timeseries.py:resample_ffill) over 8 user-band series —
    the telemetry gap-repair op. is_gap marks carried-forward rows, so
    the oracle (grid via generate_series + IGNORE NULLS last_value)
    verifies both the grid construction and the fill values."""
    from ..operators.timeseries import resample_ffill

    ev = read_testdata_table(spark, sf_dir, "events")
    out = resample_ffill(
        ev,
        key_col=(F.col("user_id") % 8),
        ts_col="ts",
        value_col="value",
        unit="hour",
    )
    # timestamps serialize to strings for the cross-engine compare —
    # module convention (see window queries above)
    return out.select(
        "series",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "value_ffill",
        "is_gap",
    )


_RESAMPLE_FFILL_ORACLE = """
WITH obs AS (
  SELECT user_id % 8 AS series, date_trunc('hour', ts) AS bucket,
         max(value) AS v
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT series, min(bucket) AS lo, max(bucket) AS hi FROM obs GROUP BY series
), grid AS (
  SELECT series, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
  FROM bounds
)
SELECT g.series,
       strftime(g.bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       last_value(o.v IGNORE NULLS) OVER (
         PARTITION BY g.series ORDER BY g.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill,
       o.v IS NULL AS is_gap
FROM grid g LEFT JOIN obs o ON g.series = o.series AND g.bucket = o.bucket
"""


def q_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Islands-and-gaps: per user, maximal runs of CONSECUTIVE active
    days (the retention/engagement streak metric). The classic
    constant-group trick — day − row_number() over distinct active
    days is constant within a consecutive run — turns streak detection
    into two windows + a groupBy, no self-join, no iteration. Output:
    per user, number of streaks, longest streak, and the longest
    streak's start day (ties → earliest)."""
    ev = read_testdata_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    rn = F.row_number().over(W.partitionBy("user_id").orderBy("day"))
    grouped = days.withColumn("grp", F.date_sub("day", rn))
    streaks = grouped.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("len"),
        F.min("day").alias("start_day"),
    )
    # single-integer tiebreak key (DuckDB arg_min takes no struct):
    # longest first, then earliest start — epoch-day < 100000 for any
    # plausible date, streak len ≤ days in range
    key = (-F.col("len")) * 100000 + F.datediff(
        "start_day", F.lit("1970-01-01").cast("date")
    )
    return streaks.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.max("len").alias("longest_streak"),
        F.date_format(F.min_by("start_day", key), "yyyy-MM-dd").alias(
            "longest_start"
        ),
    )


_STREAKS_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), grouped AS (
  SELECT user_id, day,
         day - CAST(row_number() OVER (
             PARTITION BY user_id ORDER BY day) AS INTEGER) AS grp
  FROM days
), streaks AS (
  SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len,
         min(day) AS start_day
  FROM grouped GROUP BY user_id, grp
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_streaks,
       max(len) AS longest_streak,
       strftime(arg_min(start_day,
                        (-len) * 100000
                        + (start_day - DATE '1970-01-01')), '%Y-%m-%d')
         AS longest_start
FROM streaks GROUP BY user_id
"""


def q_events_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user — the telemetry mean that
    irregular sampling demands (an event's value holds until the next
    event, so it weighs by its holding time, not by 1). Weights are
    integer SECONDS from lead(ts) (the last event has no holding
    interval and is excluded — stated, and replayed by the oracle);
    value·dt accumulates in DECIMAL (the proven tumbling_counts
    discipline), one division at the end. One window + one aggregate;
    the window key is the series key, so no global sort."""
    ev = read_testdata_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    dt = (
        F.unix_timestamp(F.lead("ts").over(w)) - F.unix_timestamp("ts")
    ).alias("dt")
    rows = ev.select(
        "user_id", F.col("value").cast("decimal(18,2)").alias("v"), dt
    ).filter(F.col("dt").isNotNull())
    return rows.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.sum("dt").cast("long").alias("total_seconds"),
        (
            F.sum(F.col("v") * F.col("dt")).cast("double") / F.sum("dt")
        ).alias("twap"),
    )


_TWAP_ORACLE = """
WITH r AS (
  SELECT user_id, CAST(value AS DECIMAL(18,2)) AS v,
         -- floor each endpoint to whole seconds BEFORE subtracting —
         -- Spark's unix_timestamp truncates per-timestamp, and
         -- floor(a)-floor(b) != floor(a-b) on fractional seconds
         CAST(floor(date_part('epoch', lead(ts) OVER (
             PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
           - CAST(floor(date_part('epoch', ts)) AS BIGINT) AS dt
  FROM events
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_intervals,
       CAST(sum(dt) AS BIGINT) AS total_seconds,
       CAST(sum(v * dt) AS DOUBLE) / sum(dt) AS twap
FROM r WHERE dt IS NOT NULL
GROUP BY user_id
"""


def q_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative unique users per day — the growth-curve metric. A
    naive per-day COUNT(DISTINCT ... WHERE ts <= day) rescans the
    history per day (quadratic); the scalable identity is
    first-seen-day per user (one agg) → new users per day (one agg) →
    running sum (one ordered window over day-sized rows)."""
    ev = read_testdata_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("day")
    )
    daily_new = first_seen.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return daily_new.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    )


_CUMULATIVE_USERS_ORACLE = """
WITH first_seen AS (
  SELECT user_id, CAST(min(ts) AS DATE) AS day FROM events GROUP BY user_id
), daily AS (
  SELECT day, CAST(count(*) AS BIGINT) AS new_users
  FROM first_seen GROUP BY day
)
SELECT strftime(day, '%Y-%m-%d') AS day, new_users,
       CAST(sum(new_users) OVER (
         ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       AS BIGINT) AS cumulative_users
FROM daily
"""


_CAP_GAP_MIN, _CAP_HOURS = 30, 2


def q_capped_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with BOTH rules production trackers apply: split
    on inactivity gaps (≥30 min) AND cap session duration (2 h) — an
    always-on device never emits a gap, so gap-only sessions
    (events_session_window) grow without bound. Semantics: gap
    boundaries first (window lag + cumulative sum — the standard
    sessionizer), then each gap-session sub-splits on a fixed 2 h grid
    anchored at its own start (floor((ts − start)/cap) — the
    deterministic grid variant, stated: a re-anchoring splitter is
    order-sequential and not SQL-replayable). Output: per user,
    session count and the longest session's event count."""
    ev = read_testdata_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_new = (
        prev.isNull()
        | (F.unix_timestamp("ts") - F.unix_timestamp(prev) >= _CAP_GAP_MIN * 60)
    ).cast("int")
    sessioned = ev.select("user_id", "ts", "event_id").withColumn(
        "gap_sess", F.sum(is_new).over(w)
    )
    ws = W.partitionBy("user_id", "gap_sess")
    start = F.min("ts").over(ws)
    capped = sessioned.withColumn(
        "sub",
        F.floor(
            (F.unix_timestamp("ts") - F.unix_timestamp(start))
            / (_CAP_HOURS * 3600)
        ),
    )
    per_session = capped.groupBy("user_id", "gap_sess", "sub").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.max("n_events").cast("long").alias("max_session_events"),
    )


_CAPPED_SESSIONS_ORACLE = f"""
WITH lagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR CAST(floor(date_part('epoch', ts)) AS BIGINT)
                   - CAST(floor(date_part('epoch', lag(ts) OVER w)) AS BIGINT)
                   >= {_CAP_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessioned AS (
  SELECT user_id, ts,
         sum(is_new) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS gap_sess
  FROM lagged
), capped AS (
  SELECT user_id, gap_sess,
         floor((CAST(floor(date_part('epoch', ts)) AS BIGINT)
                - CAST(floor(date_part('epoch',
                    min(ts) OVER (PARTITION BY user_id, gap_sess)))
                  AS BIGINT))
               / {_CAP_HOURS * 3600}.0) AS sub
  FROM sessioned
), per_session AS (
  SELECT user_id, gap_sess, sub, count(*) AS n_events
  FROM capped GROUP BY 1, 2, 3
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(max(n_events) AS BIGINT) AS max_session_events
FROM per_session GROUP BY user_id
"""


_JOURNEY_PREFIX = 8


def q_journey_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey prefixes: each user's first 8 events (by ts,
    event_id) joined into an ordered path string, then counted across
    users — the product-analytics 'what do users do first' rollup.
    Ordered-collect semantics via sort_array over (ts, event_id, type)
    structs (struct sort is lexicographic on field order, so the path
    order is total and engine-replayable via string_agg ORDER BY)."""
    ev = read_testdata_table(spark, sf_dir, "events")
    rn = F.row_number().over(W.partitionBy("user_id").orderBy("ts", "event_id"))
    first_k = ev.select("user_id", "ts", "event_id", "event_type").withColumn(
        "rn", rn
    ).filter(F.col("rn") <= _JOURNEY_PREFIX)
    paths = first_k.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda x: x["event_type"],
            ),
        ).alias("path")
    )
    return paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


_JOURNEY_ORACLE = f"""
WITH ranked AS (
  SELECT user_id, event_type,
         row_number() OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         ts, event_id
  FROM events
), paths AS (
  SELECT user_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM ranked WHERE rn <= {_JOURNEY_PREFIX}
  GROUP BY user_id
)
SELECT path, CAST(count(*) AS BIGINT) AS n_users
FROM paths GROUP BY path
"""


# ------------- per-user calendar lag / rolling features -------------


def q_events_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily feature frame for model training: previous
    CALENDAR day's spend (NULL across gaps, not the previous row's)
    and the trailing-7-calendar-day mean via a RANGE window.

    Scale shape: everything partitions by user — state is one user's
    bounded day series; the RANGE frame makes the trailing week a
    calendar semantics, not a row count, with no gap-fill explode
    needed. Daily sums quantize to DECIMAL(18,6) and the rolling
    mean divides exact decimal sums, so floats appear only in the
    rounded outputs."""
    e = read_testdata_table(spark, sf_dir, "events")
    daily = daily_spend(e)
    row_w = W.partitionBy("user_id").orderBy("day")
    range_w = (
        W.partitionBy("user_id").orderBy("day").rangeBetween(-6, 0)
    )
    prev_day = F.lag("day").over(row_w)
    prev_v = F.lag("v").over(row_w)
    return daily.select(
        "user_id",
        "day",
        F.col("v").cast("double").alias("value"),
        F.when(prev_day == F.col("day") - 1, prev_v)
        .cast("double")
        .alias("lag1"),
        F.count(F.lit(1)).over(range_w).alias("n7"),
        F.round(
            F.sum("v").over(range_w).cast("double")
            / F.count(F.lit(1)).over(range_w).cast("double"),
            6,
        ).alias("avg7"),
    )


_LAG_ORACLE = f"""
WITH daily AS (
  {DAILY_SPEND_SQL}
)
SELECT user_id, day,
       CAST(v AS DOUBLE) AS value,
       CAST(CASE WHEN lag(day) OVER w = day - 1
                 THEN lag(v) OVER w END AS DOUBLE) AS lag1,
       count(*) OVER r AS n7,
       round(CAST(SUM(v) OVER r AS DOUBLE)
             / CAST(count(*) OVER r AS DOUBLE), 6) AS avg7
FROM daily
WINDOW w AS (PARTITION BY user_id ORDER BY day),
       r AS (PARTITION BY user_id ORDER BY day
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


# ------------- inter-event gap statistics -------------


def q_events_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type inter-arrival statistics from each user's
    consecutive events: gap count, mean/max gap in seconds, and the
    share of gaps longer than one hour (the inputs to a session-gap
    threshold choice).

    Engine parity: gaps are exact integer micros (BIGINT
    difference of unix_micros), summed exactly; ties on ts break on
    event_id so the sequence is engine-deterministic; only the mean
    and share divide as floats, rounded to 6."""
    e = read_testdata_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        e.select(
            "user_id",
            "event_type",
            "event_id",
            "ts",
            F.unix_micros(F.col("ts")).alias("us"),
        )
        .withColumn("next_us", F.lead("us").over(w))
        .filter(F.col("next_us").isNotNull())
        .withColumn("gap_us", F.col("next_us") - F.col("us"))
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(
                F.sum("gap_us").cast("double")
                / F.lit(float(US_SEC))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_gap_s"),
            (F.max("gap_us") / F.lit(US_SEC))
            .cast("double")
            .alias("max_gap_s"),
            F.round(
                F.sum(
                    (F.col("gap_us") > US_HOUR).cast("long")
                ).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("share_gt_1h"),
        )
        .orderBy("event_type")
    )


_GAP_ORACLE = f"""
WITH gaps AS (
  SELECT event_type,
         lead(epoch_us(CAST(ts AS TIMESTAMP)))
           OVER (PARTITION BY user_id
                 ORDER BY ts, event_id)
           - epoch_us(CAST(ts AS TIMESTAMP)) AS gap_us
  FROM events
)
SELECT event_type,
       count(*) AS n_gaps,
       round(CAST(SUM(gap_us) AS DOUBLE) / {float(US_SEC)!r}
             / CAST(count(*) AS DOUBLE), 6) AS mean_gap_s,
       CAST(max(gap_us) AS DOUBLE) / {float(US_SEC)!r} AS max_gap_s,
       round(CAST(SUM(CASE WHEN gap_us > {US_HOUR} THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS share_gt_1h
FROM gaps
WHERE gap_us IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""


# ------------- RFM quartile segmentation -------------


def q_events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per user, recency (whole days since the
    user's last event, anchored at the global latest event), frequency
    (event count), monetary (exact decimal value sum), each cut into
    quartiles with a user_id tie-break so the quartile boundary is
    total-ordered and engine-identical; rfm_code packs the three
    digits. Recency arithmetic is integer microseconds
    (unix_micros // us_per_day — no timezone, no date truncation).
    Anonymous events (NULL user_id) are excluded in BOTH engines:
    user-level RFM has no user to attribute them to, a NULL group
    would silently vanish in the quartile equi-joins, and a NULL
    tie-break key is itself engine-divergent (Spark windows sort
    NULLs first, DuckDB last).

    Scale shape: NTILE semantics without ntile's global ordered
    window. Each of the three dimensions ranks via
    operators/ranking.py:bucketed_global_rank (range-bucketed prefix
    counts; row_number confined to one bucket's partition) and the
    quartile is recomputed from (rank, n) in exact integer arithmetic
    (ntile_from_rank) — three user-id-keyed joins instead of three
    single-partition sorts of the user frame. The oracle value-checks
    ntile(4) itself, proving the decomposition exact."""
    e = read_testdata_table(spark, sf_dir, "events")
    per = (
        e.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max(F.unix_micros(F.col("ts"))).alias("last_us"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(
                F.col("value").cast("decimal(18,6)").cast("decimal(38,6)")
            ).cast("double").alias("monetary"),
        )
        # feeds the anchor aggregate AND the final projection — the
        # double-referenced-frame discipline
        .localCheckpoint(eager=False)
    )
    anchor = per.agg(F.max("last_us").alias("anchor_us"))
    base = (
        per.crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.expr(f"(anchor_us - last_us) div {US_DAY}").alias(
                "recency_days"
            ),
            "frequency",
            "monetary",
        )
        # referenced by the count scalar, three rank frames, and the
        # final projection — one lazy checkpoint or the upstream
        # aggregate runs five times
        .localCheckpoint(eager=False)
    )
    n_total = base.agg(F.count(F.lit(1)).cast("long").alias("n"))

    def quartile(val: str, out: str, descending: bool) -> DataFrame:
        ranked = bucketed_global_rank(
            base.select("user_id", val),
            val=val,
            tiebreak="user_id",
            buckets=64,
            descending=descending,
            # base is already lazily checkpointed; a 2-col projection
            # of it is cheaper to recompute than to re-materialize
            checkpoint=False,
        )
        return ranked.crossJoin(F.broadcast(n_total)).select(
            "user_id",
            ntile_from_rank("_rank", "n", 4).alias(out),
        )

    r = quartile("recency_days", "r_q", descending=False)
    f_ = quartile("frequency", "f_q", descending=True)
    m = quartile("monetary", "m_q", descending=True)
    return (
        base.join(r, "user_id")
        .join(f_, "user_id")
        .join(m, "user_id")
        .select(
            "user_id",
            "recency_days",
            "frequency",
            "monetary",
            "r_q",
            "f_q",
            "m_q",
        )
        .withColumn(
            "rfm_code",
            F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q"),
        )
    )


_RFM_ORACLE = f"""
WITH per AS (
  SELECT user_id,
         max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) AS DECIMAL(38,6)))
              AS DOUBLE) AS monetary
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
), anc AS (SELECT max(last_us) AS anchor_us FROM per),
base AS (
  SELECT user_id,
         CAST((anchor_us - last_us) // {US_DAY} AS BIGINT)
           AS recency_days,
         frequency, monetary
  FROM per CROSS JOIN anc
), q AS (
  SELECT user_id, recency_days, frequency, monetary,
         CAST(ntile(4) OVER (ORDER BY recency_days, user_id) AS BIGINT)
           AS r_q,
         CAST(ntile(4) OVER (ORDER BY frequency DESC, user_id) AS BIGINT)
           AS f_q,
         CAST(ntile(4) OVER (ORDER BY monetary DESC, user_id) AS BIGINT)
           AS m_q
  FROM base
)
SELECT user_id, recency_days, frequency, monetary, r_q, f_q, m_q,
       r_q * 100 + f_q * 10 + m_q AS rfm_code
FROM q
"""


# ------------- CUSUM change-point -------------


def q_events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point per event type over the daily count series:
    S_t = Σ_{i<=t}(n_i − mean), peak |S_t| marks the day the level
    shifted — the classic drift localizer (a mean test says THAT
    volume changed; CUSUM says WHEN). Kept in exact integers by
    scaling with the day count: S_t·D = D·cum_t − t·T (cum/totals are
    BIGINT), so the argmax day and peak are hash-exact; only the
    normalized peak divides. One grouped window pass — at 100 TB the
    windows stay inside each event type's daily series (days, not
    events)."""
    e = read_testdata_table(spark, sf_dir, "events")
    daily = daily_counts(e)
    w_p = W.partitionBy("event_type")
    w_cum = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    w_idx = W.partitionBy("event_type").orderBy("day")
    scored = daily.select(
        "event_type",
        "day",
        F.count(F.lit(1)).over(w_p).alias("n_days"),
        F.sum("n").over(w_p).alias("n_events"),
        (
            F.count(F.lit(1)).over(w_p) * F.sum("n").over(w_cum)
            - F.row_number().over(w_idx) * F.sum("n").over(w_p)
        ).alias("s"),
    )
    w_pick = W.partitionBy("event_type").orderBy(
        F.desc(F.abs(F.col("s"))), F.asc("day")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("n_days").cast("long").alias("n_days"),
            F.col("n_events").cast("long").alias("n_events"),
            F.expr(
                f"date_format(timestamp_micros(day * {US_DAY}),"
                " 'yyyy-MM-dd')"
            ).alias("change_day"),
            F.abs(F.col("s")).cast("long").alias("cusum_peak"),
            F.round(
                F.abs(F.col("s")).cast("double")
                / (
                    F.col("n_days").cast("double")
                    * F.col("n_events").cast("double")
                ),
                6,
            ).alias("cusum_peak_norm"),
        )
    )


_CUSUM_ORACLE = f"""
WITH daily AS (
  {DAILY_COUNTS_SQL}
), scored AS (
  SELECT event_type, day,
         count(*) OVER (PARTITION BY event_type) AS n_days,
         sum(n) OVER (PARTITION BY event_type) AS n_events,
         count(*) OVER (PARTITION BY event_type)
           * sum(n) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - row_number() OVER (PARTITION BY event_type ORDER BY day)
             * sum(n) OVER (PARTITION BY event_type) AS s
  FROM daily
), picked AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY abs(s) DESC, day ASC) AS rn
  FROM scored
)
SELECT event_type,
       CAST(n_days AS BIGINT) AS n_days,
       CAST(n_events AS BIGINT) AS n_events,
       strftime(make_timestamp(day * {US_DAY}), '%Y-%m-%d') AS change_day,
       CAST(abs(s) AS BIGINT) AS cusum_peak,
       round(CAST(abs(s) AS DOUBLE)
             / (CAST(n_days AS DOUBLE) * CAST(n_events AS DOUBLE)), 6)
         AS cusum_peak_norm
FROM picked WHERE rn = 1
"""


# ------------- diversity indices -------------


def q_events_diversity_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type, the concentration of activity across users:
    richness (distinct users), the Gini-Simpson index
    1 − Σp_u² (probability two random events come from different
    users), and effective user count 1/Σp_u² (Hill number of order
    2). Both are RATIONAL in the integer counts — Σp² = Σn_u²/N² —
    so unlike Shannon entropy (libm ln), they replay exactly; the
    integer moments ship alongside. Shuffle: one (type, user)
    aggregation, then a type-sized rollup."""
    e = read_testdata_table(spark, sf_dir, "events")
    per_user = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n_u")
    )
    agg = per_user.groupBy("event_type").agg(
        F.sum("n_u").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(
            (F.col("n_u") * F.col("n_u")).cast("decimal(38,0)")
        ).cast("long").alias("sum_sq"),
    )
    return agg.select(
        "event_type",
        "n_events",
        "n_users",
        "sum_sq",
        F.round(
            F.expr(
                "1.0e0 - CAST(sum_sq AS DOUBLE)"
                " / (CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE))"
            ),
            6,
        ).alias("simpson"),
        F.round(
            F.expr(
                "CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE)"
                " / nullif(CAST(sum_sq AS DOUBLE), 0.0)"
            ),
            6,
        ).alias("effective_users"),
    )


_DIVERSITY_ORACLE = """
WITH per_user AS (
  SELECT event_type, user_id, count(*) AS n_u
  FROM events GROUP BY 1, 2
), agg AS (
  SELECT event_type,
         CAST(sum(n_u) AS BIGINT) AS n_events,
         CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(CAST(n_u * n_u AS DECIMAL(38,0))) AS BIGINT) AS sum_sq
  FROM per_user GROUP BY event_type
)
SELECT event_type, n_events, n_users, sum_sq,
       round(1.0e0 - CAST(sum_sq AS DOUBLE)
             / (CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE)), 6)
         AS simpson,
       round(CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE)
             / nullif(CAST(sum_sq AS DOUBLE), 0.0), 6)
         AS effective_users
FROM agg
"""


# ------------- calendar seasonality profile -------------


def q_events_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour activity profile per event type: the peak
    slot (ties to the earliest slot), slot coverage, and the
    trough-to-peak ratio — the calendar fingerprint behind staffing/
    alerting baselines. Day-of-week is pure integer arithmetic from
    the epoch day ((day + 4) mod 7, 0 = Sunday — 1970-01-01 was a
    Thursday), hour likewise — no calendar functions, no timezone
    surface at all."""
    e = read_testdata_table(spark, sf_dir, "events")
    slots = e.groupBy(
        "event_type",
        ((day_bucket("ts") + 4) % 7).alias("dow"),
        F.expr(f"(unix_micros(ts) div {US_HOUR}) % 24").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w_pick = W.partitionBy("event_type").orderBy(
        F.desc("n"), F.asc("dow"), F.asc("hour")
    )
    picked = slots.select(
        "event_type",
        "dow",
        "hour",
        "n",
        F.row_number().over(w_pick).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("n_slots"),
        F.min("n").over(W.partitionBy("event_type")).alias("min_n"),
        F.max("n").over(W.partitionBy("event_type")).alias("max_n"),
    )
    return picked.filter(F.col("rn") == 1).select(
        "event_type",
        F.col("n_slots").cast("long").alias("n_slots"),
        F.col("dow").cast("long").alias("peak_dow"),
        F.col("hour").cast("long").alias("peak_hour"),
        F.col("n").cast("long").alias("peak_count"),
        F.round(
            F.expr("CAST(min_n AS DOUBLE) / CAST(max_n AS DOUBLE)"), 6
        ).alias("trough_peak_ratio"),
    )


_SEASONALITY_ORACLE = f"""
WITH slots AS (
  SELECT event_type,
         ({day_bucket_sql('ts')} + 4) % 7 AS dow,
         (epoch_us(CAST(ts AS TIMESTAMP)) // {US_HOUR}) % 24 AS hour,
         count(*) AS n
  FROM events GROUP BY 1, 2, 3
), picked AS (
  SELECT event_type, dow, hour, n,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY n DESC, dow ASC, hour ASC) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n_slots,
         min(n) OVER (PARTITION BY event_type) AS min_n,
         max(n) OVER (PARTITION BY event_type) AS max_n
  FROM slots
)
SELECT event_type,
       CAST(n_slots AS BIGINT) AS n_slots,
       CAST(dow AS BIGINT) AS peak_dow,
       CAST(hour AS BIGINT) AS peak_hour,
       CAST(n AS BIGINT) AS peak_count,
       round(CAST(min_n AS DOUBLE) / CAST(max_n AS DOUBLE), 6)
         AS trough_peak_ratio
FROM picked WHERE rn = 1
"""


# ------------- seasonal-naive forecast evaluation -------------


def q_events_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy scoreboard per event type: the seasonal-naive
    forecast (same day last week, lag 7) scored against the
    random-walk baseline (lag 1) over the daily count series —
    MAE for both and the MASE-style ratio. The evaluation backbone
    of any forecasting pipeline, in pure integer error sums (counts
    are integers; |n_t − n_{t−7}| sums exactly) with two final
    divisions. Days missing a lag are excluded from that side's MAE
    and the common MASE window uses days where BOTH lags exist —
    stated, and replayed by the oracle."""
    e = read_testdata_table(spark, sf_dir, "events")
    # the daily series feeds three plan references (base + two lag
    # sides) — one lazy checkpoint, or the event scan runs three times
    daily = daily_counts(e).localCheckpoint(eager=False)
    # calendar lags via self-joins on day-k, not lag() row windows: a
    # missing day must break the lag chain, and lag(7) over ROWS would
    # silently reach 8+ calendar days back across gaps
    lagged = daily.alias("t").join(
        daily.select(
            "event_type",
            (F.col("day") + 1).alias("day"),
            F.col("n").alias("n_lag1"),
        ).alias("l1"),
        ["event_type", "day"],
        "left",
    ).join(
        daily.select(
            "event_type",
            (F.col("day") + 7).alias("day"),
            F.col("n").alias("n_lag7"),
        ).alias("l7"),
        ["event_type", "day"],
        "left",
    )
    agg = lagged.groupBy("event_type").agg(
        F.count(F.when(F.col("n_lag7").isNotNull(), 1)).cast("long").alias(
            "n_eval7"
        ),
        F.sum(
            F.when(
                F.col("n_lag7").isNotNull(),
                F.abs(F.col("n") - F.col("n_lag7")),
            )
        ).cast("long").alias("ae7"),
        F.sum(
            F.when(
                F.col("n_lag7").isNotNull() & F.col("n_lag1").isNotNull(),
                F.abs(F.col("n") - F.col("n_lag7")),
            )
        ).cast("long").alias("ae7_both"),
        F.sum(
            F.when(
                F.col("n_lag7").isNotNull() & F.col("n_lag1").isNotNull(),
                F.abs(F.col("n") - F.col("n_lag1")),
            )
        ).cast("long").alias("ae1_both"),
    )
    return agg.select(
        "event_type",
        "n_eval7",
        F.round(
            F.expr(
                "CAST(ae7 AS DOUBLE) / nullif(CAST(n_eval7 AS DOUBLE), 0.0)"
            ),
            6,
        ).alias("mae_seasonal"),
        F.round(
            F.expr(
                "CAST(ae7_both AS DOUBLE) / nullif(CAST(ae1_both AS DOUBLE),"
                " 0.0)"
            ),
            6,
        ).alias("mase"),
    )


_FORECAST_ORACLE = f"""
WITH daily AS (
  {DAILY_COUNTS_SQL}
), lagged AS (
  SELECT t.event_type, t.day, t.n, l1.n AS n_lag1, l7.n AS n_lag7
  FROM daily t
  LEFT JOIN daily l1 ON l1.event_type = t.event_type
                    AND l1.day = t.day - 1
  LEFT JOIN daily l7 ON l7.event_type = t.event_type
                    AND l7.day = t.day - 7
), agg AS (
  SELECT event_type,
         CAST(count(CASE WHEN n_lag7 IS NOT NULL THEN 1 END) AS BIGINT)
           AS n_eval7,
         CAST(sum(CASE WHEN n_lag7 IS NOT NULL
                       THEN abs(n - n_lag7) END) AS BIGINT) AS ae7,
         CAST(sum(CASE WHEN n_lag7 IS NOT NULL AND n_lag1 IS NOT NULL
                       THEN abs(n - n_lag7) END) AS BIGINT) AS ae7_both,
         CAST(sum(CASE WHEN n_lag7 IS NOT NULL AND n_lag1 IS NOT NULL
                       THEN abs(n - n_lag1) END) AS BIGINT) AS ae1_both
  FROM lagged GROUP BY event_type
)
SELECT event_type, n_eval7,
       round(CAST(ae7 AS DOUBLE) / nullif(CAST(n_eval7 AS DOUBLE), 0.0), 6)
         AS mae_seasonal,
       round(CAST(ae7_both AS DOUBLE) / nullif(CAST(ae1_both AS DOUBLE), 0.0),
             6) AS mase
FROM agg
"""


# ------------- DAU/WAU stickiness -------------


def q_events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly engagement stickiness per event type: average daily
    distinct users over weekly distinct users (the DAU/MAU shape at
    week granularity — the events table spans ~30 days).

    Two exact distinct aggregations over one scan — the daily and
    weekly distinct sets are different cardinalities, so neither can
    be derived from the other without storing user sets; both
    aggregations partition by (event_type, week[, day]), so the join
    that zips them is between two already-reduced frames."""
    e = read_testdata_table(spark, sf_dir, "events")
    # keyed feeds two aggregations and is deliberately NOT
    # checkpointed: it is raw-event-sized, so materializing it costs
    # more than the second column-pruned scan (the CUPED rationale);
    # both branches prune to the same three columns at the source
    keyed = e.select(
        "event_type",
        day_bucket("ts").alias("day"),
        "user_id",
    ).withColumn("week", F.expr("day div 7"))
    daily = (
        keyed.groupBy("event_type", "week", "day")
        .agg(F.count_distinct("user_id").alias("dau"))
        .groupBy("event_type", "week")
        .agg(
            F.count(F.lit(1)).alias("days_active"),
            F.sum("dau").alias("dau_total"),
        )
    )
    weekly = keyed.groupBy("event_type", "week").agg(
        F.count_distinct("user_id").alias("wau")
    )
    avg_dau = F.col("dau_total").cast("double") / F.col(
        "days_active"
    ).cast("double")
    return (
        daily.join(weekly, ["event_type", "week"])
        .select(
            "event_type",
            "week",
            "days_active",
            F.round(avg_dau, 6).alias("avg_dau"),
            "wau",
            F.round(avg_dau / F.col("wau").cast("double"), 6).alias(
                "stickiness"
            ),
        )
        .orderBy("event_type", "week")
    )


_STICKINESS_ORACLE = f"""
WITH keyed AS (
  SELECT event_type,
         {day_bucket_sql('ts')} AS day,
         ({day_bucket_sql('ts')}) // 7 AS week,
         user_id
  FROM events
), daily AS (
  SELECT event_type, week, day, count(DISTINCT user_id) AS dau
  FROM keyed GROUP BY 1, 2, 3
), per_week AS (
  SELECT event_type, week,
         CAST(count(*) AS BIGINT) AS days_active,
         CAST(sum(dau) AS BIGINT) AS dau_total
  FROM daily GROUP BY 1, 2
), weekly AS (
  SELECT event_type, week, count(DISTINCT user_id) AS wau
  FROM keyed GROUP BY 1, 2
)
SELECT p.event_type, p.week, p.days_active,
       round(CAST(p.dau_total AS DOUBLE) / CAST(p.days_active AS DOUBLE), 6)
         AS avg_dau,
       w.wau,
       round(CAST(p.dau_total AS DOUBLE) / CAST(p.days_active AS DOUBLE)
             / CAST(w.wau AS DOUBLE), 6) AS stickiness
FROM per_week p
JOIN weekly w USING (event_type, week)
ORDER BY event_type, week
"""


# ------------- calendar linear interpolation -------------


def q_events_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily spend series with missing calendar days filled
    by linear interpolation between the nearest observed days (no
    extrapolation — each user's span runs first-activity to
    last-activity, so both endpoints are anchors).

    Scale shape: the calendar explode is bounded by users × span-days
    (the DATE RANGE, not the event count); every window partitions by
    user_id, so state is one user's series — no global ordering
    anywhere. Daily sums quantize to DECIMAL(18,6) for
    order-independent accumulation before the float interpolation."""
    e = read_testdata_table(spark, sf_dir, "events")
    # the daily aggregate feeds two plan references (span + calendar
    # join) — one lazy checkpoint or the raw event scan runs twice
    daily = (
        daily_spend(e)
        .select("user_id", "day", F.col("v").cast("double").alias("v"))
        .localCheckpoint(eager=False)
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    cal = span.select(
        "user_id", F.explode(F.sequence("lo", "hi")).alias("day")
    )
    j = cal.join(daily, ["user_id", "day"], "left")
    back = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    fwd = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(0, W.unboundedFollowing)
    )
    anchor_day = F.when(F.col("v").isNotNull(), F.col("day"))
    w = (
        j.withColumn("pv", F.last("v", ignorenulls=True).over(back))
        .withColumn("pd", F.last(anchor_day, ignorenulls=True).over(back))
        .withColumn("nv", F.first("v", ignorenulls=True).over(fwd))
        .withColumn("nd", F.first(anchor_day, ignorenulls=True).over(fwd))
    )
    frac = (F.col("day") - F.col("pd")).cast("double") / (
        F.col("nd") - F.col("pd")
    ).cast("double")
    filled = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        F.col("pv") + (F.col("nv") - F.col("pv")) * frac
    )
    return w.select(
        "user_id",
        "day",
        F.round(filled, 6).alias("value_filled"),
        F.col("v").isNull().cast("long").alias("interpolated"),
    )


_INTERP_ORACLE = f"""
WITH spend AS (
  {DAILY_SPEND_SQL}
), daily AS (
  SELECT user_id, day, CAST(v AS DOUBLE) AS v FROM spend
), span AS (
  SELECT user_id, min(day) AS lo, max(day) AS hi FROM daily GROUP BY 1
), cal AS (
  SELECT user_id, unnest(generate_series(lo, hi)) AS day FROM span
), j AS (
  SELECT c.user_id, c.day, d.v
  FROM cal c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
), w AS (
  SELECT user_id, day, v,
    last_value(v IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY day
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY day
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
    first_value(v IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY day
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY day
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM j
)
SELECT user_id, day,
       round(CASE WHEN v IS NOT NULL THEN v
                  ELSE pv + (nv - pv)
                       * (CAST(day - pd AS DOUBLE)
                          / CAST(nd - pd AS DOUBLE)) END, 6)
         AS value_filled,
       CAST(v IS NULL AS BIGINT) AS interpolated
FROM w
"""


# ------------- sequential-fold family -------------
#
# Linear recurrences (clamped balances, exponential smoothing) are NOT
# window-expressible — each output depends on the previous OUTPUT, not
# the previous input. The scalable Spark shape for per-key bounded
# series: collect the key's day-ordered series into an array (bounded
# by the DATE RANGE, not event count) and run the recurrence as a
# higher-order-function fold inside codegen — no Python UDF, no
# driver loop. The DuckDB oracle replays the identical fold via
# list_reduce with the seed prepended (DuckDB 1.0 list_reduce takes no
# initial accumulator), so both engines execute the same IEEE op
# sequence in the same order.

_BURN = 100.0  # daily spend threshold: ~the median per-user daily sum


def q_events_clamped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user wallet simulation: daily net delta (spend − burn)
    folded in day order with the balance clamped at zero — the
    inventory/credit recurrence b_t = max(0, b_{t-1} + d_t), with the
    running peak carried in the same fold."""
    e = read_testdata_table(spark, sf_dir, "events")
    daily = daily_spend(e).select(
        "user_id", "day", (F.col("v").cast("double") - F.lit(_BURN)).alias("dv")
    )
    series = daily.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("day", "dv"))).alias("xs")
    )
    folded = series.select(
        "user_id",
        F.size("xs").alias("n_days").cast("long"),
        F.aggregate(
            "xs",
            F.struct(
                F.lit(0.0).alias("bal"), F.lit(0.0).alias("peak")
            ),
            lambda acc, x: F.struct(
                F.greatest(acc.bal + x.dv, F.lit(0.0)).alias("bal"),
                F.greatest(
                    acc.peak, F.greatest(acc.bal + x.dv, F.lit(0.0))
                ).alias("peak"),
            ),
        ).alias("st"),
    )
    return folded.select(
        "user_id",
        "n_days",
        F.round(F.col("st.bal"), 6).alias("final_balance"),
        F.round(F.col("st.peak"), 6).alias("peak_balance"),
    )


_CLAMPED_ORACLE = f"""
WITH spend AS (
  {DAILY_SPEND_SQL}
), daily AS (
  SELECT user_id, day, CAST(v AS DOUBLE) - {_BURN!r} AS dv FROM spend
), series AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_days,
         list_prepend([0.0::DOUBLE, 0.0::DOUBLE],
                      list([dv] ORDER BY day)) AS xs
  FROM daily GROUP BY user_id
), folded AS (
  SELECT user_id, n_days,
         list_reduce(xs, (a, x) ->
           [greatest(a[1] + x[1], 0.0),
            greatest(a[2], greatest(a[1] + x[1], 0.0))]) AS st
  FROM series
)
SELECT user_id, n_days,
       round(st[1], 6) AS final_balance,
       round(st[2], 6) AS peak_balance
FROM folded
"""


def q_events_holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing over each event type's daily
    count series (alpha=0.5, beta=0.3; level seeded at the first
    observation, trend at zero): final level/trend state plus the
    one-step-ahead forecast. Same fold shape as the clamped balance —
    the two-component state rides a struct accumulator."""
    e = read_testdata_table(spark, sf_dir, "events")
    daily = daily_counts(e).select(
        "event_type", "day", F.col("n").cast("double").alias("nd")
    )
    series = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "nd"))).alias("xs")
    )

    def _step(acc, x):
        lnew = F.lit(0.5) * x.nd + F.lit(0.5) * (acc.level + acc.trend)
        return F.struct(
            lnew.alias("level"),
            (F.lit(0.3) * (lnew - acc.level) + F.lit(0.7) * acc.trend).alias(
                "trend"
            ),
        )

    folded = series.select(
        "event_type",
        F.size("xs").cast("long").alias("n_days"),
        F.aggregate(
            F.slice(
                "xs", 2, F.greatest(F.size("xs") - 1, F.lit(0))
            ),
            F.struct(
                F.element_at("xs", 1).nd.alias("level"),
                F.lit(0.0).alias("trend"),
            ),
            _step,
        ).alias("st"),
    )
    return folded.select(
        "event_type",
        "n_days",
        F.round(F.col("st.level"), 6).alias("level"),
        F.round(F.col("st.trend"), 6).alias("trend"),
        F.round(F.col("st.level") + F.col("st.trend"), 6).alias(
            "forecast_next"
        ),
    ).orderBy("event_type")


_HOLT_ORACLE = f"""
WITH counts AS (
  {DAILY_COUNTS_SQL}
), daily AS (
  SELECT event_type, day, CAST(n AS DOUBLE) AS nd FROM counts
), series AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_days,
         list([nd] ORDER BY day) AS xs
  FROM daily GROUP BY event_type
), folded AS (
  SELECT event_type, n_days,
         list_reduce(
           list_prepend([xs[1][1], 0.0::DOUBLE], xs[2:]),
           (a, x) ->
             [0.5 * x[1] + 0.5 * (a[1] + a[2]),
              0.3 * ((0.5 * x[1] + 0.5 * (a[1] + a[2])) - a[1])
                + 0.7 * a[2]]) AS st
  FROM series
)
SELECT event_type, n_days,
       round(st[1], 6) AS level,
       round(st[2], 6) AS trend,
       round(st[1] + st[2], 6) AS forecast_next
FROM folded
ORDER BY event_type
"""


def q_events_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running-peak drawdown over the cumulative daily net
    series — unlike the clamp/Holt recurrences this IS
    window-expressible (prefix sum, prefix max, max gap), so it stays
    in ordered windows partitioned by user: state is one user's
    bounded series. All prefix sums accumulate in DECIMAL (a prefix in
    day order is a fixed sequence, but decimal keeps it exact and
    engine-identical); floats appear only at the rounded output."""
    e = read_testdata_table(spark, sf_dir, "events")
    daily = daily_spend(e).select(
        "user_id", "day", (F.col("v") - F.lit(_BURN).cast("decimal(18,6)")).alias("dv")
    )
    w = W.partitionBy("user_id").orderBy("day").rowsBetween(
        W.unboundedPreceding, 0
    )
    cum = (
        daily.withColumn("cum", F.sum("dv").over(w))
        .withColumn("peak", F.max(F.col("cum")).over(w))
        .withColumn("dd", F.col("peak") - F.col("cum"))
    )
    return cum.groupBy("user_id").agg(
        F.round(F.max_by("cum", "day").cast("double"), 6).alias(
            "final_balance"
        ),
        F.round(F.max("peak").cast("double"), 6).alias("peak_balance"),
        F.round(F.max("dd").cast("double"), 6).alias("max_drawdown"),
    )


_DRAWDOWN_ORACLE = f"""
WITH spend AS (
  {DAILY_SPEND_SQL}
), daily AS (
  SELECT user_id, day, v - CAST({_BURN!r} AS DECIMAL(18,6)) AS dv FROM spend
), c AS (
  SELECT user_id, day,
         SUM(dv) OVER (PARTITION BY user_id ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM daily
), p AS (
  SELECT user_id, day, cum,
         MAX(cum) OVER (PARTITION BY user_id ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS peak
  FROM c
)
SELECT user_id,
       round(CAST(max_by(cum, day) AS DOUBLE), 6) AS final_balance,
       round(CAST(max(peak) AS DOUBLE), 6) AS peak_balance,
       round(CAST(max(peak - cum) AS DOUBLE), 6) AS max_drawdown
FROM p GROUP BY user_id
"""


QUERIES: list[QuerySpec] = [
    QuerySpec(
        "events_cumulative_users", q_cumulative_users,
        _CUMULATIVE_USERS_ORACLE,
        "cumulative unique users per day (first-seen identity — no"
        " per-day history rescan)",
    ),
    QuerySpec(
        "events_capped_sessions", q_capped_sessions,
        _CAPPED_SESSIONS_ORACLE,
        "sessionization with gap split AND max-duration cap (grid"
        " sub-split, deterministic)",
    ),
    QuerySpec(
        "events_journey_paths", q_journey_paths, _JOURNEY_ORACLE,
        "counted 8-event user-journey prefixes (ordered collect,"
        " total order via (ts, event_id))",
    ),
    QuerySpec(
        "events_twap", q_events_twap, _TWAP_ORACLE,
        "time-weighted average per user (holding-time weights, exact"
        " decimal accumulation)",
    ),
    QuerySpec(
        "events_streaks", q_streaks, _STREAKS_ORACLE,
        "islands-and-gaps consecutive-day streaks per user (constant-"
        "group window trick, no self-join)",
    ),
    QuerySpec(
        "events_resample_ffill", q_resample_ffill, _RESAMPLE_FFILL_ORACLE,
        "hourly time-grid resample + forward fill over user-band series"
        " (gap repair; grid generated distributed)",
    ),
    QuerySpec(
        "events_funnel", q_funnel, _FUNNEL_ORACLE,
        "ordered view→click→purchase conversion funnel",
    ),
    QuerySpec(
        "events_funnel_ttc",
        q_events_funnel_ttc,
        _TTC_ORACLE,
        "Funnel step time-to-convert: mean + bucketed exact median",
    ),
    QuerySpec(
        "events_funnel_windowed",
        q_events_funnel_windowed,
        _FUNNEL_WINDOWED_ORACLE,
        "Funnel with a 7-day conversion window per step",
    ),
    QuerySpec(
        "events_cohort_ltv",
        q_events_cohort_ltv,
        _LTV_ORACLE,
        "Weekly cohort LTV triangle with decimal cumulative revenue",
    ),
    QuerySpec(
        "events_disorder_audit",
        q_events_disorder_audit,
        _DISORDER_ORACLE,
        "Event-time lateness audit behind the watermark choice",
    ),
    QuerySpec(
        "events_histogram", q_histogram, _HISTOGRAM_ORACLE,
        "fixed-bound width_bucket histogram, single agg pass",
    ),
    QuerySpec(
        "events_retention", q_retention, _RETENTION_ORACLE,
        "first-day cohort retention by day offset",
    ),
    QuerySpec(
        "events_interval_join", q_interval_join, _INTERVAL_JOIN_ORACLE,
        "time-interval join (batch twin of the stream-stream join)",
    ),
    QuerySpec(
        "events_interval_join_stream", q_interval_join_stream, _INTERVAL_JOIN_ORACLE,
        "the same interval join executed as a watermarked STREAM-STREAM "
        "join (availableNow drain, append mode ≡ batch pairs)",
    ),
    QuerySpec(
        "events_multi_rollup", q_multi_rollup, _MULTI_ROLLUP_ORACLE,
        "hypertable-style minute/hour/day continuous-aggregate rollup",
    ),
    QuerySpec(
        "events_tumbling_window", q_tumbling, _TUMBLING_ORACLE,
        "1h tumbling window counts + exact sums",
    ),
    QuerySpec(
        "events_tumbling_stream", q_tumbling_stream, _TUMBLING_ORACLE,
        "the same tumbling agg executed as a watermarked availableNow "
        "Structured Streaming query (memory sink, complete mode)",
    ),
    QuerySpec(
        "events_sliding_window", q_sliding, _SLIDING_ORACLE,
        "1h/30m sliding window counts",
    ),
    QuerySpec(
        "events_upsert_sink_stream", q_upsert_sink_stream,
        _UPSERT_SINK_ORACLE,
        "REAL streaming upsert sink: foreachBatch keyed-state merge"
        " across generations, proven == batch latest-per-key",
    ),
    QuerySpec(
        "events_enrich_stream", q_enrich_stream, _ENRICH_STREAM_ORACLE,
        "REAL stream-static enrichment join (stateless broadcast per"
        " micro-batch) + windowed segment rollup, oracled ≡ batch",
    ),
    QuerySpec(
        "events_sliding_stream", q_sliding_stream, _SLIDING_ORACLE,
        "the same sliding agg executed as a watermarked availableNow "
        "Structured Streaming query (memory sink, complete mode)",
    ),
    QuerySpec(
        "events_session_window", q_session, _SESSION_ORACLE,
        "5-minute-gap session windows per user",
    ),
    QuerySpec(
        "events_session_stream", q_session_stream, _SESSION_ORACLE,
        "the same session-window agg (merging-window state) executed as "
        "a watermarked availableNow Structured Streaming query",
    ),
    QuerySpec(
        "events_json_extract", q_json_extract, _JSON_ORACLE,
        "scalar JSON extraction from props",
    ),
    QuerySpec(
        "events_dedup_stream", q_dedup_stream, _DEDUP_STREAM_ORACLE,
        "watermarked streaming exact-dedup over an at-least-once doubled "
        "landing — emits each event exactly once (≡ batch projection)",
    ),
    QuerySpec(
        "events_user_totals_stream", q_user_totals_stream,
        _USER_TOTALS_STREAM_ORACLE,
        "custom applyInPandasWithState running totals across 4 micro-"
        "batches ≡ batch groupBy (integer-cents exact state)",
    ),
    QuerySpec(
        "events_markov_transitions", q_event_transitions, _TRANSITIONS_ORACLE,
        "first-order Markov transition matrix over per-user event"
        " streams (lead pairs -> exact-count probabilities)",
    ),
    QuerySpec(
        "events_hll_sliding_distinct", q_hll_sliding_distinct,
        _hll_sliding_oracle(),
        "trailing 3h distinct users per (type, hour) via sliding HLL"
        " register scatter + max-merge — W×register shuffle per bucket,"
        " never a W-hour raw re-scan; exact reference rides along",
    ),
    QuerySpec(
        "events_cms_stream", q_cms_stream, _CMS_STREAM_ORACLE,
        "Count-Min sketch maintained INCREMENTALLY by the streaming"
        " runtime (complete-mode sum state = the d×w cell table);"
        " exact top-k + probe estimates assembled in batch over the"
        " drain — completes the streamed sketch trio (min/max/sum)",
    ),
    QuerySpec(
        "events_quantile_sketch_stream", q_hdr_stream, _HDR_STREAM_ORACLE,
        "HDR quantile sketch maintained INCREMENTALLY by the streaming"
        " runtime (complete-mode count state = the group × bucket"
        " table); p50/p90/p99 + merge row assembled in batch over the"
        " drain — the RANK member of the streamed sketch family",
    ),
    QuerySpec(
        "events_hll_stream", q_hll_stream, _HLL_STREAM_ORACLE,
        "HLL register sketch maintained INCREMENTALLY by the streaming"
        " runtime (complete-mode max state = the sketch itself);"
        " estimates + merge + exact reference in batch over the drain",
    ),
    QuerySpec(
        "events_kmv_stream", q_kmv_stream, _KMV_STREAM_ORACLE,
        "KMV distinct sketch maintained INCREMENTALLY by the streaming"
        " runtime (constant state = the sketch itself); estimates + "
        "merge row computed over the drained sketch ≡ batch replay",
    ),
    QuerySpec(
        "events_rolling_active_users", q_rolling_active_users,
        _ROLLING_ACTIVE_ORACLE,
        "trailing 7-day distinct active users per day (dedupe-then-"
        "explode, no raw self-join)",
    ),
    QuerySpec(
        "events_attribution", q_attribution, _ATTRIBUTION_ORACLE,
        "first/last-touch purchase attribution over the bounded click"
        " lookback (struct-min/max, no window)",
    ),
    QuerySpec(
        "events_spacesaving_stream", q_spacesaving_stream, _SS_STREAM_ORACLE,
        "SpaceSaving/Misra-Gries m-counter summary maintained by the"
        " streaming runtime across 4 micro-batches — deletion-free"
        " mergeable top-k; MG theorem verdicts + exact counts oracled"
        " (counter contents are batch-order-dependent by nature)",
    ),
    QuerySpec(
        "events_lag_features",
        q_events_lag_features,
        _LAG_ORACLE,
        "Calendar lag-1 and trailing-7-day RANGE-window features",
    ),
    QuerySpec(
        "events_gap_stats",
        q_events_gap_stats,
        _GAP_ORACLE,
        "Exact inter-arrival gap statistics per event type",
    ),
    QuerySpec(
        "events_rfm_segments",
        q_events_rfm_segments,
        _RFM_ORACLE,
        "RFM quartile segmentation with engine-identical ntile cuts",
    ),
    QuerySpec(
        "events_cusum_changepoint",
        q_events_cusum_changepoint,
        _CUSUM_ORACLE,
        "Integer-exact CUSUM change-point per event type",
    ),
    QuerySpec(
        "events_diversity_index",
        q_events_diversity_index,
        _DIVERSITY_ORACLE,
        "Gini-Simpson diversity and effective users per type",
    ),
    QuerySpec(
        "events_seasonality_profile",
        q_events_seasonality_profile,
        _SEASONALITY_ORACLE,
        "Integer dow x hour peak/trough calendar profile",
    ),
    QuerySpec(
        "events_forecast_eval",
        q_events_forecast_eval,
        _FORECAST_ORACLE,
        "Seasonal-naive vs random-walk MAE/MASE scoreboard",
    ),
    QuerySpec(
        "events_stickiness",
        q_events_stickiness,
        _STICKINESS_ORACLE,
        "Weekly DAU/WAU stickiness per event type",
    ),
    QuerySpec(
        "events_linear_interpolation",
        q_events_linear_interpolation,
        _INTERP_ORACLE,
        "Per-user calendar gap-fill with linear interpolation",
    ),
    QuerySpec(
        "events_clamped_balance",
        q_events_clamped_balance,
        _CLAMPED_ORACLE,
        "Zero-clamped wallet recurrence via codegen array fold",
    ),
    QuerySpec(
        "events_holt_smoothing",
        q_events_holt_smoothing,
        _HOLT_ORACLE,
        "Holt double-exponential smoothing as a struct-state fold",
    ),
    QuerySpec(
        "events_max_drawdown",
        q_events_max_drawdown,
        _DRAWDOWN_ORACLE,
        "Running-peak drawdown from decimal-exact prefix windows",
    ),
]
