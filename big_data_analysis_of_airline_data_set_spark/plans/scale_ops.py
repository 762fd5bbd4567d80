"""Scale-ops query catalog: PII redaction, batch sessionization,
bounded-frame EWMA features, and token heavy hitters — the remaining
standard stages of a large-scale feature/curation pipeline (no
reference analogue; beyond-reference ops per the brief).

All four are deterministic and fully oracled. PII counts/redaction use
a regex subset with identical Java-regex/RE2 semantics; sessionization
and EWMA order by (ts, event_id) so every window is total-ordered; the
heavy-hitter top-k tie-breaks on the term so the limit boundary is
deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.timeseries import session_stats, trailing_ewma
from ..sources.readers import read_testdata_table
from ..text.analysis import tokens_col
from ..text.redaction import PII_PATTERNS, redaction_report
from .spec import US_HOUR, US_SEC, QuerySpec

_SESSION_GAP_S = 1800
_EWMA_DECAY = 0.8
_EWMA_K = 16
_HH_K = 50


# --- PII redaction -----------------------------------------------------

# The synthetic corpus has no organic PII, so the query plants one
# deterministic email/IPv4/phone per document (derived from doc_id with
# identical integer arithmetic in both engines) before redacting; the
# original text still participates so organic matches, if any, count too.
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_testdata_table(spark, sf_dir, "documents")
    doc = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        F.lit(" reach u"),
        doc.cast("string"),
        F.lit("@mail.example.com srv "),
        (doc % 223 + 1).cast("string"),
        F.lit(".0."),
        (doc % 251).cast("string"),
        F.lit(".7 tel 555-"),
        F.lpad((doc % 10000).cast("string"), 4, "0"),
    )
    return redaction_report(
        d.select("doc_id", planted.alias("text")), id_col="doc_id",
        text_col="text",
    )


def _pii_oracle() -> str:
    # Built from the same PII_PATTERNS list the Spark path uses, so the
    # two sides cannot drift.
    count_cols = ",\n         ".join(
        f"CAST(len(regexp_extract_all(s, '{pat}')) AS BIGINT) AS n_{kind}"
        for kind, pat, _ in PII_PATTERNS
    )
    red = "s"
    for _, pat, tag in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{tag}', 'g')"
    total = " + ".join(f"n_{kind}" for kind, _, _ in PII_PATTERNS)
    return f"""
WITH t AS (
  SELECT doc_id,
         text || ' reach u' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com srv '
              || CAST(doc_id % 223 + 1 AS VARCHAR) || '.0.'
              || CAST(doc_id % 251 AS VARCHAR) || '.7 tel 555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS s
  FROM documents
), r AS (
  SELECT doc_id,
         {count_cols},
         {red} AS red
  FROM t
)
SELECT doc_id, n_email, n_ipv4, n_phone,
       CAST({total} AS BIGINT) AS n_pii_total,
       CAST(length(red) AS BIGINT) AS redacted_len,
       md5(red) AS redacted_md5
FROM r
"""


# --- batch sessionization ---------------------------------------------

def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_testdata_table(spark, sf_dir, "events")
    s = session_stats(
        e,
        key_col="user_id",
        ts_col="ts",
        order_tiebreak_col="event_id",
        gap_seconds=_SESSION_GAP_S,
        value_col="value",
    )
    return s.select(
        "user_id",
        "session_ordinal",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias(
            "session_end"
        ),
        "duration_us",
        "n_events",
        "sum_value",
    )


_SESSIONS_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t, value FROM events
), lagd AS (
  SELECT user_id, event_id, t, value,
         lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS pt
  FROM e
), flag AS (
  SELECT user_id, event_id, t, value,
         CASE WHEN pt IS NULL
                   OR epoch_us(t) - epoch_us(pt) > {_SESSION_GAP_S}::BIGINT * {US_SEC}
              THEN 1 ELSE 0 END AS ns
  FROM lagd
), sess AS (
  SELECT user_id, t, value,
         CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY t, event_id)
              AS BIGINT) AS session_ordinal
  FROM flag
)
SELECT user_id, session_ordinal,
       strftime(min(t), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(t), '%Y-%m-%d %H:%M:%S') AS session_end,
       CAST(epoch_us(max(t)) - epoch_us(min(t)) AS BIGINT) AS duration_us,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM sess GROUP BY user_id, session_ordinal
"""


# --- sweep-line peak concurrency --------------------------------------

def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per hour (operators/timeseries.py:
    peak_concurrency_by_bucket) over the gap-sessionized events — the
    capacity question raw event counts can't answer. Sessions come
    from the SAME sessionizer the events_user_sessions entry checks;
    the sweep is bucketed (per-hour partitioned windows chained by a
    bucket-level running sum over one row per observed hour), so the
    only unpartitioned window is time-domain sized. Inclusive-interval
    semantics pinned: at equal timestamps arrivals (+1) sort before
    departures. All-integer arithmetic — the oracle replays
    sessionization AND the sweep exactly."""
    from ..operators.timeseries import peak_concurrency_by_bucket

    e = read_testdata_table(spark, sf_dir, "events")
    s = session_stats(
        e,
        key_col="user_id",
        ts_col="ts",
        order_tiebreak_col="event_id",
        gap_seconds=_SESSION_GAP_S,
        value_col="value",
    )
    return peak_concurrency_by_bucket(
        s.select("user_id", "session_ordinal", "session_start", "session_end"),
        start_col="session_start",
        end_col="session_end",
        tiebreak_cols=["user_id", "session_ordinal"],
    )


_PEAK_CONCURRENCY_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t FROM events
), lagd AS (
  SELECT user_id, event_id, t,
         lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS pt
  FROM e
), flag AS (
  SELECT user_id, t,
         CASE WHEN pt IS NULL
                   OR epoch_us(t) - epoch_us(pt) > {_SESSION_GAP_S}::BIGINT * {US_SEC}
              THEN 1 ELSE 0 END AS ns,
         event_id
  FROM lagd
), sess AS (
  SELECT user_id, t,
         CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY t, event_id)
              AS BIGINT) AS session_ordinal
  FROM flag
), iv AS (
  SELECT user_id, session_ordinal,
         epoch_us(min(t)) AS s_us, epoch_us(max(t)) AS e_us
  FROM sess GROUP BY 1, 2
), d AS (
  SELECT s_us AS ts, 1 AS delta, user_id, session_ordinal FROM iv
  UNION ALL
  SELECT e_us, -1, user_id, session_ordinal FROM iv
), db AS (
  SELECT ts // {US_HOUR} AS bucket, ts, delta, user_id, session_ordinal
  FROM d
), pref AS (
  SELECT bucket, delta,
         sum(delta) OVER (
           PARTITION BY bucket
           ORDER BY ts, delta DESC, user_id, session_ordinal
           ROWS UNBOUNDED PRECEDING) AS p
  FROM db
), pb AS (
  SELECT bucket, CAST(sum(delta) AS BIGINT) AS net_change,
         max(p) AS mp,
         CAST(count(*) FILTER (WHERE delta > 0) AS BIGINT) AS n_starts
  FROM pref GROUP BY bucket
), ch AS (
  SELECT bucket, net_change, n_starts, mp,
         CAST(coalesce(sum(net_change) OVER (
           ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS carry_in
  FROM pb
)
SELECT bucket, carry_in, net_change, n_starts,
       CAST(carry_in + greatest(mp, 0) AS BIGINT) AS peak_concurrent
FROM ch
"""


# --- bounded-frame EWMA ------------------------------------------------

def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_testdata_table(spark, sf_dir, "events")
    out = trailing_ewma(
        e,
        key_col="user_id",
        ts_col="ts",
        order_tiebreak_col="event_id",
        value_col="value",
        decay=_EWMA_DECAY,
        k=_EWMA_K,
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.col("_n_in_frame").alias("n_in_frame"),
        "ewma",
    )


_EWMA_ORACLE = f"""
WITH e AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t,
         CAST(value AS DOUBLE) AS v
  FROM events
), fr AS (
  SELECT event_id, user_id, t,
         list(v) OVER (PARTITION BY user_id ORDER BY t, event_id
                       ROWS BETWEEN {_EWMA_K - 1} PRECEDING AND CURRENT ROW)
             AS vals
  FROM e
)
SELECT event_id, user_id, strftime(t, '%Y-%m-%d %H:%M:%S') AS ts,
       CAST(len(vals) AS BIGINT) AS n_in_frame,
       round(
         list_sum(list_transform(generate_series(1, len(vals)),
             i -> vals[i] * pow({_EWMA_DECAY}, len(vals) - i)))
         / list_sum(list_transform(generate_series(1, len(vals)),
             i -> pow({_EWMA_DECAY}, len(vals) - i))), 6) AS ewma
FROM fr
"""


# --- trailing-frame z-score anomaly flag ------------------------------

_Z_K = 32          # trailing window (PRIOR events only)
_Z_MIN_N = 8       # need this many priors before scoring
_Z_THRESHOLD = 3.0


def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag events whose value deviates > threshold sigmas from the
    user's trailing window. The frame excludes the current row (an
    anomaly must not dilute its own baseline) and rows with under
    _Z_MIN_N priors are unscored (NULL z). Single shuffle on user_id."""
    from pyspark.sql import Window

    e = read_testdata_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-_Z_K, -1)
    )
    v = F.col("value").cast("double")
    mean = F.avg(v).over(w)
    std = F.stddev_pop(v).over(w)
    n_prior = F.count(v).over(w)
    z = F.when(
        (n_prior >= _Z_MIN_N) & (std > 0), F.round((v - mean) / std, 6)
    )
    return e.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        n_prior.cast("long").alias("n_prior"),
        z.alias("zscore"),
        (F.abs(z) > _Z_THRESHOLD).alias("is_anomaly"),
    )


_ANOMALY_ORACLE = f"""
WITH e AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t,
         CAST(value AS DOUBLE) AS v
  FROM events
), s AS (
  SELECT event_id, user_id, t, v,
         avg(v) OVER fr AS m,
         stddev_pop(v) OVER fr AS sd,
         CAST(count(v) OVER fr AS BIGINT) AS n_prior
  FROM e
  WINDOW fr AS (PARTITION BY user_id ORDER BY t, event_id
                ROWS BETWEEN {_Z_K} PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, strftime(t, '%Y-%m-%d %H:%M:%S') AS ts,
       n_prior,
       CASE WHEN n_prior >= {_Z_MIN_N} AND sd > 0
            THEN round((v - m) / sd, 6) END AS zscore,
       CASE WHEN n_prior >= {_Z_MIN_N} AND sd > 0
            THEN abs(round((v - m) / sd, 6)) > {_Z_THRESHOLD} END AS is_anomaly
FROM s
"""


# --- hot-key skew diagnosis -------------------------------------------

_SKEW_TOP = 20


def q_skew_diagnosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key health report: the top-N hottest keys with their
    share of rows and ratio to the mean key load — the numbers that
    decide whether a join/agg on this key needs salting or AQE skew
    handling. One partial/final agg plus a 1-row broadcast of totals."""
    e = read_testdata_table(spark, sf_dir, "events")
    per_key = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_rows"))
    totals = per_key.agg(
        F.sum("n_rows").alias("_total"),
        F.count(F.lit(1)).alias("_n_keys"),
    )
    return (
        per_key.crossJoin(F.broadcast(totals))
        .select(
            "user_id",
            "n_rows",
            F.round(F.col("n_rows") / F.col("_total"), 6).alias("row_share"),
            F.round(
                F.col("n_rows").cast("double") * F.col("_n_keys")
                / F.col("_total"),
                6,
            ).alias("skew_ratio"),
        )
        .orderBy(F.desc("n_rows"), F.asc("user_id"))
        .limit(_SKEW_TOP)
    )


_SKEW_ORACLE = f"""
WITH per AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows FROM events
  GROUP BY user_id
), tot AS (
  SELECT CAST(sum(n_rows) AS BIGINT) AS total, count(*) AS n_keys FROM per
)
SELECT user_id, n_rows,
       round(CAST(n_rows AS DOUBLE) / total, 6) AS row_share,
       round(CAST(n_rows AS DOUBLE) * n_keys / total, 6) AS skew_ratio
FROM per CROSS JOIN tot
ORDER BY n_rows DESC, user_id ASC
LIMIT {_SKEW_TOP}
"""


# --- one-scan table profile -------------------------------------------

_PROFILE_NUMERIC = ("o_orderkey", "o_custkey", "o_totalprice")
_PROFILE_OTHER = ("o_orderstatus", "o_orderpriority", "o_orderdate")


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profiling import profile_table

    o = read_testdata_table(spark, sf_dir, "orders")
    return profile_table(
        o, numeric_cols=_PROFILE_NUMERIC, other_cols=_PROFILE_OTHER
    )


def _profile_oracle() -> str:
    parts = []
    for c in _PROFILE_NUMERIC + _PROFILE_OTHER:
        is_num = c in _PROFILE_NUMERIC
        mn = f"CAST(min({c}) AS DOUBLE)" if is_num else "CAST(NULL AS DOUBLE)"
        mx = f"CAST(max({c}) AS DOUBLE)" if is_num else "CAST(NULL AS DOUBLE)"
        parts.append(
            f"""SELECT '{c}' AS col_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       {mn} AS min_num,
       {mx} AS max_num
FROM orders"""
        )
    return "\nUNION ALL\n".join(parts)


# --- token heavy hitters ----------------------------------------------

def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus-wide top-K terms. explode -> partial/final hash agg
    -> TakeOrderedAndProject (per-partition heaps): the exact baseline
    the Count-Min sketch (sketches/countmin.py) approximates."""
    d = read_testdata_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("term"))
    return (
        tok.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("term"))
        .limit(_HH_K)
    )


_HH_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(text), '\s+')) AS term
  FROM documents
)
SELECT term,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM tok GROUP BY term
ORDER BY n_occurrences DESC, term ASC
LIMIT {_HH_K}
"""


QUERIES: list[QuerySpec] = [
    QuerySpec(
        "text_pii_redaction", q_pii_redaction, _pii_oracle(),
        "PII counts + typed-tag redaction, Java-regex/RE2-portable patterns",
    ),
    QuerySpec(
        "events_peak_concurrency", q_peak_concurrency,
        _PEAK_CONCURRENCY_ORACLE,
        "sweep-line peak concurrent sessions per hour: bucketed prefix"
        " sweep + time-domain-sized bucket chain; inclusive intervals,"
        " all-integer, sessionization + sweep both replayed",
    ),
    QuerySpec(
        "events_user_sessions", q_user_sessions, _SESSIONS_ORACLE,
        "gap-based sessionization with per-key session ordinals",
    ),
    QuerySpec(
        "events_ewma", q_events_ewma, _EWMA_ORACLE,
        "trailing-K EWMA feature per user (bounded window frame)",
    ),
    QuerySpec(
        "text_heavy_hitters", q_heavy_hitters, _HH_ORACLE,
        "exact corpus-wide top-K terms (the CMS exact baseline)",
    ),
    QuerySpec(
        "events_anomaly_zscore", q_events_anomaly, _ANOMALY_ORACLE,
        "trailing-frame z-score outlier flag (prior-rows frame, min-N gate)",
    ),
    QuerySpec(
        "events_skew_diagnosis", q_skew_diagnosis, _SKEW_ORACLE,
        "hot-key report: top-N keys, row share, skew ratio vs mean load",
    ),
    QuerySpec(
        "table_profile", q_table_profile, _profile_oracle(),
        "per-column nulls/distincts/ranges in ONE aggregation pass",
    ),
]
