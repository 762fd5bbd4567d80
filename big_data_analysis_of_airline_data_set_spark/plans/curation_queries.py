"""Corpus-assembly query catalog: domain quota sampling, mixture
rebalancing (uniform and sqrt-temperature targets), sequence packing,
benchmark decontamination, and int8 embedding quantization — the
post-dedup stage of a training-data pipeline (no reference analogue;
beyond-reference ops per the brief).

All are deterministic and fully oracled: sampling orders by md5
(engine-universal), packing is a window cumulative sum,
decontamination replays md5 shingle hashes, and quantization emits
integer checksums under explicit floor(+0.5) rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..curation.contamination import contamination_hits
from ..curation.packing import pack_sequences
from ..curation.sampling import (
    domain_mixture,
    quota_sample,
    weighted_reservoir,
    weighted_sample,
)
from ..curation.splitting import split_summary
from ..dedup.components import connected_components, keeper_by_quality
from ..dedup.minhash import minhash_near_dup_pairs
from ..similarity.quantize import quantize_embeddings
from ..sources.readers import read_testdata_table
from ..text.analysis import token_count, tokens_col
from .spec import QuerySpec

_QUOTA_K = 20
_PACK_BUDGET = 256
_CONTAM_N = 5
_BENCH_MOD = 50  # doc_id % 50 == 0 plays the held-out benchmark set


def q_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_testdata_table(spark, sf_dir, "documents")
    return quota_sample(d, group_col="source", id_col="doc_id", k=_QUOTA_K).select(
        "doc_id", "source", "sample_rank"
    )


_QUOTA_ORACLE = f"""
WITH ranked AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (
             PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
         ) AS BIGINT) AS sample_rank
  FROM documents
)
SELECT doc_id, source, sample_rank FROM ranked WHERE sample_rank <= {_QUOTA_K}
"""


def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_testdata_table(spark, sf_dir, "documents").withColumn(
        "_tok", token_count(F.col("text"))
    )
    return domain_mixture(d, group_col="source", weight_col="_tok")


_MIXTURE_ORACLE = r"""
WITH per AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
             AS n_tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         count(*) AS n_domains
  FROM per
)
SELECT source, n_docs, n_tokens,
       round(CAST(n_tokens AS DOUBLE) / total_tokens, 6) AS token_share,
       round(least(1.0, (1.0 / n_domains)
                        / (CAST(n_tokens AS DOUBLE) / total_tokens)), 6)
           AS sample_weight
FROM per CROSS JOIN tot
"""


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_testdata_table(spark, sf_dir, "documents").withColumn(
        "_tok", token_count(F.col("text"))
    )
    return pack_sequences(
        d, group_col="source", id_col="doc_id", tokens_col="_tok",
        budget=_PACK_BUDGET,
    )


_PACKING_ORACLE = f"""
WITH t AS (
  SELECT source, doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
             AS n_tokens
  FROM documents
), c AS (
  SELECT source, doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - n_tokens AS BIGINT) AS start
  FROM t
)
SELECT source, doc_id, n_tokens,
       start // {_PACK_BUDGET} AS pack_id,
       start % {_PACK_BUDGET} AS pack_offset
FROM c
"""


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_testdata_table(spark, sf_dir, "documents")
    return contamination_hits(
        d,
        id_col="doc_id",
        text_col="text",
        is_benchmark=F.col("doc_id") % _BENCH_MOD == 0,
        n=_CONTAM_N,
    )


# DuckDB replays the exact md5 shingle hit set. list_distinct mirrors
# shingles_from_tokens' array_distinct (per-doc distinct grams), so a
# gram repeated inside one training doc counts once.
_CONTAM_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, doc_id % {_BENCH_MOD} = 0 AS bench,
         regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents
), sh AS (
  SELECT doc_id, bench,
         list_distinct(list_transform(
             generate_series(1, greatest(len(t) - {_CONTAM_N - 1}, 0)),
             i -> md5(list_aggregate(list_slice(t, i, i + {_CONTAM_N - 1}),
                                     'string_agg', ' ')))) AS g
  FROM tok
), bench_sh AS (
  SELECT DISTINCT unnest(g) AS h FROM sh WHERE bench
), hits AS (
  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT doc_id, unnest(g) AS h FROM sh WHERE NOT bench) s
  JOIN bench_sh b USING (h)
  GROUP BY s.doc_id
)
SELECT s.doc_id,
       coalesce(n, 0) AS n_hits,
       coalesce(n, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM sh WHERE NOT bench) s
LEFT JOIN hits USING (doc_id)
"""


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_testdata_table(spark, sf_dir, "embeddings")
    return quantize_embeddings(e, id_col="vec_id", vec_col="embedding")


_QUANTIZE_ORACLE = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x,
         list_max(list_transform(CAST(embedding AS DOUBLE[]), e -> abs(e)))
             AS m
  FROM embeddings
), q AS (
  SELECT vec_id, x, m,
         CASE WHEN m = 0 THEN CAST([] AS BIGINT[])
              ELSE list_transform(x, e ->
                   CAST(floor(e * (127.0 / m) + 0.5) AS BIGINT)) END AS c
  FROM v
)
SELECT vec_id,
       CAST(floor(CASE WHEN m = 0 THEN 0.0 ELSE 127.0 / m END * 1e6 + 0.5)
            AS BIGINT) AS scale_e6,
       CAST(coalesce(list_sum(list_transform(c, e -> abs(e))), 0) AS BIGINT)
           AS q_l1,
       CAST(coalesce(list_sum(list_transform(c, e -> e * e)), 0) AS BIGINT)
           AS q_norm_sq,
       CAST(coalesce(list_sum(list_transform(generate_series(1, len(c)), i ->
            CAST(floor(abs(x[i] - c[i] / (127.0 / m)) * 1e9)
                 AS BIGINT))), 0) AS BIGINT) AS dequant_err_e9,
       CAST(len(x) AS BIGINT) AS n_dims
FROM q
"""


# Shared mixture-weight CTE (must stay textually in sync with
# _MIXTURE_ORACLE — both replicate curation.sampling.domain_mixture).
_WEIGHTS_CTE = r"""
per AS (
  SELECT source,
         CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
             AS n_tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens, count(*) AS n_domains
  FROM per
), w AS (
  SELECT source,
         round(least(1.0, (1.0 / n_domains)
                          / (CAST(n_tokens AS DOUBLE) / total_tokens)), 6)
             AS sample_weight
  FROM per CROSS JOIN tot
)
"""

# 56-bit integer from an md5 hex prefix — the proven cross-engine
# pattern (Spark: conv(substr(md5(x),1,14),16,10)).
_MD5_56 = (
    "list_sum(list_transform(generate_series(1, 14), j -> "
    "CAST(strpos('0123456789abcdef', "
    "substr(md5(CAST(doc_id AS VARCHAR)), j, 1)) - 1 AS BIGINT) "
    "* (CAST(1 AS BIGINT) << (4 * (14 - j)))))"
)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_testdata_table(spark, sf_dir, "documents").withColumn(
        "_tok", token_count(F.col("text"))
    )
    mix = domain_mixture(d, group_col="source", weight_col="_tok").select(
        "source", "sample_weight"
    )
    return weighted_sample(
        d.select("doc_id", "source"), mix,
        group_col="source", id_col="doc_id", weight_col="sample_weight",
    ).select("doc_id", "source")


_WEIGHTED_SAMPLE_ORACLE = f"""
WITH {_WEIGHTS_CTE}
SELECT d.doc_id, d.source
FROM documents d JOIN w USING (source)
WHERE {_MD5_56}
      < CAST(floor(sample_weight * 72057594037927936) AS BIGINT)
"""


_WRS_K = 25
_WRS_SALT = "wrs"
# integral per-doc weight from length: 1..8, never 0 (the sequence(1,0)
# cross-engine trap), identical text in both engines
_WRS_WEIGHT_SPARK = "CAST(least(8, greatest(1, n_chars div 64)) AS BIGINT)"
_WRS_WEIGHT_DUCK = "CAST(least(8, greatest(1, n_chars // 64)) AS BIGINT)"


def q_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-ES weighted reservoir (curation/sampling.py:weighted_reservoir)
    over the documents table: the 25 docs with the largest max-of-w
    salted md5 keys — sequential probability-proportional-to-size
    sampling without replacement on a 1..8 length-derived weight (per
    the operator's contract, NOT exactly weight-proportional per-item
    inclusion). The oracle replays the identical integer keys
    (nibble-summed md5 prefixes over generate_series replicas), so the
    sampled SET, not just its size, is value-checked."""
    d = read_testdata_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr(_WRS_WEIGHT_SPARK).alias("weight")
    )
    return weighted_reservoir(
        d, id_col="doc_id", weight_col="weight", k=_WRS_K, salt=_WRS_SALT
    )


def _md5_56_of(expr: str) -> str:
    """DuckDB replay of Spark's conv(substr(md5(expr),1,14),16,10) —
    the nibble-sum pattern of _MD5_56, parameterized by the hashed
    string expression."""
    return (
        "list_sum(list_transform(generate_series(1, 14), j -> "
        f"CAST(strpos('0123456789abcdef', substr(md5({expr}), j, 1)) - 1"
        " AS BIGINT) * (CAST(1 AS BIGINT) << (4 * (14 - j)))))"
    )


_WRS_REP = (
    "CAST(doc_id AS VARCHAR) || ':' || CAST(r AS VARCHAR) || "
    f"':{_WRS_SALT}'"
)
_WEIGHTED_RESERVOIR_ORACLE = f"""
WITH wt AS (
  SELECT doc_id, source, {_WRS_WEIGHT_DUCK} AS weight FROM documents
), keyed AS (
  SELECT doc_id, source, weight,
         CAST(list_max(list_transform(generate_series(1, weight), r ->
           {_md5_56_of(_WRS_REP)})) AS BIGINT) AS res_key
  FROM wt
)
SELECT doc_id, source, weight, res_key
FROM keyed
ORDER BY res_key DESC, doc_id ASC
LIMIT {_WRS_K}
"""


def q_dedup_canonical_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster near-dups (same md5-replayed MinHash edges as
    dedup_connected_components), then keep the highest-quality copy per
    cluster (token count; ties → min id) instead of the min-id copy —
    the rule a production curation pass actually applies."""
    d = read_testdata_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        d, id_col="doc_id", text_col="text", n=3, threshold=0.5
    )
    cc = connected_components(
        d.select("doc_id"), pairs.select("id_a", "id_b"), id_col="doc_id"
    )
    quality = d.select("doc_id", token_count(F.col("text")).alias("n_tokens"))
    return keeper_by_quality(
        cc.join(quality, "doc_id"), id_col="doc_id", quality_col="n_tokens"
    )


def _canonical_keeper_oracle() -> str:
    from .content import _MINHASH_ORACLE

    return f"""
WITH RECURSIVE
mh_pairs AS (SELECT id_a, id_b FROM ({_MINHASH_ORACLE}) t),
sym AS (
  SELECT id_a AS src, id_b AS dst FROM mh_pairs
  UNION
  SELECT id_b, id_a FROM mh_pairs
),
reach(id, lab) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.dst, r.lab FROM reach r JOIN sym s ON s.src = r.id
),
cc AS (SELECT id AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY id),
q AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
             AS n_tokens
  FROM documents
)
SELECT doc_id, cluster_id, n_tokens,
       row_number() OVER (PARTITION BY cluster_id
                          ORDER BY n_tokens DESC, doc_id ASC) = 1 AS keep
FROM cc JOIN q USING (doc_id)
"""


def q_text_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary stats: corpus-health numbers (vocabulary
    size, type-token ratio) a mixture designer reads before weighting.
    Two term-keyed aggregates, no joins."""
    d = read_testdata_table(spark, sf_dir, "documents")
    tok = d.select(
        "source", "doc_id", F.explode(tokens_col(F.col("text"))).alias("term")
    )
    return tok.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("term").alias("vocab_size"),
        F.round(
            F.countDistinct("term").cast("double") / F.count(F.lit(1)), 6
        ).alias("type_token_ratio"),
    )


_VOCAB_ORACLE = r"""
WITH tok AS (
  SELECT source, doc_id,
         unnest(regexp_split_to_array(trim(text), '\s+')) AS term
  FROM documents
)
SELECT source,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT term) AS BIGINT) AS vocab_size,
       round(CAST(count(DISTINCT term) AS DOUBLE) / count(*), 6)
           AS type_token_ratio
FROM tok GROUP BY source
"""


def q_data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation suite over lineitem — TPC-H invariants as rules plus
    one deliberately-tight drift tripwire (quantity ≤ 25, ~50% violation
    by construction) so the report shows a failing gate's shape. All
    rules fold into ONE scan (operators/expectations.py)."""
    from ..operators.expectations import evaluate_expectations

    li = read_testdata_table(spark, sf_dir, "lineitem")
    rules = {
        "orderkey_not_null": F.col("l_orderkey").isNotNull(),
        "quantity_in_1_50": F.col("l_quantity").between(1, 50),
        "extendedprice_positive": F.col("l_extendedprice") > 0,
        "discount_in_0_10pct": F.col("l_discount").between(0.0, 0.10),
        "shipdate_in_range": F.col("l_shipdate").between(
            F.lit("1992-01-01").cast("timestamp"),
            F.lit("1999-01-01").cast("timestamp"),
        ),
        "returnflag_domain": F.col("l_returnflag").isin("A", "N", "R"),
        "tripwire_quantity_le_25": F.col("l_quantity") <= 25,
    }
    return evaluate_expectations(li, rules)


_DQ_RULES_SQL = [
    ("orderkey_not_null", "l_orderkey IS NOT NULL"),
    ("quantity_in_1_50", "l_quantity BETWEEN 1 AND 50"),
    ("extendedprice_positive", "l_extendedprice > 0"),
    ("discount_in_0_10pct", "l_discount BETWEEN 0.0 AND 0.10"),
    (
        "shipdate_in_range",
        "l_shipdate BETWEEN TIMESTAMP '1992-01-01' AND TIMESTAMP '1999-01-01'",
    ),
    ("returnflag_domain", "l_returnflag IN ('A', 'N', 'R')"),
    ("tripwire_quantity_le_25", "l_quantity <= 25"),
]

_DQ_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{name}' AS rule,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN coalesce({pred}, FALSE) THEN 0 ELSE 1 END) AS BIGINT)
           AS n_violations,
       round(CAST(sum(CASE WHEN coalesce({pred}, FALSE) THEN 0 ELSE 1 END)
                  AS DOUBLE) / count(*), 6) AS violation_rate,
       CAST(sum(CASE WHEN coalesce({pred}, FALSE) THEN 0 ELSE 1 END)
            AS DOUBLE) / count(*) <= 0.0 AS passed
FROM lineitem"""
    for name, pred in _DQ_RULES_SQL
)


def q_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified 80/10/10 split audit (curation/splitting.py): per
    (source, split) row counts under deterministic md5-ranked
    assignment — the complement of the reference's temporal split
    (Scripts/3_...py:52-53, kept in ml.train_job.temporal_split)."""
    d = read_testdata_table(spark, sf_dir, "documents")
    return split_summary(d, group_col="source", id_col="doc_id")


# Thresholds written as n*8/10 and n*9/10: integer numerators keep the
# correctly-rounded double division identical across engines (a literal
# 0.8+0.1 sum would drift to 0.9000000000000001 on the Python side).
_STRATIFIED_ORACLE = """
WITH ranked AS (
  SELECT source, doc_id,
         row_number() OVER (
             PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
         ) AS rk,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT source,
       CASE WHEN rk <= floor(n * 8 / 10) THEN 'train'
            WHEN rk <= floor(n * 9 / 10) THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_rows
FROM ranked
GROUP BY 1, 2
"""


_DSIR_TARGETS = ("src0", "src1")
# explicit IN-list (not the tuple repr: a 1-element Python tuple
# renders as "('src0',)" — invalid SQL)
_DSIR_TARGETS_SQL = "(" + ", ".join(f"'{d}'" for d in _DSIR_TARGETS) + ")"
_DSIR_BUCKETS = 256
_DSIR_K = 100


def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance resampling (curation/dsir.py): hashed-
    unigram target/proposal models over the ``src0``/``src1`` target
    slice, integer-exact smoothed probability ratios, top-100 most
    target-like documents."""
    from ..curation.dsir import dsir_resample

    d = read_testdata_table(spark, sf_dir, "documents")
    return dsir_resample(
        d,
        id_col="doc_id",
        text_col="text",
        domain_col="source",
        target_domains=_DSIR_TARGETS,
        k=_DSIR_K,
        n_buckets=_DSIR_BUCKETS,
    )


# md5('d_' || token) 14-hex prefix → bigint, mod B — same strpos replay
# as _MD5_56 but keyed by token.
_DSIR_MD5 = (
    "list_sum(list_transform(generate_series(1, 14), j -> "
    "CAST(strpos('0123456789abcdef', "
    "substr(md5('d_' || tok), j, 1)) - 1 AS BIGINT) "
    "* (CAST(1 AS BIGINT) << (4 * (14 - j)))))"
)

_DSIR_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source,
         unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
), bt AS (
  SELECT doc_id, source, ({_DSIR_MD5}) % {_DSIR_BUCKETS} AS bucket FROM toks
), bc AS (
  SELECT bucket,
         CAST(count(*) AS BIGINT) AS cp,
         CAST(sum(CASE WHEN source IN {_DSIR_TARGETS_SQL} THEN 1 ELSE 0 END)
              AS BIGINT) AS ct
  FROM bt GROUP BY bucket
), tot AS (
  SELECT CAST(sum(cp) AS BIGINT) AS np, CAST(sum(ct) AS BIGINT) AS nt
  FROM bc
), br AS (
  -- HUGEINT promotion BEFORE the multiply: the BIGINT product
  -- (ct+1)*(np+B)*1e6 overflows 2^63 once the corpus passes ~7e7
  -- tokens, while the Spark side (arbitrary-precision Python ints)
  -- keeps working — the oracle must not be the side that breaks first
  SELECT bucket,
         (CAST(ct + 1 AS HUGEINT) * (np + {_DSIR_BUCKETS}) * 1000000)
           // (CAST(cp + 1 AS HUGEINT) * (nt + {_DSIR_BUCKETS})) AS ratio
  FROM bc CROSS JOIN tot
), scored AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         -- HUGEINT, not DECIMAL: DuckDB's // on DECIMAL is true
         -- division, only integer types floor
         CAST((CAST(sum(CAST(ratio AS DECIMAL(28,0))) AS HUGEINT) * 1000)
              // count(*) AS BIGINT) AS score_e9
  FROM bt JOIN br USING (bucket) GROUP BY doc_id
)
SELECT d.doc_id, d.source, s.n_tokens, s.score_e9
FROM scored s JOIN documents d USING (doc_id)
ORDER BY score_e9 DESC, doc_id ASC LIMIT {_DSIR_K}
"""


def q_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free group-aware 80/10/10 split (curation/splitting.py
    group_split): every event of a user lands in ONE split — the
    assignment is a zero-shuffle expression on the group key. Audit
    output: per-split row and distinct-user counts (a user in two
    splits would split its rows across rows of this table — the oracle
    hash would catch it)."""
    from ..curation.splitting import group_split

    ev = read_testdata_table(spark, sf_dir, "events")
    return (
        group_split(ev, group_col="user_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


def _group_split_oracle() -> str:
    space = 1 << 56
    t_train = (4 * space) // 5           # floor(0.8 · 2^56)
    t_val = (9 * space) // 10            # floor(0.9 · 2^56)
    u = (
        "list_sum(list_transform(generate_series(1, 14), j -> "
        "CAST(strpos('0123456789abcdef', "
        "substr(md5('gs_' || CAST(user_id AS VARCHAR)), j, 1)) - 1 AS BIGINT) "
        "* (CAST(1 AS BIGINT) << (4 * (14 - j)))))"
    )
    return f"""
WITH s AS (
  SELECT user_id,
         CASE WHEN ({u}) < {t_train} THEN 'train'
              WHEN ({u}) < {t_val} THEN 'val'
              ELSE 'test' END AS split
  FROM events
)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM s GROUP BY split
"""


_CHUNK_SIZE, _CHUNK_STRIDE = 32, 24


def q_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (curation/chunking.py): every document
    split into 32-token windows at stride 24 (8 tokens of overlap) —
    the long-document sequence-prep / RAG-indexing unit. chunk_fp =
    md5 of the rejoined slice, so the oracle pins every chunk's exact
    token content, offsets, and the tail-chunk clamp."""
    from ..curation.chunking import chunk_documents
    from ..sources.readers import read_testdata_table

    d = read_testdata_table(spark, sf_dir, "documents")
    out = chunk_documents(
        d, id_col="doc_id", text_col="text",
        chunk_size=_CHUNK_SIZE, stride=_CHUNK_STRIDE,
    )
    return out.withColumnRenamed("id", "doc_id")


_CHUNKING_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
), d AS (
  SELECT doc_id, t, len(t) AS n FROM toks
), k AS (
  SELECT doc_id, t, n,
         unnest(generate_series(0, greatest((n - 1) // {_CHUNK_STRIDE}, 0)))
           AS chunk_idx
  FROM d
)
SELECT doc_id,
       CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(chunk_idx * {_CHUNK_STRIDE} AS BIGINT) AS start_token,
       CAST(len(t[chunk_idx * {_CHUNK_STRIDE} + 1 :
                  chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_SIZE}]) AS BIGINT)
         AS n_tokens,
       md5(array_to_string(
           t[chunk_idx * {_CHUNK_STRIDE} + 1 :
             chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_SIZE}], ' ')) AS chunk_fp
FROM k
"""


# ------------- temperature-smoothed domain mixture -------------


def q_curation_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed source mixture for training-data
    sampling (τ = 0.5): target share ∝ n^τ, the standard fix for
    head-domain domination (raw sampling) vs uniform (τ→0). Reports
    per source the raw share, the smoothed target share, and the
    implied up/down-sampling factor.

    Engine parity: τ = 0.5 makes the smoothing a SQRT — IEEE-exact
    and identical in both engines, unlike a general pow/exp·ln
    (libm-divergent). One count aggregation; the share denominators
    are 2-number scalars broadcast back."""
    docs = read_testdata_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    # quantize each sqrt to 6 dp BEFORE summing: a raw double sum is
    # order-dependent across partitions/engines (the repo's exact-
    # accumulation contract); the decimal sum is exact
    sq = F.round(F.sqrt(F.col("n_docs").cast("double")), 6).cast(
        "decimal(18,6)"
    )
    tot = counts.agg(
        F.sum("n_docs").cast("double").alias("tot_n"),
        F.sum(sq).cast("double").alias("tot_sq"),
    )
    raw = F.col("n_docs").cast("double") / F.col("tot_n")
    temp = sq.cast("double") / F.col("tot_sq")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.round(raw, 6).alias("raw_share"),
            F.round(temp, 6).alias("temp_share"),
            F.round(temp / raw, 6).alias("sample_factor"),
        )
        .orderBy("source")
    )


_TEMPERATURE_ORACLE = """
WITH counts AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n_docs) AS DOUBLE) AS tot_n,
         CAST(SUM(CAST(round(sqrt(CAST(n_docs AS DOUBLE)), 6)
                       AS DECIMAL(18,6))) AS DOUBLE) AS tot_sq
  FROM counts
)
SELECT source, n_docs,
       round(CAST(n_docs AS DOUBLE) / tot_n, 6) AS raw_share,
       round(CAST(CAST(round(sqrt(CAST(n_docs AS DOUBLE)), 6)
                       AS DECIMAL(18,6)) AS DOUBLE) / tot_sq, 6)
         AS temp_share,
       round((CAST(CAST(round(sqrt(CAST(n_docs AS DOUBLE)), 6)
                        AS DECIMAL(18,6)) AS DOUBLE) / tot_sq)
             / (CAST(n_docs AS DOUBLE) / tot_n), 6) AS sample_factor
FROM counts, tot
ORDER BY source
"""


QUERIES: list[QuerySpec] = [
    QuerySpec(
        "curation_chunking", q_chunking, _CHUNKING_ORACLE,
        "sliding-window doc chunking (32-tok windows, stride 24),"
        " md5-pinned chunk content, map-only",
    ),
    QuerySpec(
        "curation_group_split", q_group_split, _group_split_oracle(),
        "leakage-free group-aware split: whole groups per partition,"
        " zero-shuffle assignment expression",
    ),
    QuerySpec(
        "curation_dsir_resample", q_dsir_resample, _DSIR_ORACLE,
        "DSIR-style hashed-unigram importance resampling, integer-exact"
        " ratio arithmetic, deterministic top-k selection",
    ),
    QuerySpec(
        "curation_stratified_split", q_stratified_split, _STRATIFIED_ORACLE,
        "stratified md5-ranked 80/10/10 split audit per source domain",
    ),
    QuerySpec(
        "curation_quota_sample", q_quota_sample, _QUOTA_ORACLE,
        "per-domain quota sampling, deterministic md5 order",
    ),
    QuerySpec(
        "curation_domain_mixture", q_domain_mixture, _MIXTURE_ORACLE,
        "domain token shares + uniform-target down-sampling weights",
    ),
    QuerySpec(
        "curation_temperature_mixture",
        q_curation_temperature_mixture,
        _TEMPERATURE_ORACLE,
        "Sqrt-temperature source mixture with sampling factors",
    ),
    QuerySpec(
        "curation_sequence_packing", q_sequence_packing, _PACKING_ORACLE,
        "concat-and-chunk sequence packing (window cumsum, per domain)",
    ),
    QuerySpec(
        "curation_contamination", q_contamination_check, _CONTAM_ORACLE,
        "benchmark n-gram decontamination via broadcast shingle semi-join",
    ),
    QuerySpec(
        "embedding_quantize_int8", q_embedding_quantize, _QUANTIZE_ORACLE,
        "int8 absmax quantization, integer checksums (Arrow-batched)",
    ),
    QuerySpec(
        "curation_weighted_sample", q_weighted_sample, _WEIGHTED_SAMPLE_ORACLE,
        "mixture weights applied as deterministic md5-threshold Bernoulli",
    ),
    QuerySpec(
        "curation_weighted_reservoir", q_weighted_reservoir,
        _WEIGHTED_RESERVOIR_ORACLE,
        "A-ES weighted reservoir via integer max-of-uniforms keys",
    ),
    QuerySpec(
        "dedup_canonical_keeper", q_dedup_canonical_keeper,
        _canonical_keeper_oracle(),
        "quality-ranked keeper per near-dup cluster (vs min-id canonical)",
    ),
    QuerySpec(
        "text_vocab_stats", q_text_vocab_stats, _VOCAB_ORACLE,
        "per-source vocabulary size and type-token ratio",
    ),
    QuerySpec(
        "data_quality_report", q_data_quality_report, _DQ_ORACLE,
        "expectation suite: N rules in one scan, per-rule violation report",
    ),
]
