"""Exact n-gram (word-shingle) Jaccard near-duplicate pairs.

This is the EXACT baseline the MinHash-LSH path approximates: distinct
word-3-gram sets, Jaccard = |∩| / |∪|, pairs above a threshold.

Scale posture: the pair join is blocked on a cheap predicate (length
band) — at 100 TB you never run the unblocked O(n²) join; the LSH
variant (dedup.minhash) is the production path and this one validates
it. Measured (tests/scale_stress.py ngram; BASELINE.md "Round-9 scale
stress"): the ±50-char band keeps a ~20–40 % constant FRACTION of all
pairs at every corpus size — a constant divisor of n², not a growth
cut — so the blocked exact join already needs ~18 min at 5k docs and
a 507M-pair budget at 50k. Use it as the small-corpus recall oracle
for MinHash, never the production path. All expressions are JVM
built-ins (transform/sequence/element_at/array_intersect) and fully
SQL-expressible for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..text.analysis import tokens_col


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-grams from an ALREADY-MATERIALIZED token array
    column. Pass a real column (not an inline split expression): Spark
    evaluates expressions referenced inside a lambda per element, so an
    inline split would re-tokenize the document once per gram."""
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + j) for j in range(n)]
    )
    return F.when(
        F.size(toks) >= n, F.array_distinct(F.transform(idx, gram))
    ).otherwise(F.array().cast("array<string>"))


def shingles_col(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams of a text column. Prefer materializing
    tokens first (shingles_from_tokens) in hot paths."""
    return shingles_from_tokens(tokens_col(text), n)


def jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    length_band: int = 50,
    length_col: str | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard) for pairs with Jaccard >= threshold,
    blocked to |len_a - len_b| <= length_band."""
    length = (
        F.col(length_col) if length_col else F.length(F.col(text_col))
    ).alias("_len")
    base = df.select(
        F.col(id_col).alias("_id"),
        tokens_col(F.col(text_col)).alias("_toks"),
        length,
    ).select("_id", shingles_from_tokens(F.col("_toks"), n).alias("_sh"), "_len")
    a = base.select(
        F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"), F.col("_len").alias("len_a")
    )
    b = base.select(
        F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"), F.col("_len").alias("len_b")
    )
    pairs = a.join(
        b,
        (F.col("id_a") < F.col("id_b"))
        & (F.abs(F.col("len_a") - F.col("len_b")) <= length_band),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    return (
        pairs.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
