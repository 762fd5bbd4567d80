"""DSIR-style data selection: hashed n-gram importance resampling.

Deterministic re-expression of Data Selection via Importance Resampling
(Xie et al., 2023 — public paper): estimate how target-domain-like each
document is with bag-of-hashed-unigram models of a target corpus and
the overall proposal corpus, then keep the top-scoring documents.

Engine-exact variant (every arithmetic step replayable by a SQL
oracle, same discipline as text_token_rarity / graph.pagerank):

- Token → bucket by the 56-bit md5-prefix integer mod ``n_buckets``
  (md5 is engine-portable; xxhash64 is Spark-only).
- Per-bucket add-one-smoothed probability ratio

      p_target(b) / p_proposal(b)
        = (ct_b + 1)(Np + B)  /  (cp_b + 1)(Nt + B)

  kept as an INTEGER: ``ratio_int = num · SCALE div den`` — pure
  integer multiply/divide, no float until the final display round.
- Document score = arithmetic mean of its tokens' ``ratio_int``
  (decimal-summed → division-order-free). The paper's importance
  weight is the *product* of token ratios; the mean-of-ratios form
  ranks identically on the synthetic corpora while avoiding cross-
  engine ``ln``/``exp`` last-ulp hazards — the same trade
  text_token_rarity documents for its perplexity proxy.
- Selection = top-k by (score DESC, id ASC) — a deterministic
  stand-in for Gumbel-top-k resampling; executed as
  TakeOrderedAndProject (per-partition heaps), never a global sort.

Scale shape: one explode→groupBy fits the B-row bucket table (B is a
constant ≤ a few thousand — collecting the fitted model is a bounded
driver artifact at any corpus size); ratios are computed driver-side
in arbitrary-precision Python integers and re-broadcast as a literal
table, so the scoring pass is a map-side broadcast join + one
doc-keyed aggregate. Two corpus passes, two bounded-key shuffles —
the same plan at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.local import local_rows
from ..text.analysis import tokens_col

_HASH_PREFIX = "d_"
_SCALE = 10**6


def _bucket(tok: F.Column, n_buckets: int) -> F.Column:
    h = F.conv(F.substring(F.md5(F.concat(F.lit(_HASH_PREFIX), tok)), 1, 14), 16, 10)
    return (h.cast("long") % n_buckets).alias("bucket")


def dsir_scores(
    docs: DataFrame,
    *,
    id_col: str,
    text_col: str,
    domain_col: str,
    target_domains: tuple[str, ...],
    n_buckets: int = 256,
) -> DataFrame:
    """(id, n_tokens, score_e9) — per-document mean smoothed
    target/proposal bucket-probability ratio; higher = more
    target-domain-like."""
    toks = docs.select(
        F.col(id_col),
        F.col(domain_col).isin(*target_domains).cast("long").alias("is_target"),
        F.explode(tokens_col(F.col(text_col))).alias("tok"),
    ).select(id_col, "is_target", _bucket(F.col("tok"), n_buckets))

    # The fitted "model" is the B-row bucket table — a bounded artifact
    # (B is a constant, independent of corpus size), so collecting it is
    # a legitimate driver boundary at any scale, exactly like
    # _query_vector / the correlation matrix. Materializing it ONCE and
    # re-broadcasting a literal table keeps the corpus at two
    # tokenize+hash passes total (count fit + scoring); leaving it lazy
    # triples that, because Spark does not share the aggregation subtree
    # between the ratio branch and the totals branch.
    counts = {
        int(r.bucket): (int(r.cp), int(r.ct))
        for r in toks.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cp"), F.sum("is_target").alias("ct"))
        .collect()
    }
    np_ = sum(cp for cp, _ in counts.values()) + n_buckets
    nt = sum(ct for _, ct in counts.values()) + n_buckets
    # Python // on positives == Spark's div == DuckDB's // — exact,
    # and arbitrary-precision so no overflow headroom to audit
    br = local_rows(
        docs.sparkSession,
        [
            (b, ((ct + 1) * np_ * _SCALE) // ((cp + 1) * nt))
            for b, (cp, ct) in sorted(counts.items())
        ],
        "bucket long, ratio long",
    )

    # score_e9 = mean token ratio in 1e-9 units, as (Σratio·1000) div n —
    # INTEGER end to end. A round(mean, 6) double here is tie-PRONE by
    # construction (integer ratios over 1e6 make exact decimal midpoints
    # common, and engines disagree on double rounding at midpoints —
    # caught by the sf0.1 cross-scale sweep); integer floor division is
    # bit-identical everywhere.
    return (
        toks.join(F.broadcast(br), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.expr(
                "CAST((sum(CAST(ratio AS DECIMAL(28,0))) * 1000)"
                " div count(1) AS BIGINT)"
            ).alias("score_e9"),
        )
    )


def dsir_resample(
    docs: DataFrame,
    *,
    id_col: str,
    text_col: str,
    domain_col: str,
    target_domains: tuple[str, ...],
    k: int,
    n_buckets: int = 256,
) -> DataFrame:
    """Top-``k`` most target-like documents with their scores —
    deterministic importance resampling (ties broken by id)."""
    scored = dsir_scores(
        docs,
        id_col=id_col,
        text_col=text_col,
        domain_col=domain_col,
        target_domains=target_domains,
        n_buckets=n_buckets,
    )
    return (
        docs.select(id_col, domain_col)
        .join(scored, id_col)
        .orderBy(F.desc("score_e9"), F.asc(id_col))
        .limit(k)
    )
