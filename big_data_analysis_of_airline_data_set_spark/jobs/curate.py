"""Curation job CLI — the end-to-end corpus-assembly DAG.

No reference analogue (the reference's jobs stop at flights cleaning);
this chains the beyond-reference operators the way a training-data
pipeline runs them:

    quality gates → exact dedup (md5 fingerprint, min-id keeper)
    → benchmark decontamination → domain-mixture weighted sampling
    → sequence packing → partitioned parquet corpus + stats report

Every stage is the same library call the catalog queries oracle-check;
the job only composes them. Outputs:
- <output>/corpus  : surviving documents with pack assignments,
                     partitioned by source (pack locality = read
                     locality for a sequential trainer)
- <output>/report  : one-row-per-stage row-count funnel
"""

from __future__ import annotations

import argparse

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..curation.contamination import contamination_hits
from ..curation.packing import pack_sequences
from ..curation.sampling import domain_mixture, weighted_sample
from ..sources.local import local_rows
from ..sources.readers import read_parquet_table
from ..sources.writers import write_parquet
from ..text.analysis import content_fingerprint, token_count


def curate(
    docs: DataFrame,
    *,
    benchmark_mod: int = 50,
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    pack_budget: int = 256,
) -> tuple[DataFrame, DataFrame]:
    """Returns (corpus, funnel_report). Deterministic end to end.

    Funnel discipline: every stage executes its transformation EXACTLY
    ONCE. Each stage output is persisted before its (materializing)
    count, so downstream stages and branch points (dedup feeds the
    contamination probe AND the keep-join; sampled feeds the packer AND
    the corpus join) read the cache instead of recomputing the lineage —
    the naive ``counts.append((stage, df.count()))`` chain re-ran the
    whole gates→dedup→decontaminate prefix per stage, six full passes
    over the corpus at 100 TB. The raw input is likewise persisted and
    counted once, then released as soon as the gate stage materializes.

    NOTE an ``Observation`` accumulator on the first pass would save the
    input-stage cache entirely, but is deliberately NOT used: in Spark
    4.1, registering any Observation poisons the session for later
    MLlib work — LogisticRegression training summaries drag
    SparkSession → ObservationManager (non-serializable) into task
    closures and every subsequent evaluator.evaluate throws
    NotSerializableException (reproduced; see tests/test_curate_job.py).
    Caches are released as soon as the next stage has materialized;
    ``corpus`` stays persisted for the caller's write (unpersist after
    writing).
    """
    spark = docs.sparkSession

    with_tok = docs.withColumn("n_tokens", token_count(F.col("text"))).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    counts: list[tuple[str, int]] = [("input", with_tok.count())]
    gated = with_tok.filter(
        F.col("n_tokens").between(min_tokens, max_tokens)
    ).persist(StorageLevel.MEMORY_AND_DISK)
    counts.append(("quality_gate", gated.count()))
    with_tok.unpersist()

    # exact dedup: min-id row per content fingerprint
    deduped = (
        gated.withColumn("fingerprint", content_fingerprint(F.col("text")))
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("fingerprint").orderBy(F.col("doc_id").asc())
            ),
        )
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    counts.append(("exact_dedup", deduped.count()))
    gated.unpersist()

    contam = contamination_hits(
        deduped,
        id_col="doc_id",
        text_col="text",
        is_benchmark=F.col("doc_id") % benchmark_mod == 0,
        n=5,
    )
    clean = deduped.join(
        contam.filter(~F.col("contaminated")).select("doc_id"), "doc_id"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    counts.append(("decontaminated", clean.count()))
    deduped.unpersist()

    mix = domain_mixture(clean, group_col="source", weight_col="n_tokens").select(
        "source", "sample_weight"
    )
    sampled = weighted_sample(
        clean, mix, group_col="source", id_col="doc_id", weight_col="sample_weight"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    counts.append(("mixture_sampled", sampled.count()))
    clean.unpersist()

    packed = pack_sequences(
        sampled, group_col="source", id_col="doc_id",
        tokens_col="n_tokens", budget=pack_budget,
    )
    corpus = (
        sampled.select("doc_id", "text", "lang", "source", "fingerprint")
        .join(packed.select("doc_id", "n_tokens", "pack_id", "pack_offset"), "doc_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts.append(("packed", corpus.count()))
    sampled.unpersist()

    report = local_rows(
        spark,
        [(i, stage, n) for i, (stage, n) in enumerate(counts)],
        "stage_idx int, stage string, n_rows bigint",
    )
    return corpus, report


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="documents parquet path")
    p.add_argument("--output", required=True, help="output directory")
    p.add_argument("--pack-budget", type=int, default=256)
    args = p.parse_args(argv)

    from ..session import get_session

    spark: SparkSession = get_session("job-curate")
    docs = read_parquet_table(spark, args.input)
    corpus, report = curate(docs, pack_budget=args.pack_budget)
    # corpus is still persisted from its funnel count: the partitioned
    # write reads the cache, not the lineage.
    write_parquet(corpus, f"{args.output}/corpus", partition_by=["source"])
    corpus.unpersist()
    write_parquet(report, f"{args.output}/report")


if __name__ == "__main__":
    main()
