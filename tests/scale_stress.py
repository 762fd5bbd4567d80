"""Scale-stress evidence for the LLM-pipeline candidate-generation
families (r7 verdict item 4; extended to fuzzy/entity by the r8
verdict item 6): prove the banded/blocked candidate counts grow
SUB-QUADRATICALLY as the corpus scales, with measured wall-times.

Run manually (not collected by pytest):

    PYTHONPATH=/root/repo python3 tests/scale_stress.py \
        [minhash|ivf|fuzzy|simhash|ngram|emb_lsh ...]

(no args = all suites)

No sf1 testdata exists (sf0.1 is the largest the driver generates), so
the top rung is a DERIVED 10× corpus written under
``/root/repo/.scale_stress/`` — sf1-equivalent row counts
(50k documents, 20k embeddings, 20k + 200k part-style names):

- documents_x10: deterministic synthetic docs drawn word-by-word from
  the sf0.1 vocabulary via xxhash64 — replicating sf0.1 rows verbatim
  would plant ~45 near-dup pairs per original doc and quadratic
  candidate growth IN THE DATA, which would measure the corpus, not
  the algorithm. One in 25 docs is a planted near-duplicate (a pair
  sharing its word seed, one side perturbed by a trailing token), so
  the expected TRUE pair count grows linearly: n/50.
- embeddings_x10: each sf0.1 vector replicated 10× under deterministic
  per-coordinate jitter (±0.02) — clustered replicas, the realistic
  hard case for IVF cell pruning.
- codes_20k / codes_200k: HIGH-entropy ~11-char base-36 codes — the
  record-linkage shape q-gram blocking exists for. Ids 50g and 50g+1
  share a seed with the twin's first character flipped: ONE planted
  single-edit pair per 50 ids, so TRUE pairs grow linearly (n/50) and
  candidates must too. (The REAL part tables hold only ~64 distinct
  names at every sf, so growth needs synthetic corpora.)
- names_20k: LOW-entropy 5-word part-style names over the sf0.1
  p_name word vocabulary (~92 words) — the regime where the q-gram
  space saturates and candidates are inherently quadratic; measured
  as a documented NEGATIVE result (see dedup/fuzzy.py's regime note).

Metrics:
- dedup_minhash_lsh: banded-candidate pairs (the stats_out hook in
  dedup/minhash.py — the number that must not go quadratic) + verified
  pairs + wall time.
- ann_ivf_quantized_rerank: rows scanned after cell pruning vs corpus
  size (the probed fraction), recall@10 vs brute force, wall time.
- dedup_fuzzy_pairs / dedup_entity_resolution: prefix-filtered q-gram
  blocking candidates vs corpus size AND vs q (dedup/fuzzy.py:
  candidate_pairs — the join the ER closure then consumes; the q-curve
  is the measured selectivity story), verified (lev ≤ 2) pairs, wall
  time.
- dedup_simhash: banded-candidate pairs at the default 4×16-bit bands
  vs the Manku block-combination scheme (blocks=6 → 20 combos keyed on
  ~32 bits) — 16-bit band values have only 2^16 buckets, so the
  default's candidates carry an irreducible ~4·n²/2^17 uniform-
  collision floor; blocks is the knob that must kill it WITHOUT
  changing the output (the two paths are proved output-identical in
  tests/test_simhash_properties.py).
- dedup_ngram_jaccard: length-band blocked candidate counts computed
  EXACTLY from the length histogram (no quadratic join needed for the
  count) — the documented NEGATIVE result: a ±50-char band divides n²
  by a constant, so this stays the small-corpus validation oracle for
  the MinHash path, never the production path.
- dedup_embedding_cosine / dedup_embedding_lsh: sign-LSH candidate
  counts vs signature bits (8 bands; bits 4 → 2^4 buckets per band) —
  the bits-must-track-log(n) analogue of the IVF nlist ∝ √n and fuzzy
  q-tracks-n findings, measured against the clustered 10× jittered
  corpus (the realistic hard case).
- graph (pagerank): the broadcast-gate crossover — synthetic graphs
  one per regime (100k nodes ≤ gate < 400k), same avg degree; the
  'degrades gracefully above 200k nodes' claim holds if the
  sort-merge rung's wall tracks the edge count ~linearly.

Results are recorded in BASELINE.md ("Scale stress" section).
"""

from __future__ import annotations

import json
import os
import shutil
import time

STRESS_DIR = "/root/repo/.scale_stress"
SF01 = "/root/testdata/sf0.01"
SF1 = "/root/testdata/sf0.1"


def _parquet_complete(out_path: str) -> bool:
    """True iff ``out_path`` is a FULLY-written Spark parquet dir.

    The committer drops a ``_SUCCESS`` marker only after the job
    commits, so a crashed previous run leaves a directory without it —
    reuse that and every later rung silently measures a partial corpus
    (round-12 advice). Partial dirs are removed so the caller's write
    starts clean."""
    if not os.path.exists(out_path):
        return False
    if os.path.exists(os.path.join(out_path, "_SUCCESS")):
        return True
    shutil.rmtree(out_path)
    return False


def _docs_x10(spark, out_path: str) -> None:
    from pyspark.sql import functions as F

    if _parquet_complete(out_path):
        return
    base = spark.read.parquet(os.path.join(SF1, "documents.parquet"))
    vocab = (
        base.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
        .filter(F.length("w") > 0)
        .distinct()
    )
    # one-row array column, broadcast-crossed (large F.lit arrays
    # degrade codegen — the repo-wide lookup-table pattern)
    vrow = vocab.agg(F.array_sort(F.collect_list("w")).alias("_vocab"))
    n = 50_000
    docs = (
        spark.range(n)
        .crossJoin(F.broadcast(vrow))
        .withColumn("_vsize", F.size("_vocab"))
        # ids 50g and 50g+1 share a word seed -> planted near-dup pair
        .withColumn(
            "_seed",
            F.when(F.col("id") % 50 < 2, (F.col("id") / 50).cast("long") * 50)
            .otherwise(F.col("id")),
        )
        .withColumn("_len", (F.lit(40) + F.pmod(F.xxhash64("_seed"), F.lit(40))))
        .withColumn(
            "_words",
            F.transform(
                F.sequence(F.lit(1), F.col("_len")),
                lambda j: F.element_at(
                    "_vocab",
                    (F.pmod(F.xxhash64(F.col("_seed"), j), F.col("_vsize")) + 1).cast(
                        "int"
                    ),
                ),
            ),
        )
        .select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.array_join("_words", " "),
                F.when(F.col("id") % 50 == 1, F.concat(F.lit(" zq"), F.col("id")))
                .otherwise(F.lit("")),
            ).alias("text"),
        )
    )
    docs.write.mode("overwrite").parquet(out_path)


def _embeddings_x10(spark, out_path: str) -> None:
    from pyspark.sql import functions as F

    if _parquet_complete(out_path):
        return
    base = spark.read.parquet(os.path.join(SF1, "embeddings.parquet"))
    reps = base.select(
        "vec_id", "embedding", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("r")
    )
    jitter = F.transform(
        "embedding",
        lambda x, i: x
        + (
            F.pmod(F.xxhash64(F.col("vec_id"), F.col("r"), i), F.lit(1000)) - 500
        ).cast("double")
        / 25_000.0,
    )
    out = reps.select(
        (F.col("vec_id") * 10 + F.col("r")).alias("vec_id"),
        F.when(F.col("r") == 0, F.col("embedding")).otherwise(jitter).alias(
            "embedding"
        ),
    )
    out.write.mode("overwrite").parquet(out_path)


def _names_synth(spark, out_path: str, n: int) -> None:
    from pyspark.sql import functions as F

    if _parquet_complete(out_path):
        return
    base = spark.read.parquet(os.path.join(SF1, "part.parquet"))
    vocab = (
        base.select(F.explode(F.split(F.lower("p_name"), r"\s+")).alias("w"))
        .filter(F.length("w") > 0)
        .distinct()
    )
    vrow = vocab.agg(F.array_sort(F.collect_list("w")).alias("_vocab"))
    names = (
        spark.range(n)
        .crossJoin(F.broadcast(vrow))
        .withColumn("_vsize", F.size("_vocab"))
        # ids 50g and 50g+1 share a word seed -> planted typo pair
        .withColumn(
            "_seed",
            F.when(F.col("id") % 50 < 2, (F.col("id") / 50).cast("long") * 50)
            .otherwise(F.col("id")),
        )
        .withColumn(
            "_words",
            F.transform(
                F.sequence(F.lit(1), F.lit(5)),
                lambda j: F.element_at(
                    "_vocab",
                    (F.pmod(F.xxhash64(F.col("_seed"), j), F.col("_vsize")) + 1).cast(
                        "int"
                    ),
                ),
            ),
        )
        .withColumn("_name", F.array_join("_words", " "))
        .select(
            F.col("id").alias("name_id"),
            # the twin (id % 50 == 1) flips its first character: a
            # single-edit pair, well inside max_distance=2
            F.when(
                F.col("id") % 50 == 1,
                F.concat(F.lit("q"), F.substring("_name", 2, 1 << 20)),
            )
            .otherwise(F.col("_name"))
            .alias("p_name"),
        )
    )
    names.write.mode("overwrite").parquet(out_path)


def _codes_synth(spark, out_path: str, n: int) -> None:
    """HIGH-entropy rung: ~11-char base-36 codes (md5-derived); ids
    50g/50g+1 form one planted single-edit typo pair per 50 ids (n/50
    TRUE pairs) — the record-linkage shape (IDs, SKUs, license keys)
    q-gram blocking is actually for."""
    from pyspark.sql import functions as F

    if _parquet_complete(out_path):
        return
    codes = (
        spark.range(n)
        .withColumn(
            "_seed",
            F.when(F.col("id") % 50 < 2, (F.col("id") / 50).cast("long") * 50)
            .otherwise(F.col("id")),
        )
        .withColumn(
            "_code",
            F.conv(F.substring(F.md5(F.col("_seed").cast("string")), 1, 14), 16, 36),
        )
        .select(
            F.col("id").alias("name_id"),
            F.when(
                F.col("id") % 50 == 1,
                F.concat(F.lit("Z"), F.substring("_code", 2, 1 << 20)),
            )
            .otherwise(F.col("_code"))
            .alias("p_name"),
        )
    )
    codes.write.mode("overwrite").parquet(out_path)


def stress_fuzzy(spark) -> list[dict]:
    from big_data_analysis_of_airline_data_set_spark.dedup.fuzzy import (
        candidate_pairs,
    )

    rows = []
    # Two corpus REGIMES, because the measurement showed they behave
    # oppositely (the round-9 finding):
    # - codes_*: high-entropy strings — the operator's actual domain;
    #   candidates must grow sub-quadratically across the 10x rung.
    # - names_20k: p_name-shaped 5-word names over a ~92-word
    #   vocabulary — the LOW-entropy regime where the q-gram space
    #   saturates (70 distinct bigrams for 20k names) and NO q or
    #   prefix filter can keep candidates sub-quadratic (measured:
    #   55% of all pairs at q=2, still 7% at q=8). Blocking on any
    #   fixed feature of a 92-symbol alphabet divides n^2 by a
    #   CONSTANT; the scale path for such corpora is the token-level
    #   similarity family (minhash/ngram), not edit distance.
    # The real part table (64 distinct names) is the catalog config
    # row. verified_pairs must cover the planted n/50 twins (+ the
    # background collisions of the generator).
    for label, path, q, verify in [
        ("sf0.1 p_name (catalog cfg)", os.path.join(SF1, "part.parquet"), 2, True),
        ("codes 20k q=2", os.path.join(STRESS_DIR, "codes_20k.parquet"), 2, True),
        ("codes 20k q=3", os.path.join(STRESS_DIR, "codes_20k.parquet"), 3, True),
        ("codes 200k q=3", os.path.join(STRESS_DIR, "codes_200k.parquet"), 3, True),
        # q must TRACK corpus size (the nlist ∝ sqrt(n) lesson from the
        # r8 IVF stress): at fixed q the gram space saturates and the
        # candidate FRACTION goes constant (quadratic growth); one more
        # character of q multiplies the space by the alphabet size
        ("codes 200k q=4", os.path.join(STRESS_DIR, "codes_200k.parquet"), 4, True),
        ("names 20k q=2 (low-entropy)", os.path.join(STRESS_DIR, "names_20k.parquet"), 2, False),
        ("names 20k q=8 (low-entropy)", os.path.join(STRESS_DIR, "names_20k.parquet"), 8, False),
    ]:
        from pyspark.sql import functions as F

        d = spark.read.parquet(path)
        n = d.select("p_name").distinct().count()
        t0 = time.time()
        cand_df = candidate_pairs(
            d, name_col="p_name", q=q, max_distance=2, prefix_filter=True
        ).persist()  # the verify step consumes the SAME frame — never
        # rebuild the blocking join for it (review finding: the double
        # build both doubled the harness wall and made wall_s conflate
        # two candidate builds)
        cand = cand_df.count()
        wall_c = time.time() - t0
        verified = None
        if verify:
            verified = cand_df.filter(
                F.levenshtein("name_a", "name_b") <= 2
            ).count()
        wall = time.time() - t0
        cand_df.unpersist()
        rows.append(
            {
                "scale": label,
                "n_names": n,
                "q": q,
                "candidate_pairs": cand,
                "verified_pairs": verified,
                "cand_per_name": round(cand / n, 2),
                "all_pairs": n * (n - 1) // 2,
                "cand_frac_of_all_pairs": round(cand / max(1, n * (n - 1) // 2), 5),
                "wall_candidates_s": round(wall_c, 1),
                "wall_s": round(wall, 1),
            }
        )
        print("fuzzy", rows[-1], flush=True)
    return rows


def stress_minhash(spark) -> list[dict]:
    from pyspark.sql import functions as F  # noqa: F401

    from big_data_analysis_of_airline_data_set_spark.dedup.minhash import (
        minhash_near_dup_pairs,
    )

    rows = []
    for label, path in [
        ("sf0.01", os.path.join(SF01, "documents.parquet")),
        ("sf0.1", os.path.join(SF1, "documents.parquet")),
        ("x10 (sf1-equiv)", os.path.join(STRESS_DIR, "documents_x10.parquet")),
    ]:
        d = spark.read.parquet(path)
        stats: dict = {}
        t0 = time.time()
        pairs = minhash_near_dup_pairs(
            d, id_col="doc_id", text_col="text", n=3, threshold=0.5,
            stats_out=stats,
        )
        verified = pairs.count()
        wall = time.time() - t0
        n = stats["n_docs"]
        rows.append(
            {
                "scale": label,
                "n_docs": n,
                "candidate_pairs": stats["candidate_pairs"],
                "verified_pairs": verified,
                "cand_per_doc": round(stats["candidate_pairs"] / n, 2),
                "all_pairs": n * (n - 1) // 2,
                "wall_s": round(wall, 1),
            }
        )
        print("minhash", rows[-1], flush=True)
    return rows


def stress_ivf(spark) -> list[dict]:
    from pyspark.sql import functions as F

    from big_data_analysis_of_airline_data_set_spark.dedup.embedding import (
        cosine_sim_expr,
    )
    from big_data_analysis_of_airline_data_set_spark.similarity.ivf import (
        build_ivf_index,
        ivf_quantized_topk,
        select_probe_cells,
    )

    rows = []
    for label, path in [
        ("sf0.01", os.path.join(SF01, "embeddings.parquet")),
        ("sf0.1", os.path.join(SF1, "embeddings.parquet")),
        ("x10 (sf1-equiv)", os.path.join(STRESS_DIR, "embeddings_x10.parquet")),
    ]:
        e = spark.read.parquet(path)
        n = e.count()
        qv = [float(x) for x in e.orderBy("vec_id").first().embedding]
        t_build0 = time.time()
        indexed, centroids = build_ivf_index(
            e, id_col="vec_id", vec_col="embedding", nlist=16, multi_assign=2
        )
        indexed = indexed.persist()
        indexed.count()
        build_s = time.time() - t_build0
        probe_cells = select_probe_cells(centroids, qv, 8)
        probed = (
            indexed.filter(F.col("cell").isin(probe_cells))
            .dropDuplicates(["_id"])
            .count()
        )
        t0 = time.time()
        approx = ivf_quantized_topk(
            indexed, centroids, qv, k=10, nprobe=8, candidates=100
        )
        got = [r.id for r in approx.collect()]
        probe_s = time.time() - t0
        q = F.array(*[F.lit(x) for x in qv])
        truth = [
            r.vec_id
            for r in e.select(
                "vec_id", F.round(cosine_sim_expr(F.col("embedding"), q), 6).alias("c")
            )
            .orderBy(F.desc("c"), F.asc("vec_id"))
            .limit(10)
            .collect()
        ]
        recall = len(set(got) & set(truth)) / 10.0
        indexed.unpersist()
        rows.append(
            {
                "scale": label,
                "n_vectors": n,
                "probed_rows": probed,
                "probed_frac": round(probed / n, 3),
                "recall_at_10": recall,
                "build_s": round(build_s, 1),
                "probe_s": round(probe_s, 1),
            }
        )
        print("ivf", rows[-1], flush=True)
    return rows


def stress_simhash(spark) -> list[dict]:
    from big_data_analysis_of_airline_data_set_spark.dedup.simhash import (
        simhash_near_dup_pairs,
    )

    rows = []
    for label, path in [
        ("sf0.01", os.path.join(SF01, "documents.parquet")),
        ("sf0.1", os.path.join(SF1, "documents.parquet")),
        ("x10 (sf1-equiv)", os.path.join(STRESS_DIR, "documents_x10.parquet")),
    ]:
        d = spark.read.parquet(path)
        # blocks=4 is the catalog operating point (4×16-bit bands);
        # blocks=6 is the Manku block-combination scale mode (20 combos
        # keyed on ~32 bits). Outputs are proved identical — only the
        # candidate count may differ.
        for blocks in (4, 6):
            stats: dict = {}
            t0 = time.time()
            pairs = simhash_near_dup_pairs(
                d,
                id_col="doc_id",
                text_col="text",
                max_hamming=3,
                blocks=blocks,
                stats_out=stats,
            )
            verified = pairs.count()
            wall = time.time() - t0
            n = stats["n_docs"]
            rows.append(
                {
                    "scale": label,
                    "blocks": blocks,
                    "n_docs": n,
                    "candidate_pairs": stats["candidate_pairs"],
                    "verified_pairs": verified,
                    "cand_per_doc": round(stats["candidate_pairs"] / n, 3),
                    "all_pairs": n * (n - 1) // 2,
                    "cand_frac_of_all_pairs": round(
                        stats["candidate_pairs"] / max(1, n * (n - 1) // 2), 7
                    ),
                    "wall_s": round(wall, 1),
                }
            )
            print("simhash", rows[-1], flush=True)
    return rows


def stress_ngram(spark) -> list[dict]:
    """Length-band blocking candidate growth — the documented NEGATIVE
    result. The candidate count is computed EXACTLY from the length
    histogram (sum of c_l1·c_l2 over length pairs within the band, plus
    C(c_l, 2) at equal lengths): a few hundred distinct lengths, so the
    count never pays the quadratic join it is measuring. The operator
    itself runs only on the rungs where its candidate budget is sane
    (sf0.01 catalog point, sf0.1) — at x10 the measured point IS that
    the budget is ~19 % of 1.25e9 pairs, which is the finding."""
    from pyspark.sql import functions as F

    from big_data_analysis_of_airline_data_set_spark.dedup.ngram import (
        jaccard_pairs,
    )

    rows = []
    for label, path, run_operator in [
        ("sf0.01 (catalog cfg)", os.path.join(SF01, "documents.parquet"), True),
        ("sf0.1", os.path.join(SF1, "documents.parquet"), True),
        ("x10 (sf1-equiv)", os.path.join(STRESS_DIR, "documents_x10.parquet"), False),
    ]:
        d = spark.read.parquet(path)
        hist = {
            r.l: r.c
            for r in d.select(F.length("text").alias("l"))
            .groupBy("l")
            .agg(F.count("*").alias("c"))
            .collect()
        }
        n = sum(hist.values())
        band = 50
        lengths = sorted(hist)
        cand = 0
        for i, l1 in enumerate(lengths):
            cand += hist[l1] * (hist[l1] - 1) // 2
            for l2 in lengths[i + 1 :]:
                if l2 - l1 > band:
                    break
                cand += hist[l1] * hist[l2]
        verified = wall = None
        if run_operator:
            t0 = time.time()
            verified = jaccard_pairs(
                d, id_col="doc_id", text_col="text", n=3, threshold=0.5,
                length_band=band,
            ).count()
            wall = round(time.time() - t0, 1)
        rows.append(
            {
                "scale": label,
                "n_docs": n,
                "candidate_pairs": cand,
                "verified_pairs": verified,
                "cand_per_doc": round(cand / n, 1),
                "all_pairs": n * (n - 1) // 2,
                "cand_frac_of_all_pairs": round(cand / max(1, n * (n - 1) // 2), 4),
                "wall_s": wall,
            }
        )
        print("ngram", rows[-1], flush=True)
    return rows


def stress_emb_lsh(spark) -> list[dict]:
    """Sign-LSH candidate growth vs signature bits at the catalog's
    8-band operating point. bits=4 (the catalog config for the 2k-row
    testdata) has only 2^4 buckets per band — at 20k clustered vectors
    the uniform floor alone is ~8·n²/2^5. bits is the knob that must
    track log(n); verified counts show what the extra pruning costs in
    recall (sf0.1's exact all-pairs truth is small enough to compute)."""
    from pyspark.sql import functions as F

    from big_data_analysis_of_airline_data_set_spark.dedup.embedding import (
        band_signatures,
        banded_embedding_near_dup_pairs,
        embedding_near_dup_pairs,
    )

    rows = []
    for label, path in [
        ("sf0.1", os.path.join(SF1, "embeddings.parquet")),
        ("x10 (sf1-equiv)", os.path.join(STRESS_DIR, "embeddings_x10.parquet")),
    ]:
        e = spark.read.parquet(path).persist()
        n = e.count()
        exact = None
        if n <= 5_000:
            exact = embedding_near_dup_pairs(
                e, id_col="vec_id", vec_col="embedding", threshold=0.3
            ).count()
        for bits in (4, 8, 12):
            t0 = time.time()
            sigs = band_signatures(
                e, id_col="vec_id", vec_col="embedding", dims=64, bands=8,
                bits=bits,
            ).persist()
            a = sigs.select(F.col("_id").alias("id_a"), "band", "sig")
            b = sigs.select(F.col("_id").alias("id_b"), "band", "sig")
            cand = (
                a.join(b, ["band", "sig"])
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b")
                .distinct()
                .count()
            )
            verified = banded_embedding_near_dup_pairs(
                e, id_col="vec_id", vec_col="embedding", dims=64,
                threshold=0.3, bands=8, bits=bits,
            ).count()
            wall = time.time() - t0
            sigs.unpersist()
            rows.append(
                {
                    "scale": label,
                    "bands": 8,
                    "bits": bits,
                    "n_vectors": n,
                    "candidate_pairs": cand,
                    "verified_pairs": verified,
                    "exact_pairs": exact,
                    "recall_vs_exact": (
                        round(verified / exact, 3) if exact else None
                    ),
                    "cand_frac_of_all_pairs": round(
                        cand / max(1, n * (n - 1) // 2), 5
                    ),
                    "wall_s": round(wall, 1),
                }
            )
            print("emb_lsh", rows[-1], flush=True)
        if label.startswith("x10"):
            # High-threshold regime rung (t=0.95 — the production
            # near-dup shape). Truth = within-replica-group pairs
            # (vec_id div 10 shares the jitter origin) with exact
            # cosine >= 0.95: computable WITHOUT the all-pairs join;
            # found pairs outside groups are exact-verified >= t by
            # construction, so recall vs this cluster mass is the
            # honest number.
            from big_data_analysis_of_airline_data_set_spark.dedup.embedding import (
                cosine_sim_expr,
            )

            g = e.withColumn("grp", (F.col("vec_id") / 10).cast("long"))
            ta = g.select(
                "grp", F.col("vec_id").alias("id_a"), F.col("embedding").alias("va")
            )
            tb = g.select(
                "grp", F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb")
            )
            truth = (
                ta.join(tb, "grp")
                .filter(F.col("id_a") < F.col("id_b"))
                .filter(
                    F.round(cosine_sim_expr(F.col("va"), F.col("vb")), 6) >= 0.95
                )
                .select("id_a", "id_b")
                .persist()
            )
            t_n = truth.count()
            for bits in (8, 12):
                t0 = time.time()
                found = (
                    banded_embedding_near_dup_pairs(
                        e, id_col="vec_id", vec_col="embedding", dims=64,
                        threshold=0.95, bands=8, bits=bits,
                    )
                    .select("id_a", "id_b")
                    .persist()
                )
                n_found = found.count()
                hit = found.join(truth, ["id_a", "id_b"]).count()
                wall = time.time() - t0
                found.unpersist()
                rows.append(
                    {
                        "scale": label + " t=0.95",
                        "bands": 8,
                        "bits": bits,
                        "n_vectors": n,
                        "found_pairs": n_found,
                        "cluster_truth_pairs": t_n,
                        "recall_vs_cluster_truth": round(hit / max(1, t_n), 3),
                        "wall_s": round(wall, 1),
                    }
                )
                print("emb_lsh", rows[-1], flush=True)
            truth.unpersist()
        e.unpersist()
    return rows


# node counts of the pagerank regime rung's synthetic graphs; the last
# crosses operators/graph.py:_BC_NODES_MAX (200k)
_GRAPH_NODES = (20_000, 100_000, 400_000)


def stress_graph(spark) -> list[dict]:
    """The broadcast-gate crossover claim, measured. operators/graph.py
    broadcasts the node-sized per-iteration frames when n <= 200k and
    falls back to sort-merge above — the r8 verdict accepted the
    'degrades gracefully' argument from plan shape only. Protocol:
    synthetic uniform graphs at avg degree 5 and ``_GRAPH_NODES`` node
    counts, PageRank 5 rounds, BOTH regimes forced at every n by setting
    operators/graph.py:_BC_NODES_MAX, spark.catalog.clearCache() before
    every run (the ``with pagerank(...)`` exit releases the loop's own
    caches; the clear drops anything else a plan-identity cache key
    could let a later run reuse, so the A/B measures the loop). The claim
    holds if wall grows ~linearly in the edge count across the gate
    (no cliff); the broadcast-vs-sort-merge DELTA is the secondary
    reading. rank_sum is the determinism checksum (exact DECIMAL
    iteration arithmetic)."""
    from pyspark.sql import functions as F

    from big_data_analysis_of_airline_data_set_spark.operators import graph

    rows = []
    deg = 5
    for n_nodes in _GRAPH_NODES:
        edges = (
            spark.range(n_nodes * deg)
            .select(
                (F.col("id") % n_nodes).alias("src"),
                F.pmod(F.xxhash64("id"), F.lit(n_nodes)).alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
        )
        for regime, bc_max in (("broadcast", 10**9), ("sort-merge", 0)):
            walls = []
            agg = None
            saved, graph._BC_NODES_MAX = graph._BC_NODES_MAX, bc_max
            try:
                for _ in range(2):
                    spark.catalog.clearCache()
                    t0 = time.time()
                    with graph.pagerank(edges, iterations=5) as ranks:
                        agg = ranks.agg(
                            F.count("*").alias("n"),
                            F.round(F.sum("rank"), 6).alias("s"),
                        ).first()
                    walls.append(round(time.time() - t0, 1))
            finally:
                graph._BC_NODES_MAX = saved
            rows.append(
                {
                    "n_nodes": n_nodes,
                    "avg_degree": deg,
                    "regime": regime,
                    "ranked_nodes": agg.n,
                    "rank_sum": float(agg.s),
                    "wall_s": walls,
                }
            )
            print("graph", rows[-1], flush=True)
    return rows


def _relational_xn(spark, out_dir: str, n_rep: int) -> None:
    """Derived fact-growth rung for the relational family: lineitem and
    orders replicated ``n_rep``× with orderkeys shifted per replica
    (the order→lineitem FK and per-order line groups are preserved, so
    Q21's per-(order, supplier) flag table and Q9's order join scale
    linearly in replicas); every other table is symlinked unscaled.
    This is the fixed-dims fact-growth regime (events accumulating over
    time) — dim-join selectivity per fact row is unchanged, exactly as
    TPC-H keeps lineitems-per-part constant across SF. n_rep=1 is a
    pure rewrite of sf0.1 through the same writer, so both rungs share
    layout and provenance and the exponent isolates data volume."""
    from pyspark.sql import functions as F

    if os.path.exists(out_dir):
        return
    # Temp-dir + atomic rename: same partial-corpus guard as
    # _events_xn (round-12 advice).
    tmp_dir = out_dir + ".building"
    if os.path.exists(tmp_dir):
        shutil.rmtree(tmp_dir)
    os.makedirs(tmp_dir)
    orders = spark.read.parquet(os.path.join(SF1, "orders.parquet"))
    li = spark.read.parquet(os.path.join(SF1, "lineitem.parquet"))
    span = orders.agg(F.max("o_orderkey")).first()[0] + 1
    rep = F.explode(F.sequence(F.lit(0), F.lit(n_rep - 1))).alias("_r")
    (
        orders.select("*", rep)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.col("_r") * span)
        .drop("_r")
        .write.parquet(os.path.join(tmp_dir, "orders.parquet"))
    )
    (
        li.select("*", rep)
        .withColumn("l_orderkey", F.col("l_orderkey") + F.col("_r") * span)
        .drop("_r")
        .write.parquet(os.path.join(tmp_dir, "lineitem.parquet"))
    )
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "events", "documents", "embeddings",
    ):
        src = os.path.join(SF1, f"{t}.parquet")
        if os.path.exists(src):
            os.symlink(src, os.path.join(tmp_dir, f"{t}.parquet"))
    os.rename(tmp_dir, out_dir)


_REL_QUERIES = [
    "tpch_q9_style",
    "tpch_q21_style",
    "join_bloom_prefiltered",
    "join_heavy_hitters_cm",  # r11: scalar-subquery probe rewrite
    "ri_orphans",
    "sink_partitioned_roundtrip",
]


def stress_relational(spark) -> list[dict]:
    """r9 verdict item 2: extend the measured-scale-evidence standard
    to the relational side — the 5 most expensive relational catalog
    queries timed at 1× and 10× fact volume on the derived rungs
    (_relational_xn), wall-vs-rows exponent = log10(t10/t1). Protocol:
    3 reps per (rung, query), median reported; rep 1 carries the
    per-sf_dir session-cache builds (bloom filter, CMS) and JIT —
    those builds are not query work by the catalog's own contract, so
    the exponent reads the median. No clearCache: none of these
    queries persists Spark-cached state across calls (Q21's lazy
    localCheckpoint is per-call), so reps are honest re-executions.

    SPARK_GRAFT_REL_RUNGS extends the ladder (r11 verdict stretch 7):
    e.g. ``x1,x10,x100`` adds a 60M-lineitem-row decade (~1 GB
    parquet, well inside the sandbox) — same derived-corpus recipe,
    same queries, one decade more of exponent evidence."""
    from big_data_analysis_of_airline_data_set_spark.plans import all_queries

    rung_names = os.environ.get("SPARK_GRAFT_REL_RUNGS", "x1,x10").split(",")
    q = all_queries()
    rows = []
    for rung, n_rep in ((r, int(r.lstrip("x"))) for r in rung_names):
        d = os.path.join(STRESS_DIR, f"relational_{rung}")
        _relational_xn(spark, d, n_rep)
        li_rows = spark.read.parquet(os.path.join(d, "lineitem.parquet")).count()
        for name in _REL_QUERIES:
            walls, out_rows = [], None
            for _ in range(3):
                t0 = time.time()
                out_rows = len(q[name].fn(spark, d).collect())
                walls.append(round(time.time() - t0, 2))
            rows.append(
                {
                    "rung": rung,
                    "lineitem_rows": li_rows,
                    "query": name,
                    "out_rows": out_rows,
                    "wall_s": walls,
                    "median_s": sorted(walls)[1],
                }
            )
            print("relational", rows[-1], flush=True)
    return rows


def stress_text(spark) -> list[dict]:
    """r9 verdict item 7 (stretch): the two text operators with
    join-shaped plans whose candidate growth was never measured.

    - curation_contamination: training-shingle stream ⋈ broadcast
      (distinct bench shingles). The numbers that must stay in regime:
      the BROADCAST side (bench shingle set — must stay under the
      broadcast threshold; it grows with the benchmark, not the
      corpus) and the join's matched postings (hit rows — grows with
      training volume × hit rate).
    - text_inverted_index: posexplode postings stream → df ranking →
      semi-join → per-token sort-agg. The bound that must hold: the
      per-token collect_list is the token's corpus frequency (top-df
      postings), linear in corpus size; everything before it is
      hash-agg.

    Both measured on the documents (sf0.1, 5k docs) vs documents_x10
    (50k synthetic docs, same vocabulary) rungs through the CATALOG
    queries themselves (a per-rung dir symlinks the corpus as
    documents.parquet), 2 reps, plus the structural counts computed
    once per rung from the same expressions."""
    from pyspark.sql import functions as F

    from big_data_analysis_of_airline_data_set_spark.curation.contamination import (
        _hashed_shingles,
    )
    from big_data_analysis_of_airline_data_set_spark.plans import all_queries
    from big_data_analysis_of_airline_data_set_spark.plans.curation_queries import (
        _BENCH_MOD,
        _CONTAM_N,
    )
    from big_data_analysis_of_airline_data_set_spark.text.analysis import tokens_col

    q = all_queries()
    rows = []
    for rung, src in (
        ("x1", os.path.join(SF1, "documents.parquet")),
        ("x10", os.path.join(STRESS_DIR, "documents_x10.parquet")),
    ):
        d = os.path.join(STRESS_DIR, f"text_{rung}")
        if not os.path.exists(d):
            os.makedirs(d)
            if rung == "x1":
                os.symlink(src, os.path.join(d, "documents.parquet"))
            else:
                # the minhash-suite corpus carries only (doc_id, text);
                # the catalog reader aligns to the full documents
                # schema, so pad the derived columns deterministically
                (
                    spark.read.parquet(src)
                    .withColumn("lang", F.lit("en"))
                    .withColumn(
                        "source",
                        F.concat(
                            F.lit("synth"), (F.col("doc_id") % 5).cast("string")
                        ),
                    )
                    .withColumn("n_chars", F.length("text").cast("long"))
                    .write.parquet(os.path.join(d, "documents.parquet"))
                )
        docs = spark.read.parquet(src)
        n_docs = docs.count()
        sh = docs.select(
            (F.col("doc_id") % _BENCH_MOD == 0).alias("bench"),
            F.explode(
                _hashed_shingles(F.col("text"), _CONTAM_N)
            ).alias("h"),
        )
        bench_distinct = sh.filter("bench").select("h").distinct().count()
        train_postings = sh.filter("NOT bench").count()
        toks = docs.select(F.explode(tokens_col(F.col("text"))).alias("t"))
        total_postings = toks.count()
        distinct_tokens = toks.distinct().count()
        for name in ("curation_contamination", "text_inverted_index"):
            walls, agg = [], None
            for _ in range(2):
                t0 = time.time()
                out = q[name].fn(spark, d)
                if name == "curation_contamination":
                    agg = out.agg(
                        F.sum("n_hits").alias("hit_rows"),
                        F.sum(F.col("contaminated").cast("long")).alias(
                            "contaminated_docs"
                        ),
                    ).first()
                else:
                    agg = out.agg(F.sum("n_postings").alias("topk_postings")).first()
                walls.append(round(time.time() - t0, 2))
            counts = (
                {
                    "bench_distinct_shingles": bench_distinct,
                    "train_shingle_postings": train_postings,
                    "hit_rows": int(agg.hit_rows),
                    "contaminated_docs": int(agg.contaminated_docs),
                }
                if name == "curation_contamination"
                else {
                    "total_postings": total_postings,
                    "distinct_tokens": distinct_tokens,
                    "topk_postings": int(agg.topk_postings),
                }
            )
            rows.append(
                {"rung": rung, "n_docs": n_docs, "query": name,
                 "wall_s": walls, **counts}
            )
            print("text", rows[-1], flush=True)
    return rows


def _events_xn(spark, out_dir: str, n_rep: int) -> None:
    """Derived event-volume rung: events replicated ``n_rep``× with
    user_id and event_id SHIFTED per replica (user_id + r·2000,
    event_id + r·100000 — both beyond the sf0.1 key ranges), timestamps
    UNCHANGED. Same time range at n× row density is the streaming
    risk regime: every watermark horizon holds n× rows, so join/session
    state must grow n× while matched output grows LINEARLY (shifted
    keys mean replicas never join each other — unshifted replication
    would square the matches and measure the corpus, not the state
    store). Other tables symlinked unscaled; n_rep=1 is a rewrite of
    sf0.1 through the same writer (shared layout + provenance)."""
    from pyspark.sql import functions as F

    if os.path.exists(out_dir):
        return
    # Build in a sibling temp dir and os.rename into place so a
    # crashed previous run can never leave a partial events.parquet
    # that later rungs silently reuse (round-12 advice) — the rename
    # is atomic on the same filesystem and out_dir only ever exists
    # complete.
    tmp_dir = out_dir + ".building"
    if os.path.exists(tmp_dir):
        shutil.rmtree(tmp_dir)
    os.makedirs(tmp_dir)
    ev = spark.read.parquet(os.path.join(SF1, "events.parquet"))
    rep = F.explode(F.sequence(F.lit(0), F.lit(n_rep - 1))).alias("_r")
    (
        ev.select("*", rep)
        .withColumn("user_id", F.col("user_id") + F.col("_r") * 2_000)
        .withColumn("event_id", F.col("event_id") + F.col("_r") * 100_000)
        .drop("_r")
        .write.parquet(os.path.join(tmp_dir, "events.parquet"))
    )
    for t in (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings",
    ):
        src = os.path.join(SF1, f"{t}.parquet")
        if os.path.exists(src):
            os.symlink(src, os.path.join(tmp_dir, f"{t}.parquet"))
    os.rename(tmp_dir, out_dir)


_STREAM_QUERIES = [
    # query name -> the memory-sink name its drain registers
    ("events_interval_join_stream", "events_interval_join_stream"),
    ("events_session_stream", "events_session_stream"),
    ("events_spacesaving_stream", "events_spacesaving_stream"),
]


def stress_streaming(spark) -> list[dict]:
    """r10 verdict item 3: the streaming drains were the last family
    with no measured ×10 growth evidence — the stream-stream join's
    state store is the named 100× risk. Times the three state-heaviest
    streaming catalog entries at 1× and 10× event volume (same time
    range, n× density — see _events_xn) and reads the state-store
    peak (max numRowsTotal across micro-batches) from the drain's
    recorded progress (streaming.jobs.LAST_PROGRESS). 3 reps; the
    reported wall is the MEDIAN OF THE LAST TWO (rep 1 carries the
    one-time event landing for the rung dir plus JIT)."""
    from big_data_analysis_of_airline_data_set_spark.plans import all_queries
    from big_data_analysis_of_airline_data_set_spark.streaming import jobs

    q = all_queries()
    rows = []
    # default rungs x1/x10; SPARK_GRAFT_STREAM_RUNGS="x1,x10,x100"
    # adds the literal 100x tier (10M events, ~10M session-state rows)
    rungs = [
        (r, int(r[1:]))
        for r in os.environ.get("SPARK_GRAFT_STREAM_RUNGS", "x1,x10").split(",")
    ]
    for rung, n_rep in rungs:
        d = os.path.join(STRESS_DIR, f"events_{rung}")
        _events_xn(spark, d, n_rep)
        ev_rows = spark.read.parquet(os.path.join(d, "events.parquet")).count()
        for name, sink in _STREAM_QUERIES:
            walls, out_rows, state_peak, batches = [], None, None, None
            for _ in range(3):
                t0 = time.time()
                out_rows = q[name].fn(spark, d).count()
                walls.append(round(time.time() - t0, 2))
                progress = jobs.LAST_PROGRESS.get(sink, [])
                batches = len(progress)
                state_peak = max(
                    (
                        op.get("numRowsTotal", 0)
                        for p in progress
                        for op in p.get("stateOperators", [])
                    ),
                    default=None,
                )
            rows.append(
                {
                    "rung": rung,
                    "events_rows": ev_rows,
                    "query": name,
                    "out_rows": out_rows,
                    "state_rows_peak": state_peak,
                    "micro_batches": batches,
                    "wall_s": walls,
                    "warm_s": round(sum(sorted(walls[1:])[:2]) / 2, 2),
                }
            )
            print("streaming", rows[-1], flush=True)
    return rows


def _graph_corpus(spark, name: str, rung: str, n_rep: int, build_x1) -> str:
    """Derived edge-volume rung for the iterative-graph family: the
    catalog's OWN edge set (build_x1) replicated ``n_rep``× with node
    ids suffixed per replica ('<node>#<r>') — replicas are DISJOINT
    subgraphs, so every global property (degree distribution, peel
    depth, PageRank convergence rate, BFS levels) is preserved per
    replica and total work must grow LINEARLY in replicas; suffixing
    at n_rep=1 too keeps both rungs on the same layout/provenance.
    Disjointness is the point: a replication that let replicas
    interact would change graph STRUCTURE (density, diameter) and
    measure the corpus, not the operator — the _events_xn key-shift
    principle applied to graphs. NOTE the ×10 node count crossing
    operators/graph.py:_BC_NODES_MAX (200k) for the part→supplier
    graph is intentional — the rung exercises both sides of the
    broadcast gate."""
    from pyspark.sql import functions as F

    out = os.path.join(STRESS_DIR, f"graph_{name}_{rung}.parquet")
    if _parquet_complete(out):
        return out
    df = build_x1()
    cols = df.columns
    rep = F.explode(F.sequence(F.lit(0), F.lit(n_rep - 1))).alias("_r")
    out_df = df.select("*", rep).select(
        *[
            F.concat(F.col(c).cast("string"), F.lit("#"), F.col("_r")).alias(c)
            for c in cols
        ]
    )
    out_df.write.parquet(out)
    return out


def stress_graph_family(spark) -> list[dict]:
    """r11 verdict item 2: extend the ×10 growth-rung standard to the
    iterative graph family — the last family with no measured scale
    rung (graph_pagerank_converged is the slowest catalog entry).
    Times the five catalog graph operators at 1× and 10× edge volume
    on derived rungs of the catalog's own graphs; 3 reps, median.
    Records per-op iteration counts (stopped_at / peel rounds are the
    wall multiplier) and node/edge counts so the exponent separates
    per-iteration cost from iteration count. Rep 1 absorbs JIT and
    the per-run persist builds; the median reads reps 2-3."""
    import math

    from pyspark.sql import functions as F

    from big_data_analysis_of_airline_data_set_spark.operators.graph import (
        bfs_distances,
        k_core,
        label_propagation,
        orient_by_degree,
        pagerank_converged,
        triangle_counts,
    )
    from big_data_analysis_of_airline_data_set_spark.plans.graph_queries import (
        _co_supplier_edges,
        _trading_edges,
        part_supplier_edges,
    )

    def ps_edges():
        return part_supplier_edges(
            spark.read.parquet(os.path.join(SF1, "lineitem.parquet"))
        )

    def co50():
        return _co_supplier_edges(spark, SF1, 0.5)[0]

    def co90():
        return _co_supplier_edges(spark, SF1, 0.9)[0]

    def trade():
        return _trading_edges(spark, SF1)

    def trade_seeds():
        s = spark.read.parquet(os.path.join(SF1, "supplier.parquet"))
        return s.filter(F.col("s_nationkey") == 0).select(
            F.concat(F.lit("s:"), F.col("s_suppkey").cast("string")).alias(
                "vertex"
            )
        )

    rows = []
    for rung, n_rep in (("x1", 1), ("x10", 10)):
        paths = {
            name: _graph_corpus(spark, name, rung, n_rep, fn)
            for name, fn in (
                ("ps", ps_edges),
                ("co50", co50),
                ("co90", co90),
                ("trade", trade),
                ("seeds", trade_seeds),
            )
        }

        def rd(name):
            return spark.read.parquet(paths[name])

        counts = {
            name: rd(name).count() for name in ("ps", "co50", "co90", "trade")
        }

        def run(op, fn, **extra_fields):
            walls, extras = [], {}
            for _ in range(3):
                t0 = time.time()
                extras = fn() or {}
                walls.append(round(time.time() - t0, 2))
            rows.append(
                {
                    "rung": rung,
                    "op": op,
                    "wall_s": walls,
                    "median_s": sorted(walls)[1],
                    **extra_fields,
                    **extras,
                }
            )
            print("graph_family", rows[-1], flush=True)

        def pr():
            with pagerank_converged(
                rd("ps"), max_iterations=10, tol=0.4
            ) as (ranks, stopped):
                n = ranks.count()
            return {"stopped_at": stopped, "n_nodes": n}

        run("pagerank_converged", pr, n_edges=counts["ps"])

        def kc():
            e = rd("co50")
            sym = e.union(
                e.select(F.col("v").alias("u"), F.col("u").alias("v"))
            ).persist()
            med = (
                sym.groupBy("u")
                .agg(F.count(F.lit(1)).alias("n"))
                .agg(F.expr("percentile(n, 0.5)"))
                .first()[0]
            )
            k = int(math.floor(0.6 * float(med))) + 1
            try:
                core = k_core(
                    sym, k=k, u="u", v="v", max_rounds=12, symmetric=True
                )
                n = core.count()
            finally:
                sym.unpersist()
            return {"k": k, "core_rows": n}

        run("k_core", kc, n_edges=counts["co50"])

        def lpa():
            labels = label_propagation(rd("co50"), rounds=3)
            return {"label_rows": labels.count()}

        run("label_propagation", lpa, n_edges=counts["co50"])

        def bfs():
            dist = bfs_distances(rd("trade"), rd("seeds"), max_hops=6)
            return {"dist_rows": dist.count()}

        run("bfs_distances", bfs, n_edges=counts["trade"])

        def tri():
            e = orient_by_degree(rd("co90"), u="u", v="v").persist()
            per_vertex = triangle_counts(e, u="s", v="t", oriented=True)
            total = per_vertex.agg(
                (F.sum("n_triangles") / 3).cast("long")
            ).first()[0]
            e.unpersist()
            return {"n_triangles": int(total or 0)}

        run("triangles", tri, n_edges=counts["co90"])
    return rows


def main() -> None:
    import sys

    from big_data_analysis_of_airline_data_set_spark.session import get_session

    suites = sys.argv[1:] or [
        "minhash", "ivf", "fuzzy", "simhash", "ngram", "emb_lsh", "graph",
        "graph_family", "relational", "text", "streaming",
    ]
    spark = get_session()
    os.makedirs(STRESS_DIR, exist_ok=True)
    report = {}
    if "minhash" in suites:
        _docs_x10(spark, os.path.join(STRESS_DIR, "documents_x10.parquet"))
        report["minhash"] = stress_minhash(spark)
    if "ivf" in suites:
        _embeddings_x10(spark, os.path.join(STRESS_DIR, "embeddings_x10.parquet"))
        report["ivf"] = stress_ivf(spark)
    if "fuzzy" in suites:
        _names_synth(spark, os.path.join(STRESS_DIR, "names_20k.parquet"), 20_000)
        _codes_synth(spark, os.path.join(STRESS_DIR, "codes_20k.parquet"), 20_000)
        _codes_synth(spark, os.path.join(STRESS_DIR, "codes_200k.parquet"), 200_000)
        report["fuzzy"] = stress_fuzzy(spark)
    if "simhash" in suites:
        _docs_x10(spark, os.path.join(STRESS_DIR, "documents_x10.parquet"))
        report["simhash"] = stress_simhash(spark)
    if "ngram" in suites:
        _docs_x10(spark, os.path.join(STRESS_DIR, "documents_x10.parquet"))
        report["ngram"] = stress_ngram(spark)
    if "emb_lsh" in suites:
        _embeddings_x10(spark, os.path.join(STRESS_DIR, "embeddings_x10.parquet"))
        report["emb_lsh"] = stress_emb_lsh(spark)
    if "graph" in suites:
        report["graph"] = stress_graph(spark)
    if "graph_family" in suites:
        report["graph_family"] = stress_graph_family(spark)
    if "relational" in suites:
        report["relational"] = stress_relational(spark)
    if "text" in suites:
        _docs_x10(spark, os.path.join(STRESS_DIR, "documents_x10.parquet"))
        report["text"] = stress_text(spark)
    if "streaming" in suites:
        report["streaming"] = stress_streaming(spark)
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
