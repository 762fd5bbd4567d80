"""Beyond-reference op invariants: MinHash recall vs exact Jaccard,
SimHash properties, LSH-ANN recall vs brute force, multimodal stubs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_analysis_of_airline_data_set_spark.dedup import (
    minhash_near_dup_pairs,
    simhash_col,
)
from big_data_analysis_of_airline_data_set_spark.dedup.ngram import jaccard_pairs
from big_data_analysis_of_airline_data_set_spark.multimodal import (
    decode_image,
    extract_fake_features,
    documents_to_assets,
    FEATURE_DIM,
)
from big_data_analysis_of_airline_data_set_spark.plans.content import (
    q_ann_bruteforce,
    q_ann_lsh,
)
from big_data_analysis_of_airline_data_set_spark.sources.readers import read_testdata_table


def test_minhash_finds_exact_jaccard_pairs(spark, sf_dir):
    """LSH candidates must cover most truly-similar pairs (recall), and
    its distance must agree with exact Jaccard on shared pairs."""
    d = read_testdata_table(spark, sf_dir, "documents")
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(
            d, id_col="doc_id", text_col="text", threshold=0.5, length_col="n_chars"
        ).collect()
    }
    approx = {
        (r.id_a, r.id_b): 1.0 - r.jaccard_distance
        for r in minhash_near_dup_pairs(
            d, id_col="doc_id", text_col="text", threshold=0.5
        ).collect()
    }
    if exact:
        found = sum(1 for k in exact if k in approx)
        assert found / len(exact) >= 0.8, f"recall {found}/{len(exact)}"
        for k in exact.keys() & approx.keys():
            assert abs(exact[k] - approx[k]) < 1e-4
    else:
        pytest.skip("no exact near-dup pairs at this sf")


def test_simhash_properties(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),   # identical
        (3, "completely different words entirely unrelated content here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hashes = {r.doc_id: r.simhash for r in simhash_col(df, id_col="doc_id", text_col="text").collect()}
    assert hashes[1] == hashes[2]
    assert hashes[1] != hashes[3]


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    exact_ids = {r.id for r in q_ann_bruteforce(spark, sf_dir).collect()}
    approx_ids = {r.id for r in q_ann_lsh(spark, sf_dir).collect()}
    assert len(exact_ids) == 10
    recall = len(exact_ids & approx_ids) / 10
    assert recall >= 0.6, f"ANN recall@10 = {recall}"


def test_ann_ivf_recall_vs_bruteforce(spark, sf_dir):
    from big_data_analysis_of_airline_data_set_spark.plans.content import q_ann_ivf

    exact_ids = {r.id for r in q_ann_bruteforce(spark, sf_dir).collect()}
    ivf_ids = {r.id for r in q_ann_ivf(spark, sf_dir).collect()}
    recall = len(exact_ids & ivf_ids) / 10
    # probe ranking aligned with the quantizer's Euclidean assignment
    # score + multi_assign=2 gives 1.0 recall at sf0.001/0.01/0.1 on
    # the near-orthogonal synthetic vectors; floor left at 0.9 for
    # centroid jitter headroom
    assert recall >= 0.9, f"IVF recall@10 = {recall}"


def test_ann_ivf_quantized_stack_recall_vs_bruteforce(spark, sf_dir):
    from big_data_analysis_of_airline_data_set_spark.plans.content import (
        q_ann_ivf_quantized_rerank,
    )

    exact = [(r.id, r.cosine) for r in q_ann_bruteforce(spark, sf_dir).collect()]
    stack = [(r.id, r.cosine) for r in q_ann_ivf_quantized_rerank(spark, sf_dir).collect()]
    # the full stack (IVF pruning -> int8 pool -> exact rerank) is
    # hash-identical to brute force at the catalog operating point
    # (nprobe=8/16 multi_assign=2, 10xk pool — measured: 3xk loses a
    # neighbor by sf0.1); the driver oracle enforces the same equality
    assert stack == exact


def test_pandas_cosine_equals_jvm_cosine(spark, sf_dir):
    from big_data_analysis_of_airline_data_set_spark.plans.content import (
        q_ann_bruteforce_pandas,
    )

    jvm = [(r.id, r.cosine) for r in q_ann_bruteforce(spark, sf_dir).collect()]
    pdu = [(r.id, r.cosine) for r in q_ann_bruteforce_pandas(spark, sf_dir).collect()]
    assert jvm == pdu


def test_embedding_lsh_recall_vs_exact(spark, sf_dir):
    """The recall-boosted 16-band catalog point must beat the 8-band
    dedup_embedding_cosine point (that is what doubling the bands
    buys) and clear a 0.7 floor."""
    from big_data_analysis_of_airline_data_set_spark.dedup import embedding_near_dup_pairs
    from big_data_analysis_of_airline_data_set_spark.plans.content import (
        _NEAR_DUP_COSINE,
        q_dedup_embedding_cosine,
        q_dedup_embedding_lsh,
    )

    e = read_testdata_table(spark, sf_dir, "embeddings")
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(
            e, id_col="vec_id", vec_col="embedding", threshold=_NEAR_DUP_COSINE
        ).collect()
    }
    approx = {(r.id_a, r.id_b) for r in q_dedup_embedding_lsh(spark, sf_dir).collect()}
    assert exact, "expected some exact pairs at this threshold"
    assert approx <= exact  # precision 1.0 (every candidate exact-verified)
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, f"embedding LSH recall = {recall}"
    eight_band = {
        (r.id_a, r.id_b) for r in q_dedup_embedding_cosine(spark, sf_dir).collect()
    }
    assert len(approx) >= len(eight_band), (len(approx), len(eight_band))


def test_mllib_brp_lsh_twin_recall_vs_exact(spark, sf_dir):
    """similarity/lsh.py:lsh_near_dup_pairs — the MLlib
    BucketedRandomProjectionLSH twin of the banded catalog query. Its
    seeded RNG projections are engine-specific (no DuckDB oracle), so
    this recall floor against the exact all-pairs set is its hard
    check; it stays in the library as the MLlib-native alternative."""
    from big_data_analysis_of_airline_data_set_spark.dedup import embedding_near_dup_pairs
    from big_data_analysis_of_airline_data_set_spark.plans.content import _NEAR_DUP_COSINE
    from big_data_analysis_of_airline_data_set_spark.similarity import lsh_near_dup_pairs

    e = read_testdata_table(spark, sf_dir, "embeddings")
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(
            e, id_col="vec_id", vec_col="embedding", threshold=_NEAR_DUP_COSINE
        ).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in lsh_near_dup_pairs(
            e, id_col="vec_id", vec_col="embedding", threshold=_NEAR_DUP_COSINE
        ).collect()
    }
    assert exact
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, f"BRP-LSH twin recall = {recall}"


def test_banded_embedding_pairs_subset_of_exact_with_recall(spark, sf_dir):
    """The catalog's sign-LSH banded query must emit only true pairs
    (every candidate is exact-verified ≥ threshold → precision 1.0)
    and find a solid majority of them despite the testdata's pile-up
    of pairs right at the 0.3 boundary."""
    from big_data_analysis_of_airline_data_set_spark.dedup import embedding_near_dup_pairs
    from big_data_analysis_of_airline_data_set_spark.plans.content import (
        _NEAR_DUP_COSINE,
        q_dedup_embedding_cosine,
    )

    e = read_testdata_table(spark, sf_dir, "embeddings")
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_pairs(
            e, id_col="vec_id", vec_col="embedding", threshold=_NEAR_DUP_COSINE
        ).collect()
    }
    banded = {
        (r.id_a, r.id_b): r.cosine
        for r in q_dedup_embedding_cosine(spark, sf_dir).collect()
    }
    assert exact and banded
    assert set(banded) <= set(exact)  # precision 1.0
    for pair, cos in banded.items():
        assert cos == exact[pair]  # identical exact-verified cosine
    recall = len(banded) / len(exact)
    assert recall >= 0.5, f"banded recall = {recall}"


def test_winnowing_shared_fingerprints_detect_overlap(spark):
    from big_data_analysis_of_airline_data_set_spark.text.analysis import (
        winnowing_fingerprints,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "entirely unrelated content with nothing in common whatsoever here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnowing_fingerprints(df, id_col="doc_id", text_col="text")
    by_doc = {
        r.doc_id: set(r.fps)
        for r in fps.groupBy("doc_id").agg(F.collect_set("fingerprint").alias("fps")).collect()
    }
    assert by_doc[1] == by_doc[2]          # identical docs → identical prints
    assert not (by_doc[1] & by_doc[3])     # disjoint content → disjoint prints


def test_decode_stub_raises(spark):
    # JPEG genuinely needs a codec library; PNG is now dispatched to
    # the real pure-stdlib decoder (bad bytes → loud ValueError)
    with pytest.raises(NotImplementedError):
        decode_image(b"\x00", "image/jpeg")
    with pytest.raises(ValueError, match="signature"):
        decode_image(b"\x00", "image/png")


def test_decode_image_dispatches_png(spark):
    import numpy as np

    from big_data_analysis_of_airline_data_set_spark.multimodal.codecs import (
        encode_png,
    )

    px = (np.arange(6 * 4 * 3) % 256).astype(np.uint8).reshape(6, 4, 3)
    assert np.array_equal(decode_image(encode_png(px), "image/png"), px)


def test_fake_features_shape_and_determinism(spark, sf_dir):
    d = read_testdata_table(spark, sf_dir, "documents").limit(20)
    assets = documents_to_assets(d)
    feats = extract_fake_features(assets).collect()
    assert len(feats) == 20
    for r in feats:
        assert len(r.features) == FEATURE_DIM
        assert abs(sum(r.features) - 1.0) < 1e-3  # normalized histogram
    again = extract_fake_features(documents_to_assets(d)).collect()
    assert sorted((r.asset_id, tuple(r.features)) for r in feats) == sorted(
        (r.asset_id, tuple(r.features)) for r in again
    )


def test_connected_components_transitivity(spark):
    """A-B and B-C edges must cluster {A,B,C} together even though A-C
    was never emitted; D stays a singleton canonical."""
    from big_data_analysis_of_airline_data_set_spark.dedup.components import (
        connected_components,
    )

    nodes = spark.createDataFrame([(1,), (2,), (3,), (4,)], "id long")
    edges = spark.createDataFrame([(2, 3), (1, 2)], "id_a long, id_b long")
    got = {
        r.id: r.cluster_id
        for r in connected_components(nodes, edges, id_col="id").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4}


def test_frame_sampling_shape_and_determinism(spark, sf_dir):
    """1 asset -> <=k frames, evenly spaced, first and last frame always
    included; deterministic across runs."""
    from big_data_analysis_of_airline_data_set_spark.multimodal.assets import (
        FRAME_BYTES,
        documents_to_assets,
        sample_frames,
    )

    d = read_testdata_table(spark, sf_dir, "documents").limit(50)
    frames = sample_frames(documents_to_assets(d), k=4).collect()
    by_asset = {}
    for r in frames:
        by_asset.setdefault(r.asset_id, []).append(r)
    assert len(by_asset) == 50
    for rows in by_asset.values():
        idxs = sorted(r.frame_idx for r in rows)
        n = rows[0].n_frames
        assert 1 <= len(idxs) <= 4
        assert idxs[0] == 0 and idxs[-1] == n - 1  # endpoints always sampled
        assert all(0 <= i < n for i in idxs)
    again = sample_frames(documents_to_assets(d), k=4).collect()
    assert sorted(map(tuple, frames)) == sorted(map(tuple, again))


def test_minhash_band_selectivity_under_hot_shingles(spark):
    """Round-8 regression pin: banded AND-amplification must hold when
    every document shares a few hot shingles. The pre-r8
    Kirsch-Mitzenmacher family (order-preserving h1 + k*h2) let the
    globally-smallest-hash shingle dominate EVERY family's minimum, so
    any two documents sharing that one shingle band-collided — on this
    corpus that floods candidates toward all pairs. With independent
    per-family draws, P(band) = j^r: at j ~ 0.2 and b=8, r=2 the
    expected candidate fraction is ~1-(1-0.04)^8 ~ 0.28, and the
    verified (j >= 0.5) set must be empty."""
    common = "alpha beta gamma delta"  # shared 4-token prefix
    docs = [
        (i, f"{common} u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f u{i}g u{i}h")
        for i in range(80)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    stats: dict = {}
    verified = minhash_near_dup_pairs(
        df, id_col="doc_id", text_col="text", n=3, threshold=0.5,
        stats_out=stats,
    ).count()
    all_pairs = 80 * 79 // 2
    # dominance pathology => candidates -> ~all_pairs; independent
    # families keep the fraction near the j^r expectation (<60% with
    # wide margin; measured ~0.3)
    assert stats["candidate_pairs"] < 0.6 * all_pairs, stats
    assert verified == 0


def test_minhash_repeat_calls_do_not_accumulate_cached_shingles(spark):
    """Each minhash call pins its shingle cache; the NEXT call must
    release the previous pin so a session's cached-block count stays
    flat across repeated calls (round-9 review: the r8 fix released
    only the stats_out path)."""
    from big_data_analysis_of_airline_data_set_spark.dedup.minhash import (
        minhash_near_dup_pairs,
    )

    df = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i} epsilon zeta") for i in range(40)],
        ["doc_id", "text"],
    )

    def n_cached():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    minhash_near_dup_pairs(df, id_col="doc_id", text_col="text").count()
    minhash_near_dup_pairs(df, id_col="doc_id", text_col="text").count()
    after_two = n_cached()
    minhash_near_dup_pairs(df, id_col="doc_id", text_col="text").count()
    minhash_near_dup_pairs(df, id_col="doc_id", text_col="text").count()
    assert n_cached() <= after_two


def test_minhash_pin_reuses_identical_plan_and_swaps_on_new_corpus(spark):
    """Spark caches by CANONICAL PLAN: a repeat call over the same
    corpus shares the previous pin's cache entry, so the pin must KEEP
    that entry (unpersisting it first evicts the cache the new call
    just claimed — measured as a 5× per-call regression, BASELINE.md
    round-9 amendments). A different corpus must swap the pin and
    leave exactly one pinned copy."""
    from big_data_analysis_of_airline_data_set_spark.dedup import minhash as mh

    df1 = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i} epsilon zeta") for i in range(40)],
        ["doc_id", "text"],
    )
    df2 = spark.createDataFrame(
        [(i, f"one two three four {i} five six") for i in range(40)],
        ["doc_id", "text"],
    )

    mh.minhash_near_dup_pairs(df1, id_col="doc_id", text_col="text").count()
    first_pin = mh._SHINGLE_PIN._pinned[-1]
    assert first_pin.storageLevel.useMemory

    mh.minhash_near_dup_pairs(df1, id_col="doc_id", text_col="text").count()
    assert mh._SHINGLE_PIN._pinned[-1] is first_pin  # reused, not evicted
    assert first_pin.storageLevel.useMemory

    mh.minhash_near_dup_pairs(df2, id_col="doc_id", text_col="text").count()
    assert len(mh._SHINGLE_PIN) == 1
    assert mh._SHINGLE_PIN._pinned[-1] is not first_pin

    # stats path releases eagerly THROUGH the pin — no dangling frame
    stats: dict = {}
    mh.minhash_near_dup_pairs(
        df1, id_col="doc_id", text_col="text", stats_out=stats
    ).count()
    assert stats["n_docs"] == 40
    assert len(mh._SHINGLE_PIN) == 0  # released, not left pinned-but-evicted


def test_bigram_perplexity_hand_computed(spark):
    """Tiny corpus, add-one bigram model checked against hand-derived
    bits. Reference slice = doc_id % 10 == 0 → only doc 0.
    doc 0 tokens: a b a b  → bigrams (a,b) x2, (b,a) x1
    c12: (a,b)=2, (b,a)=1; c1: a=2, b=1; V = 2 (distinct tokens {a,b})
    doc 0 bits: (a,b): -log2(3/4) ; (b,a): -log2(2/3) ; (a,b) again
       mean = (2*log2(4/3) + log2(3/2)) / 3
    doc 1 tokens: a c → bigram (a,c) unseen: -log2((0+1)/(2+2)) = 2.0
    doc 2: single token → n_bigrams 0, ppl_bits NULL."""
    import math

    from big_data_analysis_of_airline_data_set_spark.text.perplexity import (
        perplexity_scores,
    )

    df = spark.createDataFrame(
        [(0, "a b a b"), (1, "a c"), (2, "solo")],
        "doc_id int, text string",
    )
    got = {
        r.doc_id: r
        for r in perplexity_scores(
            df, id_col="doc_id", text_col="text", ref_mod=10
        ).collect()
    }
    exp0 = (2 * math.log2(4 / 3) + math.log2(3 / 2)) / 3
    assert got[0].n_bigrams == 3
    assert abs(got[0].ppl_bits - round(exp0, 6)) < 1e-9
    assert got[1].n_bigrams == 1
    assert got[1].ppl_bits == 2.0
    assert got[2].n_bigrams == 0 and got[2].ppl_bits is None


def test_trigram_stupid_backoff_hand_computed(spark):
    """Tiny corpus exercising all THREE backoff levels against
    hand-derived bits. Reference slice = doc_id % 10 == 0 → doc 0.
    doc 0 tokens: a b a b a → trigrams (a,b,a)x2, (b,a,b)x1
      c123: (a,b,a)=2, (b,a,b)=1; c12: (a,b)=2, (b,a)=1
      bigrams: (a,b)x2, (b,a)x2 → c23 keyed (w2,w3); c2: a=2, b=2
      unigrams: a=3, b=2 → V=2, N=5
    doc 0: every trigram matches at top level with S=1 → 0.0 bits
    doc 2: 'a a b' → (a,a,b) unseen; bigram (a,b)=2, history a=2 →
      S = (0.4*2)/2 = 0.4 → bits = -log2(0.4)
    doc 3: 'z z q' → trigram and bigram unseen → add-one floor
      S = ((0.4*0.4)*(0+1))/(5+2) → bits = -log2(0.16/7)
    doc 4: two tokens → n_trigrams 0, sb_bits NULL."""
    import math

    from big_data_analysis_of_airline_data_set_spark.text.perplexity import (
        stupid_backoff_scores,
    )

    df = spark.createDataFrame(
        [(0, "a b a b a"), (2, "a a b"), (3, "z z q"), (4, "a b")],
        "doc_id int, text string",
    )
    got = {
        r.doc_id: r
        for r in stupid_backoff_scores(
            df, id_col="doc_id", text_col="text", ref_mod=10
        ).collect()
    }
    assert got[0].n_trigrams == 3 and got[0].sb_bits == 0.0
    assert got[2].n_trigrams == 1
    assert abs(got[2].sb_bits - round(-math.log2((0.4 * 2) / 2), 6)) < 1e-9
    assert got[3].n_trigrams == 1
    assert abs(
        got[3].sb_bits - round(-math.log2((0.4 * 0.4 * 1) / 7), 6)
    ) < 1e-9
    assert got[4].n_trigrams == 0 and got[4].sb_bits is None
