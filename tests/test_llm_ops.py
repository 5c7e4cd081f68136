"""LLM-data operator self-tests (SURVEY section 5.2 item 5): planted
near-duplicates recovered at known thresholds, similarity sanity, simhash
locality."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from dockerized_data_pipeline_spark.catalog import load_table
from dockerized_data_pipeline_spark.operators.dedup import (
    minhash_neardup_pairs,
    minhash_neardup_pairs_native,
    ngram_containment_ppm,
    ngram_jaccard_pairs_ppm,
    simhash_signatures,
)
from dockerized_data_pipeline_spark.operators.similarity import cosine_topk, lsh_neardup_pairs


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches the "
    "bird fly over the green field near the old barn"
)


def test_minhash_recovers_planted_neardup(spark):
    near = BASE.replace("green", "blue")  # one-token edit = high jaccard
    far = "completely different content about spark query engines and shuffles here"
    df = _docs(spark, [(1, BASE), (2, near), (3, far)])
    pairs = {
        (r.doc_a, r.doc_b)
        for r in minhash_neardup_pairs(df, "doc_id", "text", jaccard_distance_threshold=0.6).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_native_minhash_recovers_planted_neardup(spark):
    near = BASE.replace("green", "blue")
    far = "completely different content about spark query engines and shuffles here"
    df = _docs(spark, [(1, BASE), (2, near), (3, far)])
    pairs = {
        (r.doc_a, r.doc_b): r.est_jaccard_ppm
        for r in minhash_neardup_pairs_native(df, "doc_id", "text").collect()
    }
    assert (1, 2) in pairs
    assert pairs[(1, 2)] >= 300_000
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_verified_neardup_pairs_confirms_and_rejects(spark):
    """LSH->exact composition: the planted near-dup pair survives exact
    verification with its TRUE jaccard (not the minhash estimate), and
    unrelated docs never appear."""
    from dockerized_data_pipeline_spark.operators.dedup import verified_neardup_pairs

    near = BASE.replace("green", "blue")
    far = "completely different content about spark query engines and shuffles here"
    df = _docs(spark, [(1, BASE), (2, near), (3, far)])
    out = {
        (r.doc_a, r.doc_b): r.jaccard_ppm
        for r in verified_neardup_pairs(df, "doc_id", "text").collect()
    }
    assert set(out) == {(1, 2)}
    # exact 3-gram jaccard of the one-token edit: well above the 0.3 gate
    assert out[(1, 2)] >= 300_000


def test_collapse_on_verified_pairs_recovers_planted_clusters(spark):
    """End-to-end x2_neardup_collapse shape: clusters form from verified
    pairs; the canonical (min-id) doc survives, near-copies collapse."""
    from dockerized_data_pipeline_spark.operators.dedup import (
        collapse_neardups,
        verified_neardup_pairs,
    )

    near1 = BASE.replace("green", "blue")
    near2 = BASE.replace("old", "new")
    far = "completely different content about spark query engines and shuffles here"
    df = _docs(spark, [(1, BASE), (2, near1), (3, near2), (9, far)])
    pairs = verified_neardup_pairs(df, "doc_id", "text")
    kept = sorted(r.doc_id for r in collapse_neardups(df, pairs).collect())
    assert kept == [1, 9]


def test_simhash_neardup_pairs_planted(spark):
    """Banded SimHash pair search: the one-token edit lands within hamming
    3 and is found (pigeonhole banding guarantees recall); unrelated text
    is ~32 bits away and excluded."""
    from dockerized_data_pipeline_spark.operators.dedup import simhash_neardup_pairs

    near = BASE.replace("green", "blue")
    far = "completely different content about spark query engines and shuffles here"
    df = _docs(spark, [(1, BASE), (2, near), (3, far)])
    # the one-token edit flips 3 of 64 bits on this fixture (deterministic
    # xxhash64); 4-band pigeonhole at max_hamming=3 must recover it
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_neardup_pairs(df, "doc_id", "text", max_hamming=3).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 3
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_exact_jaccard_planted_pair(spark):
    near = BASE + " extra tail tokens"
    df = _docs(spark, [(1, BASE), (2, near), (3, "unrelated words entirely about nothing shared")])
    out = {(r.doc_a, r.doc_b): r.jaccard_ppm for r in ngram_jaccard_pairs_ppm(df, "doc_id", "text", n=3, threshold_num=1, threshold_den=2).collect()}
    assert (1, 2) in out
    assert out[(1, 2)] > 500_000  # > 0.5 jaccard


def test_kmeans_deterministic_and_converging(spark, sf_dir):
    """Same codebook on repeated runs AND under a different partitioning
    (the decimal-sum + content-addressed-init contract); inertia must not
    increase with more Lloyd iterations; every row lands in a cluster."""
    from dockerized_data_pipeline_spark.catalog import load_table
    from dockerized_data_pipeline_spark.operators import kmeans as KM

    emb = load_table(spark, sf_dir, "embeddings")
    c1 = KM.kmeans_fit(emb, "vec_id", "embedding", k=4, iterations=2)
    c2 = KM.kmeans_fit(emb.repartition(7), "vec_id", "embedding", k=4, iterations=2)
    assert c1 == c2

    sizes = {
        r.cluster_id: (r.n_members, r.sum_sq_dist_fp4)
        for r in KM.kmeans_cluster_sizes(
            emb, "vec_id", "embedding", k=4, iterations=2
        ).collect()
    }
    assert sum(n for n, _ in sizes.values()) == emb.count()

    def inertia(iters):
        rows = KM.kmeans_cluster_sizes(
            emb, "vec_id", "embedding", k=4, iterations=iters
        ).collect()
        return sum(r.sum_sq_dist_fp4 for r in rows)

    assert inertia(3) <= inertia(1)


def test_decontamination_flags_embedded_benchmark(spark):
    """A corpus doc that EMBEDS a benchmark item verbatim must score
    containment 1.0 (1e6 ppm) against it even though the corpus doc is
    much longer; unrelated docs must not be flagged."""
    bench = _docs(spark, [(100, "alpha beta gamma delta epsilon zeta")])
    contaminated = "prefix words here " + "alpha beta gamma delta epsilon zeta" + " suffix trailer"
    clean = "totally unrelated content about distributed joins and shuffles today"
    corpus = _docs(spark, [(1, contaminated), (2, clean)])
    rows = ngram_containment_ppm(
        corpus, bench, "doc_id", "text", n=4, threshold_num=1, threshold_den=2
    ).collect()
    flagged = {(r.corpus_doc, r.bench_doc): r.containment_ppm for r in rows}
    assert flagged == {(1, 100): 1000000}


def test_decontamination_benchmark_side_broadcasts(spark):
    """The eval-set side must broadcast: no shuffle of corpus shingles."""
    bench = _docs(spark, [(100, "alpha beta gamma delta epsilon zeta")])
    corpus = _docs(spark, [(1, "alpha beta gamma delta epsilon zeta eta")])
    plan = ngram_containment_ppm(
        corpus, bench, "doc_id", "text"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_simhash_locality(spark):
    near = BASE.replace("green", "blue")
    far = "totally disjoint vocabulary set describing databases and optimizers"
    sigs = {
        r.doc_id: r.simhash
        for r in simhash_signatures(_docs(spark, [(1, BASE), (2, near), (3, far)]), "doc_id", "text").collect()
    }

    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert hamming(sigs[1], sigs[2]) < hamming(sigs[1], sigs[3])


def test_cosine_topk_self_is_first(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    probe = list(emb.filter(F.col("vec_id") == 7).select("embedding").first()[0])
    top = cosine_topk(emb, probe, k=5).collect()
    assert top[0].vec_id == 7
    assert float(top[0].cos_sim) == 1.0
    sims = [float(r.cos_sim) for r in top]
    assert sims == sorted(sims, reverse=True)


def test_ivf_topk_recall_vs_exact(spark, sf_dir):
    from dockerized_data_pipeline_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    probe = list(emb.filter(F.col("vec_id") == 7).select("embedding").first()[0])
    cents = [
        list(r[0])
        for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").select("embedding").collect()
    ]
    exact_ids = [r.vec_id for r in cosine_topk(emb, probe, k=10).collect()]
    # full probe = exact
    all_probe = [r.vec_id for r in ivf_topk(emb, probe, cents, k=10, n_probe=8).collect()]
    assert all_probe == exact_ids
    # partial probe: the query's own vector (cluster 7, similarity 1.0) found
    partial = [r.vec_id for r in ivf_topk(emb, probe, cents, k=10, n_probe=2).collect()]
    assert partial[0] == 7
    assert len(set(partial) & set(exact_ids)) >= 3  # reasonable recall


def test_ivf_trained_codebook_integrates(spark, sf_dir):
    """The kmeans_fit -> ivf_topk pairing: every vector lands in one of
    the k trained lists (complete pruning partition), and recall at a
    3-of-8 probe budget clears a floor. (Lloyd monotonicity and
    partition-invariance of the training itself are asserted in
    test_kmeans_deterministic_and_converging.)"""
    from dockerized_data_pipeline_spark.operators import kmeans as KM
    from dockerized_data_pipeline_spark.operators.similarity import (
        ivf_assignments,
        ivf_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    probe = list(emb.filter(F.col("vec_id") == 7).select("embedding").first()[0])
    exact_ids = {r.vec_id for r in cosine_topk(emb, probe, k=10).collect()}
    trained = KM.kmeans_fit(emb, "vec_id", "embedding", k=8, iterations=2)
    sizes = ivf_assignments(emb, trained).groupBy("cluster_id").count().collect()
    assert sum(r["count"] for r in sizes) == emb.count()
    assert all(0 <= r.cluster_id < 8 for r in sizes)
    trained_hits = len(
        {r.vec_id for r in ivf_topk(emb, probe, trained, k=10, n_probe=3).collect()}
        & exact_ids
    )
    assert trained_hits >= 5


def test_lsh_neardup_finds_duplicated_vector(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    clone = emb.filter(F.col("vec_id") == 3).withColumn("vec_id", F.lit(100003).cast("long"))
    pairs = lsh_neardup_pairs(emb.unionByName(clone), threshold_euclidean=0.1)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (3, 100003) in found


def test_lsh_neardup_recall_vs_exact_baseline(spark, sf_dir):
    """Planted-neighbor recall self-check for the registered scale path
    (x3_lsh_neardup_pairs): every pair the exact quadratic baseline finds
    at the same effective threshold must be recovered by the LSH bucket
    join when near-duplicates are planted."""
    from dockerized_data_pipeline_spark.operators.similarity import (
        cosine_neardup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # plant 5 exact clones (cosine 1.0 with their source; distance 0)
    clones = emb.filter(F.col("vec_id") < 5).withColumn(
        "vec_id", (F.col("vec_id") + F.lit(100000)).cast("long")
    )
    corpus = emb.unionByName(clones)
    # euclidean 0.9 on unit vectors ~= cosine 1 - 0.81/2 = 0.595
    approx = {
        (r.id_a, r.id_b)
        for r in lsh_neardup_pairs(
            corpus, threshold_euclidean=0.9, num_hash_tables=8
        ).collect()
    }
    exact = {
        (r.id_a, r.id_b)
        for r in cosine_neardup_pairs(corpus, threshold=0.9).collect()
    }
    assert exact, "planted clones must register as exact near-dups"
    recall = len(exact & approx) / len(exact)
    assert recall == 1.0  # identical vectors always share every bucket


def test_brp_capped_finds_clones_and_caps_hot_buckets(spark, sf_dir):
    """The native capped BRP path (r11): planted exact clones are always
    recovered (identical vectors share every bucket regardless of bucket
    width), and the hot-bucket cap provably removes band rows -- the
    bounded-cost behavior pyspark.ml's approxSimilarityJoin lacks."""
    from dockerized_data_pipeline_spark.operators.dedup import _drop_hot_buckets
    from dockerized_data_pipeline_spark.operators.similarity import (
        brp_bucket_table,
        brp_neardup_pairs_capped,
    )
    from dockerized_data_pipeline_spark.plans.mllsh import UNIT_VECTORS

    emb = load_table(spark, sf_dir, "embeddings")
    clones = emb.filter(F.col("vec_id") < 5).withColumn(
        "vec_id", (F.col("vec_id") + F.lit(100000)).cast("long")
    )
    corpus = emb.unionByName(clones)
    found = {
        (r.id_a, r.id_b)
        for r in brp_neardup_pairs_capped(
            corpus, threshold_euclidean=0.1, max_bucket_size=1000
        ).collect()
    }
    assert {(i, i + 100000) for i in range(5)} <= found
    # cap drops rows: with a tiny cap, the kept band table is strictly
    # smaller and no surviving bucket exceeds the cap
    banded = brp_bucket_table(corpus, UNIT_VECTORS, 0.02)
    kept = _drop_hot_buckets(banded, 3)
    assert kept.count() < banded.count()
    assert (
        kept.groupBy("band", "sig").count().filter(F.col("count") > 3).count() == 0
    )
    # exact clones score cos_sim_approx 1.0 (distance 0)
    scored = {
        (r.id_a, r.id_b): float(r.cos_sim_approx)
        for r in brp_neardup_pairs_capped(
            corpus, threshold_euclidean=0.1, max_bucket_size=1000
        ).collect()
    }
    assert all(abs(v - 1.0) < 1e-9 for k, v in scored.items() if k[1] - k[0] == 100000)


def test_repetition_metrics_manual_values(spark):
    from dockerized_data_pipeline_spark.operators.quality import repetition_metrics

    df = _docs(spark, [(1, "a a a b"), (2, "x y")])
    rows = {r.doc_id: r for r in repetition_metrics(df).collect()}
    r1 = rows[1]
    assert r1.n_tokens == 4
    assert r1.distinct_token_ppm == 500000  # {a, b} / 4
    assert r1.top_token_ppm == 750000  # 'a' x3 / 4
    assert r1.top_bigram_ppm == 666666  # 'a a' x2 / 3 bigrams, floored
    r2 = rows[2]
    assert r2.n_tokens == 2
    assert r2.distinct_token_ppm == 1000000
    assert r2.top_bigram_ppm == 1000000  # single bigram 'x y'


def test_pii_detect_and_redact_planted(spark):
    from dockerized_data_pipeline_spark.functions.text import (
        EMAIL_RE,
        IPV4_RE,
        PHONE_RE,
        pii_count,
        pii_redact,
    )

    df = _docs(
        spark,
        [
            (1, "reach me at jane.doe+spam@mail.example.org or 192.168.0.12 ok"),
            (2, "call +1-555-123-4567 or 555 987 6543 today"),
            (3, "nothing sensitive here at all"),
        ],
    )
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            pii_count(F.col("text"), EMAIL_RE).alias("e"),
            pii_count(F.col("text"), IPV4_RE).alias("i"),
            pii_count(F.col("text"), PHONE_RE).alias("p"),
            pii_redact(F.col("text")).alias("red"),
        ).collect()
    }
    assert out[1].e == 1 and out[1].i == 1 and out[1].p == 0
    assert "<EMAIL>" in out[1].red and "<IP>" in out[1].red
    assert "jane" not in out[1].red and "192.168" not in out[1].red
    assert out[2].p == 2 and "<PHONE>" in out[2].red
    assert "4567" not in out[2].red and "6543" not in out[2].red
    assert out[3].e == out[3].i == out[3].p == 0
    assert out[3].red == "nothing sensitive here at all"


def test_embedding_collapse_removes_planted_clone(spark, sf_dir):
    from dockerized_data_pipeline_spark.operators.dedup import collapse_neardups
    from dockerized_data_pipeline_spark.operators.similarity import (
        verified_cosine_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    clone = emb.filter(F.col("vec_id") == 3).withColumn(
        "vec_id", F.lit(100003).cast("long")
    )
    aug = emb.unionByName(clone)
    pairs = verified_cosine_pairs(aug, threshold=0.99).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    # the clone pair must be found (identical vector -> cosine 1.0) and the
    # exact-verification step must score it 1.0
    assert {(r.doc_a, r.doc_b) for r in pairs.collect()} >= {(3, 100003)}
    survivors = {r.vec_id for r in collapse_neardups(aug, pairs, "vec_id").collect()}
    assert 3 in survivors and 100003 not in survivors


def test_pack_sequences_conserves_tokens_and_bounds_fill(spark, sf_dir):
    from dockerized_data_pipeline_spark.plans.registry import QUERIES

    docs = load_table(spark, sf_dir, "documents")
    total = docs.select(
        F.sum(F.size(F.split(F.col("text"), " "))).alias("t")
    ).first().t
    max_doc = docs.select(
        F.max(F.size(F.split(F.col("text"), " "))).alias("m")
    ).first().m
    bins = QUERIES["x8_pack_sequences"](spark, sf_dir).collect()
    assert sum(r.total_tokens for r in bins) == total
    assert sum(r.n_docs for r in bins) == docs.count()
    # sequential fill: a bin only overflows by (at most) its last document
    assert all(r.total_tokens < 2048 + max_doc for r in bins)


def test_repetition_metrics_matches_python_reference(spark):
    from collections import Counter
    from math import floor

    from dockerized_data_pipeline_spark.operators.quality import repetition_metrics

    # fixed corpus of adversarial token streams (all-same, all-distinct,
    # alternating, nested repeats) -- a deterministic stand-in for a
    # hypothesis text strategy, which would respawn a Spark job per example
    docs = [
        (1, "z z z z z z"),
        (2, "a b c d e f g"),
        (3, "p q p q p q p q"),
        (4, "m m n m m n m"),
        (5, "one"),
        (6, "x y y x x x y"),
    ]
    got = {r.doc_id: r for r in repetition_metrics(_docs(spark, docs)).collect()}
    for doc_id, text in docs:
        toks = text.split(" ")
        n = len(toks)
        uni = Counter(toks)
        bgs = Counter(
            f"{a} {b}" for a, b in zip(toks, toks[1:])
        )
        r = got[doc_id]
        assert r.n_tokens == n
        assert r.distinct_token_ppm == floor(len(uni) * 1000000.0 / n)
        assert r.top_token_ppm == floor(max(uni.values()) * 1000000.0 / n)
        top_bg = max(bgs.values()) if bgs else 0
        assert r.top_bigram_ppm == floor(top_bg * 1000000.0 / max(n - 1, 1))


def test_pack_sequences_matches_python_reference(spark, sf_dir):
    from collections import defaultdict
    from math import floor

    from dockerized_data_pipeline_spark.plans.registry import QUERIES

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    bins = defaultdict(lambda: [0, 0])  # (bucket, bin) -> [n_docs, tokens]
    cum = defaultdict(int)
    for r in sorted(docs, key=lambda r: r.doc_id):
        n = len(r.text.split(" "))
        bucket = r.doc_id % 32
        bin_id = floor(cum[bucket] / 2048.0)
        cum[bucket] += n
        bins[(bucket, bin_id)][0] += 1
        bins[(bucket, bin_id)][1] += n
    got = {
        (r.bucket, r.bin_id): (r.n_docs, r.total_tokens)
        for r in QUERIES["x8_pack_sequences"](spark, sf_dir).collect()
    }
    assert got == {k: tuple(v) for k, v in bins.items()}


def test_winnow_guarantee_shared_run_shares_fingerprint(spark):
    # winnowing guarantee: a shared token run of length >= k + w - 1 (= 8
    # for k=5, w=4) must yield at least one shared fingerprint
    from dockerized_data_pipeline_spark.functions.text import winnow_fingerprints

    shared = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens
    df = spark.createDataFrame(
        [
            (1, "prefix one two " + shared + " suffix end"),
            (2, shared + " totally different tail words here"),
            (3, "no overlap with anything else at all whatsoever"),
        ],
        "doc_id long, text string",
    )
    rows = winnow_fingerprints(df, "text", k=5, w=4, out_col="fp").select(
        "doc_id", "fp"
    ).collect()
    fps = {r.doc_id: set(r.fp) for r in rows}
    assert fps[1] & fps[2], "docs sharing an 8-token run must share a fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])


def test_winnow_short_doc_fallback(spark):
    from dockerized_data_pipeline_spark.functions.text import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, "only three tokens"), (2, "a b c d e f")],  # 3 toks: < k; 6 toks: 2 grams < w
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.fp for r in winnow_fingerprints(
        df, "text", k=5, w=4, out_col="fp").select("doc_id", "fp").collect()}
    assert rows[1] == []          # fewer tokens than k -> no k-grams
    assert len(rows[2]) == 2      # fallback: all k-gram hashes kept


def test_decode_media_arrow_equals_pandas_path(spark, sf_dir):
    """mapInArrow twin must produce byte-identical decode output to the
    mapInPandas path."""
    from dockerized_data_pipeline_spark.catalog import load_table
    from dockerized_data_pipeline_spark.functions.multimodal import (
        decode_media,
        decode_media_arrow,
        media_from_documents,
    )

    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    a = {tuple(r) for r in decode_media(media).collect()}
    b = {tuple(r) for r in decode_media_arrow(media).collect()}
    assert a == b and len(a) == 500


def test_ivf_recall_curve_monotone_full_probe_exact(spark, sf_dir):
    from dockerized_data_pipeline_spark import plans

    rows = sorted(
        (r.n_probe, r.recall_ppm)
        for r in plans.QUERIES["x3_ivf_recall_eval"](spark, sf_dir).collect()
    )
    recalls = [r for _, r in rows]
    assert recalls == sorted(recalls), "recall must not drop as n_probe grows"
    assert rows[-1] == (8, 1_000_000), "probing all lists must be exact"


def test_incremental_neardup_against_corpus_index(spark):
    from dockerized_data_pipeline_spark.operators.dedup import (
        incremental_neardup_pairs,
        minhash_neardup_pairs_native,
        minhash_signatures,
    )

    near = BASE.replace("green", "blue")
    batch_twin_a = BASE.replace("barn", "shed") + " tail tokens here"
    batch_twin_b = BASE.replace("barn", "shed") + " tail tokens there"
    novel = "entirely fresh subject matter about streaming watermarks and state stores"
    corpus = _docs(spark, [(1, BASE), (2, "older corpus article about markets and rates " * 3)])
    batch = _docs(spark, [(10, near), (11, batch_twin_a), (12, batch_twin_b), (13, novel)])

    corpus_sig = minhash_signatures(corpus, "doc_id", "text", n=3, num_hashes=16)
    out = incremental_neardup_pairs(corpus_sig, batch, "doc_id", "text").collect()
    typed = {(r.doc_a, r.doc_b): r.pair_type for r in out}

    assert typed.get((1, 10)) == "batch_corpus"  # batch near-copy of corpus doc
    assert typed.get((11, 12)) == "batch_batch"  # dup pair inside the batch
    assert all(not (a <= 2 and b <= 2) for a, b in typed)  # no corpus-corpus recompute
    assert 13 not in {d for p in typed for d in p}  # novel doc pairs with nothing

    # Incremental == full recompute restricted to pairs that touch the batch.
    full = minhash_neardup_pairs_native(corpus.unionByName(batch), "doc_id", "text")
    batch_ids = {10, 11, 12, 13}
    expected = {
        (r.doc_a, r.doc_b): r.est_jaccard_ppm
        for r in full.collect()
        if r.doc_a in batch_ids or r.doc_b in batch_ids
    }
    got = {(r.doc_a, r.doc_b): r.est_jaccard_ppm for r in out}
    assert got == expected


def test_incremental_neardup_rejects_short_index(spark):
    import pytest as _pytest

    from dockerized_data_pipeline_spark.operators.dedup import (
        incremental_neardup_pairs,
        minhash_signatures,
    )

    corpus = _docs(spark, [(1, BASE)])
    sig8 = minhash_signatures(corpus, "doc_id", "text", n=3, num_hashes=8)
    with _pytest.raises(ValueError):
        incremental_neardup_pairs(sig8, corpus, "doc_id", "text")  # needs 16


def test_feature_hash_embed_dense_matches_sparse(spark):
    from dockerized_data_pipeline_spark.operators.hashembed import (
        feature_hash_embed,
        feature_hash_sparse,
    )

    docs = _docs(
        spark,
        [(0, BASE), (1, BASE.replace("green", "blue")), (2, "solo words only here")],
    )
    sparse = {
        (r.doc, r.bucket): r.weight
        for r in feature_hash_sparse(docs, dim=16).collect()
    }
    dense = {r.doc: r.embedding for r in feature_hash_embed(docs, dim=16).collect()}
    for doc, vec in dense.items():
        assert len(vec) == 16
        for b, x in enumerate(vec):
            assert x == float(sparse.get((doc, b), 0))
    # every nonzero sparse entry is represented
    assert all(dense[d][b] == float(w) for (d, b), w in sparse.items())

    # near-identical docs get near-identical vectors; disjoint docs do not
    import math

    def cos(u, v):
        dot = sum(a * b for a, b in zip(u, v))
        return dot / (math.sqrt(sum(a * a for a in u)) * math.sqrt(sum(b * b for b in v)))

    assert cos(dense[0], dense[1]) > 0.9
    assert cos(dense[0], dense[2]) < 0.9


def test_hash_embed_topk_probe_ranks_itself_first(spark, sf_dir):
    from dockerized_data_pipeline_spark.plans.llm import x3_hash_embed_topk

    rows = x3_hash_embed_topk(spark, sf_dir).collect()
    assert rows[0].vec_id == 0  # the probe doc is its own nearest neighbor
    assert float(rows[0].cos_sim) == 1.0


def test_indexed_incremental_neardup_matches_and_reads_bucketed(spark, tmp_path):
    import io
    from contextlib import redirect_stdout

    from dockerized_data_pipeline_spark.operators.dedup import (
        build_neardup_index,
        incremental_neardup_pairs,
        incremental_neardup_pairs_indexed,
        minhash_signatures,
    )

    near = BASE.replace("green", "blue")
    corpus = _docs(
        spark,
        [(1, BASE), (2, "older corpus article about markets and rates " * 3)],
    )
    batch = _docs(spark, [(10, near), (11, "fresh unrelated content about state stores")])
    build_neardup_index(corpus, "nd_idx", str(tmp_path / "nd"), num_buckets=4)
    try:
        got = incremental_neardup_pairs_indexed(spark, "nd_idx", batch, "doc_id", "text")
        buf = io.StringIO()
        with redirect_stdout(buf):
            got.explain("formatted")
        plan = buf.getvalue()
        assert "Bucketed: true" in plan  # corpus index streams from buckets

        want = incremental_neardup_pairs(
            minhash_signatures(corpus, "doc_id", "text", num_hashes=16),
            batch,
            "doc_id",
            "text",
        )
        key = lambda rows: {(r.doc_a, r.doc_b): (r.est_jaccard_ppm, r.pair_type) for r in rows}
        got_rows, want_rows = key(got.collect()), key(want.collect())
        assert got_rows == want_rows
        assert (1, 10) in got_rows
    finally:
        spark.sql("DROP TABLE IF EXISTS nd_idx_bands")
        spark.sql("DROP TABLE IF EXISTS nd_idx_sigs")


def test_feature_hash_embed_zero_vector_docs_survive(spark):
    """ADVICE r2: docs whose signed token counts fully cancel (and docs with
    no tokens at all) must yield a ZERO vector, not silently vanish from the
    dense output (downstream cosine/k-means would lose them)."""
    from dockerized_data_pipeline_spark.operators.hashembed import (
        feature_hash_embed,
        feature_hash_sparse,
    )

    # dim=1: every token lands in bucket 0, so any text whose +1/-1 token
    # signs cancel produces an all-zero doc. md5 sign = parity of 3rd hex
    # char: find two one-token texts with opposite signs.
    import hashlib

    def sign(tok):
        return 1 if int(hashlib.md5(tok.encode()).hexdigest()[2], 16) % 2 == 0 else -1

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    pos = next(w for w in words if sign(w) == 1)
    neg = next(w for w in words if sign(w) == -1)

    # doc 2: null text -> zero tokens (split("") would yield one empty-string
    # token under whitespace tokenization, so null is the true no-token case)
    docs = _docs(spark, [(0, f"{pos} {neg}"), (1, pos), (2, None)])
    assert feature_hash_sparse(docs, dim=1).filter("doc = 0").count() == 0
    dense = {r.doc: r.embedding for r in feature_hash_embed(docs, dim=1).collect()}
    assert set(dense) == {0, 1, 2}  # cancelled + token-less docs still present
    assert dense[0] == [0.0]
    assert dense[2] == [0.0]
    assert dense[1] != [0.0]


def test_wav_codec_roundtrip_real_bytes(spark):
    """The REAL WAV path: wav_media emits genuine RIFF containers (stdlib
    wave can open them independently) and decode_wav recovers the exact
    synthesized PCM."""
    import io
    import wave as wavelib

    import numpy as np

    from dockerized_data_pipeline_spark.functions.multimodal import (
        WAV_RATE,
        _wav_samples,
        decode_wav,
        wav_media,
    )

    ids = spark.createDataFrame([(3,), (64,), (100,)], "doc_id long")
    blobs = {r.media_id: bytes(r.blob) for r in wav_media(ids).collect()}
    # container is real: stdlib wave parses it without our code in the loop
    with wavelib.open(io.BytesIO(blobs[3]), "rb") as w:
        assert (w.getnchannels(), w.getsampwidth(), w.getframerate()) == (1, 2, WAV_RATE)
        assert w.getnframes() == 64 + 3 % 64

    decoded = {r.media_id: r for r in decode_wav(wav_media(ids)).collect()}
    for mid in (3, 64, 100):
        s = _wav_samples(mid).astype(np.int64)
        d = decoded[mid]
        assert d.n_frames == len(s)
        assert d.peak == int(np.abs(s).max())
        assert d.energy == int((s * s).sum())


def test_pgm_codec_roundtrip_real_bytes(spark):
    """The REAL image path: pgm_media emits genuine P5 netpbm files and
    decode_pgm/resize_pgm recover the exact synthesized pixels; the parser
    also handles the format's comment lines."""
    import numpy as np

    from dockerized_data_pipeline_spark.functions.multimodal import (
        _pgm_parse,
        _pgm_pixels,
        decode_pgm,
        pgm_media,
        resize_pgm,
    )

    ids = spark.createDataFrame([(0,), (5,), (17,)], "doc_id long")
    blobs = {r.media_id: bytes(r.blob) for r in pgm_media(ids).collect()}
    assert blobs[5].startswith(b"P5\n")

    decoded = {r.media_id: r for r in decode_pgm(pgm_media(ids)).collect()}
    resized = {r.media_id: r for r in resize_pgm(pgm_media(ids)).collect()}
    for mid in (0, 5, 17):
        px = _pgm_pixels(mid).astype(np.int64)
        d = decoded[mid]
        assert (d.width, d.height) == (px.shape[1], px.shape[0])
        assert d.pixel_sum == int(px.sum())
        assert d.pixel_max == int(px.max())
        r = resized[mid]
        ys = (np.arange(4) * px.shape[0]) // 4
        xs = (np.arange(4) * px.shape[1]) // 4
        assert r.pixel_sum == int(px[np.ix_(ys, xs)].sum())

    # header parse tolerates netpbm comment lines (real-world P5 files)
    w, h, maxval, px = _pgm_parse(b"P5\n# a comment\n3 2\n255\n" + bytes(range(6)))
    assert (w, h, maxval) == (3, 2, 255)
    assert px.tolist() == [[0, 1, 2], [3, 4, 5]]


def test_semantic_dedup_collapses_planted_groups(spark):
    """SemDeDup composition: two planted semantic-duplicate groups in
    well-separated clusters collapse to their minimum ids; singletons and
    sub-threshold neighbors survive."""
    import math

    from dockerized_data_pipeline_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_pairs,
    )

    def vec(axis, eps=0.0):
        # unit vector near one of 3 orthogonal axes, nudged by eps on the next
        v = [0.0] * 8
        v[axis] = 1.0
        v[(axis + 1) % 8] = eps
        n = math.sqrt(1 + eps * eps)
        return [x / n for x in v]

    rows = [
        (0, vec(0)), (1, vec(0, 0.01)), (2, vec(0, 0.02)),   # group -> keep 0
        (10, vec(3)), (11, vec(3, 0.015)),                   # group -> keep 10
        (20, vec(6)),                                        # singleton
        (21, vec(6, 0.5)),                                   # same cluster, cos~0.89 < 0.95
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    survivors = sorted(
        r.vec_id
        for r in semantic_dedup(emb, k=3, iterations=3, threshold=0.95).collect()
    )
    assert survivors == [0, 10, 20, 21]

    # pairs stay within clusters and carry fixed-point scores
    from dockerized_data_pipeline_spark.operators.kmeans import kmeans_fit

    cents = kmeans_fit(emb, "vec_id", "embedding", k=3, iterations=3)
    pairs = semantic_dedup_pairs(emb, cents, threshold=0.95).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(0, 1), (0, 2), (1, 2), (10, 11)}
    assert all(p.cos_fp >= 9500 for p in pairs)


def test_y4m_codec_roundtrip_real_bytes(spark):
    """The .y4m blobs are genuine YUV4MPEG2 streams and the parser does
    real container work: header tokens, FRAME markers (parameter-
    tolerant), plane offsets."""
    import numpy as np

    from dockerized_data_pipeline_spark.functions.multimodal import (
        _y4m_encode,
        _y4m_frame_count,
        _y4m_parse,
        _y4m_planes,
    )

    blob = _y4m_encode(11)
    assert blob.startswith(b"YUV4MPEG2 ")
    w, h, frames = _y4m_parse(blob)
    assert len(frames) == _y4m_frame_count(11)
    for t, (y, u, v) in enumerate(frames):
        ey, eu, ev = _y4m_planes(11, t)
        assert (y == ey).all() and (u == eu).all() and (v == ev).all()

    # frame-level parameters after the FRAME marker must be tolerated
    # (the spec allows e.g. "FRAME Ixyz\n")
    patched = blob.replace(b"FRAME\n", b"FRAME Ix\n", 1)
    w2, h2, frames2 = _y4m_parse(patched)
    assert (frames2[0][0] == frames[0][0]).all()

    import pytest as _pytest

    with _pytest.raises(ValueError):
        _y4m_parse(b"RIFF1234")
    with _pytest.raises(ValueError):
        _y4m_parse(b"YUV4MPEG2 W4 H4 C444\nFRAME\n" + bytes(16))


def test_y4m_frame_sampling_keeps_strided_frames(spark):
    from dockerized_data_pipeline_spark.functions.multimodal import (
        sample_y4m_frames,
        y4m_media,
    )

    ids = spark.createDataFrame([(4,)], "doc_id long")  # 3+4%6 = 7 frames
    rows = sample_y4m_frames(y4m_media(ids), stride=3).collect()
    assert sorted(r.frame_idx for r in rows) == [0, 3, 6]


def test_pgm_parse_raises_on_truncated_input(spark):
    """A cut-off header or payload must raise, never spin: the field scan
    is bounds-checked (b''.isspace() is False, so an unguarded scan past
    the end of the blob would loop forever at 100% CPU)."""
    import pytest as _pytest

    from dockerized_data_pipeline_spark.functions.multimodal import _pgm_parse

    for bad in (
        b"P5\n12",                      # header ends mid-field
        b"P5\n# comment never ends",    # unterminated comment
        b"P5\n3 2",                     # missing maxval
        b"P5\n3 2\n255\n\x00\x01",      # payload shorter than w*h
    ):
        with _pytest.raises(ValueError):
            _pgm_parse(bad)


def test_pgm_parse_rejects_non_8bit_maxval(spark):
    """Only 8-bit P5 is supported (ADVICE r3): a 16-bit file
    (maxval > 255 means 2 bytes/sample) or a malformed maxval <= 0 must
    reject cleanly instead of silently decoding garbage as 8-bit."""
    import pytest as _pytest

    from dockerized_data_pipeline_spark.functions.multimodal import _pgm_parse

    for maxval in (65535, 256, 0, -1):
        blob = f"P5\n2 2\n{maxval}\n".encode() + bytes(8)
        with _pytest.raises(ValueError, match="maxval"):
            _pgm_parse(blob)
    # boundary: maxval 255 and 1 still parse
    for maxval in (255, 1):
        w, h, mv, _ = _pgm_parse(f"P5\n2 2\n{maxval}\n".encode() + bytes(4))
        assert (w, h, mv) == (2, 2, maxval)


def test_png_codec_roundtrip_and_integrity(spark):
    """The PNG blobs are genuine (zlib-deflated, CRC'd chunks, per-row
    filter types 0-4) and the parser does real container work: a flipped
    payload byte breaks the CRC, truncation and bad magic raise, and all
    five filters unfilter to the exact pixels."""
    import pytest as _pytest

    from dockerized_data_pipeline_spark.functions.multimodal import (
        _png_encode,
        _png_parse,
        _png_pixels,
    )

    # id 11 -> height >= 5: every filter type 0..4 appears at least once
    blob = _png_encode(11)
    w, h, depth, px = _png_parse(blob)
    assert depth == 8 and (px == _png_pixels(11)).all()

    with _pytest.raises(ValueError):
        _png_parse(b"GIF89a" + blob[6:])
    with _pytest.raises(ValueError):
        _png_parse(blob[:20])
    corrupted = bytearray(blob)
    corrupted[-10] ^= 0xFF  # inside IEND/IDAT tail -> some chunk CRC breaks
    with _pytest.raises(ValueError):
        _png_parse(bytes(corrupted))


def test_image_ahash_locality_on_planted_copies(spark):
    """Perceptual-hash contract: a lightly-noised copy of an image hashes
    within a few bits; a structurally different image lands far away."""
    import numpy as np

    from dockerized_data_pipeline_spark.functions.multimodal import _ahash_bits

    rng_free_gradient = np.add.outer(
        np.arange(16, dtype=np.int64) * 8, np.arange(16, dtype=np.int64) * 4
    ) % 256
    base = rng_free_gradient.astype(np.uint8)
    noisy = base.astype(np.int64)
    noisy[3, 5] += 2
    noisy[10, 2] -= 1  # tiny perturbations, same structure
    inverted = (255 - base.astype(np.int64)).astype(np.uint8)

    h0 = _ahash_bits(base)
    h1 = _ahash_bits(np.clip(noisy, 0, 255).astype(np.uint8))
    h2 = _ahash_bits(inverted)

    def ham(a, b):
        return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")

    assert ham(h0, h1) <= 2
    assert ham(h0, h2) >= 40  # inversion flips nearly every bit


def test_audio_fingerprint_locality(spark):
    """Fingerprint contract: light noise preserves most bits; a different
    waveform diverges."""
    import numpy as np

    from dockerized_data_pipeline_spark.functions.multimodal import (
        _audio_fp_bits,
        _wav_samples,
    )

    base = _wav_samples(7).astype(np.int64)
    noisy = base + ((np.arange(len(base)) % 3) - 1)  # +-1 LSB dither
    other = _wav_samples(123).astype(np.int64)

    f0 = _audio_fp_bits(base)
    f1 = _audio_fp_bits(noisy)
    f2 = _audio_fp_bits(other)
    assert bin(f0 ^ f1).count("1") <= 2
    assert f0 != f2


def test_png_rejects_dimension_bombs(spark):
    """A tiny CRC-valid blob declaring huge IHDR dims must be rejected
    BEFORE the inflate sizes itself off attacker-controlled w*h."""
    import struct
    import zlib

    import pytest as _pytest

    from dockerized_data_pipeline_spark.functions.multimodal import (
        _PNG_SIG,
        _png_chunk,
        _png_parse,
    )

    ihdr = struct.pack(">IIBBBBB", 50000, 50000, 8, 0, 0, 0, 0)
    bomb = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 1024))
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="too large"):
        _png_parse(bomb)

    # corrupt-but-CRC-valid deflate payload -> clean ValueError, not zlib.error
    small = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    bad = (
        _PNG_SIG
        + _png_chunk(b"IHDR", small)
        + _png_chunk(b"IDAT", b"not deflate data")
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="inflate"):
        _png_parse(bad)


def test_jpeg_codec_roundtrip_and_integrity(spark):
    """The JPEG blobs are genuine baseline JFIF (canonical-Huffman entropy
    coding, byte stuffing, zigzag, DC prediction) and the decoder does
    real container work: exact pixel round-trip incl. non-multiple-of-8
    crop, restart markers, clamp, and clean rejection of bad magic,
    truncation, progressive SOF, 16-bit DQT, and oversized dims."""
    import numpy as np
    import pytest as _pytest

    from dockerized_data_pipeline_spark.functions.multimodal import (
        _jpeg_dims,
        _jpeg_encode,
        _jpeg_encode_blocks,
        _jpeg_parse,
        _jpeg_pixels,
    )

    # exact round-trip across ids covering every dims residue class
    # (16..32 per side -- most are NOT multiples of 8, so edge-block
    # cropping is on the hot path)
    cropped = 0
    for mid in range(0, 40):
        blob = _jpeg_encode(mid)
        w, h, px = _jpeg_parse(blob)
        assert (w, h) == _jpeg_dims(mid)
        if w % 8 or h % 8:
            cropped += 1
        assert np.array_equal(px, _jpeg_pixels(mid)), mid
    assert cropped > 30  # crop genuinely exercised

    # restart intervals: DRI+RSTn present, DC predictor resets, same pixels
    blob_rst = _jpeg_encode(7, restart_interval=2)
    assert b"\xff\xd0" in blob_rst  # RST0 emitted
    _, _, px_rst = _jpeg_parse(blob_rst)
    assert np.array_equal(px_rst, _jpeg_pixels(7))
    # a wrong restart marker number must reject, not desync silently
    bad_rst = blob_rst.replace(b"\xff\xd0", b"\xff\xd3", 1)
    with _pytest.raises(ValueError):
        _jpeg_parse(bad_rst)

    # byte stuffing: this block pair's entropy bits produce a raw 0xFF,
    # which the encoder must stuff (0xFF00) and the decoder must unstuff
    blob_st = _jpeg_encode_blocks([[32, 156]], [[0, 0]], 16, 8)
    assert b"\xff\x00" in blob_st.split(b"\xff\xda", 1)[1]
    _, _, px_st = _jpeg_parse(blob_st)
    assert np.array_equal(
        px_st, np.repeat([[32, 156]], 8, axis=0).repeat(8, axis=1)[:8, :16]
    )

    # clamp path: a crafted out-of-gamut block saturates at 255
    blob_hot = _jpeg_encode_blocks([[250]], [[16]], 8, 8)
    _, _, px_hot = _jpeg_parse(blob_hot)
    assert set(np.unique(px_hot)) == {234, 255}  # 250+16 clamped, 250-16 kept

    # bad magic
    with _pytest.raises(ValueError):
        _jpeg_parse(b"\x89PNG" + bytes(64))

    # truncation at every granularity raises, never spins
    full = _jpeg_encode(3)
    for cut in (2, 4, 10, 30, len(full) // 2, len(full) - 3):
        with _pytest.raises(ValueError):
            _jpeg_parse(full[:cut])

    # progressive SOF2 rejects by name
    prog = full.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with _pytest.raises(ValueError, match="progressive"):
        _jpeg_parse(prog)

    # 16-bit quant tables (Pq=1) reject
    import struct
    qt_at = full.index(b"\xff\xdb") + 4
    sixteen = full[:qt_at] + bytes([0x10]) + full[qt_at + 1 :]
    with _pytest.raises(ValueError, match="16-bit"):
        _jpeg_parse(sixteen)

    # attacker-controlled dims cap (same posture as the PNG guard)
    sof_at = full.index(b"\xff\xc0") + 5
    huge = (
        full[:sof_at]
        + struct.pack(">HH", 50000, 50000)
        + full[sof_at + 4 :]
    )
    with _pytest.raises(ValueError, match="dimensions"):
        _jpeg_parse(huge)


def test_jpeg_decode_query_plan_has_only_id_spread_exchange(spark, sf_dir):
    """decode(jpeg_media(ids)) is two chained Arrow stages over the scan.
    The ONLY exchange is the deliberate round-robin spread of the bare
    int64 id column ahead of the synth stage (catalog.spread_input:
    the single-split fixture otherwise pins every codec to one core);
    blobs themselves never shuffle -- at 100 TB this is embarrassingly
    parallel."""
    from dockerized_data_pipeline_spark.plans.multimodal_queries import (
        x4_jpeg_decode,
    )

    df = x4_jpeg_decode(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # shuffle exchanges only (word-boundary, as plan_report.py counts them);
    # a future BroadcastExchange must not hide inside a bare substring count
    assert len(re.findall(r"\bExchange\b", plan)) == 1
    assert "BroadcastExchange" not in plan
    assert "RoundRobinPartitioning" in plan
    rows = {r.media_id: r for r in df.collect()}
    # spot-check one row against the arithmetic ground truth
    import numpy as np

    from dockerized_data_pipeline_spark.functions.multimodal import _jpeg_pixels

    mid = next(iter(rows))
    want = _jpeg_pixels(mid).astype(np.int64)
    got = rows[mid]
    assert (got.width, got.height) == (want.shape[1], want.shape[0])
    assert got.pixel_sum == int(want.sum())


def test_jpeg_decoder_tolerates_real_world_marker_layouts(spark):
    """Real encoders emit layouts ours does not: COM segments, extra APPn
    blocks, several quant tables packed in one DQT segment, both Huffman
    tables in one DHT segment. The decoder must parse all of them (it is
    table-general, not coupled to our writer's layout)."""
    import struct

    import numpy as np

    from dockerized_data_pipeline_spark.functions.multimodal import (
        _JPEG_AC_SYMBOLS,
        _JPEG_DC_SYMBOLS,
        _jpeg_dht_payload,
        _jpeg_encode,
        _jpeg_parse,
        _jpeg_pixels,
        _jpeg_seg,
    )

    full = _jpeg_encode(11)
    want = _jpeg_pixels(11)

    # 1) insert COM + APP1 (EXIF-style) right after SOI
    extras = _jpeg_seg(0xFE, b"written by spark-graft tests") + _jpeg_seg(
        0xE1, b"Exif\x00\x00" + bytes(10)
    )
    _, _, px = _jpeg_parse(full[:2] + extras + full[2:])
    assert np.array_equal(px, want)

    # 2) two quant tables in ONE DQT segment (table 1 unused by the scan)
    old_dqt = _jpeg_seg(0xDB, bytes([0x00]) + bytes([8] * 64))
    new_dqt = _jpeg_seg(
        0xDB, bytes([0x00]) + bytes([8] * 64) + bytes([0x01]) + bytes([16] * 64)
    )
    assert old_dqt in full
    _, _, px = _jpeg_parse(full.replace(old_dqt, new_dqt, 1))
    assert np.array_equal(px, want)

    # 3) both Huffman tables packed into ONE DHT segment
    dht_dc = _jpeg_seg(0xC4, _jpeg_dht_payload(0x00, _JPEG_DC_SYMBOLS))
    dht_ac = _jpeg_seg(0xC4, _jpeg_dht_payload(0x10, _JPEG_AC_SYMBOLS))
    packed = _jpeg_seg(
        0xC4,
        _jpeg_dht_payload(0x00, _JPEG_DC_SYMBOLS)
        + _jpeg_dht_payload(0x10, _JPEG_AC_SYMBOLS),
    )
    assert dht_dc + dht_ac in full
    _, _, px = _jpeg_parse(full.replace(dht_dc + dht_ac, packed, 1))
    assert np.array_equal(px, want)

    # 4) scan using non-zero table ids (Td=Ta=1, tables declared as id 1)
    blob = full
    blob = blob.replace(
        _jpeg_seg(0xC4, _jpeg_dht_payload(0x00, _JPEG_DC_SYMBOLS)),
        _jpeg_seg(0xC4, _jpeg_dht_payload(0x01, _JPEG_DC_SYMBOLS)),
        1,
    )
    blob = blob.replace(
        _jpeg_seg(0xC4, _jpeg_dht_payload(0x10, _JPEG_AC_SYMBOLS)),
        _jpeg_seg(0xC4, _jpeg_dht_payload(0x11, _JPEG_AC_SYMBOLS)),
        1,
    )
    sos_old = _jpeg_seg(0xDA, bytes((1, 1, 0x00, 0, 63, 0)))
    sos_new = _jpeg_seg(0xDA, bytes((1, 1, 0x11, 0, 63, 0)))
    assert sos_old in blob
    _, _, px = _jpeg_parse(blob.replace(sos_old, sos_new, 1))
    assert np.array_equal(px, want)

    # 5) a scan referencing a MISSING table id must reject cleanly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="Huffman table"):
        _jpeg_parse(full.replace(sos_old, sos_new, 1))  # tables still 0

    # 6) optional 0xFF fill bytes before markers (T.81 B.1.1.2, ADVICE r4):
    # pad runs of 0xFF ahead of DQT, SOF0 and SOS -- decode must be
    # unchanged, not 'expected marker' / truncation errors
    padded = full
    for mk in (b"\xff\xdb", b"\xff\xc0", b"\xff\xda"):
        padded = padded.replace(mk, b"\xff\xff\xff" + mk, 1)
    _, _, px = _jpeg_parse(padded)
    assert np.array_equal(px, want)

    # a blob that ENDS inside a fill run still raises, never spins
    head = full[: full.index(b"\xff\xdb")]
    with _pytest.raises(ValueError, match="truncated"):
        _jpeg_parse(head + b"\xff\xff\xff")


def test_jpeg_dc_thumbnail_matches_blockmeans_and_rejects_bad_input(spark):
    import numpy as np
    import pytest as _pytest

    from dockerized_data_pipeline_spark.functions.multimodal import (
        _jpeg_block_params,
        _jpeg_dims,
        _jpeg_encode,
        _jpeg_parse_dc,
    )

    for mid in (3, 12, 40):
        w, h = _jpeg_dims(mid)
        bw, bh, t = _jpeg_parse_dc(_jpeg_encode(mid))
        assert (bw, bh) == ((w + 7) // 8, (h + 7) // 8)
        want = np.array(
            [[_jpeg_block_params(mid, bx, by)[0] for bx in range(bw)]
             for by in range(bh)],
            dtype=np.uint8,
        )
        assert np.array_equal(t, want)
    # restart markers work on the fast path too: PIXEL-EXACT (a broken
    # DC-predictor reset would keep the shape but corrupt every
    # post-restart value)
    for ri in (1, 2, 3, 5):
        bw, bh, t = _jpeg_parse_dc(_jpeg_encode(7, restart_interval=ri))
        want = np.array(
            [[_jpeg_block_params(7, bx, by)[0] for bx in range(bw)]
             for by in range(bh)],
            dtype=np.uint8,
        )
        assert np.array_equal(t, want), ri

    # non-fixture quant table: fast path matches the full decoder's
    # flat-block value bit-for-bit, including the exact-half case
    # (floor-half-up, never banker's round)
    from dockerized_data_pipeline_spark.functions.multimodal import (
        _jpeg_encode_blocks,
        _jpeg_parse,
        _jpeg_seg,
    )

    flat = _jpeg_encode_blocks([[133]], [[0]], 8, 8)  # stored DC = 5
    q8 = _jpeg_seg(0xDB, bytes([0x00]) + bytes([8] * 64))
    q4 = _jpeg_seg(0xDB, bytes([0x00]) + bytes([4] * 64))
    blob4 = flat.replace(q8, q4, 1)  # DC*q00/8 = 2.5: the half case
    _, _, px_full = _jpeg_parse(blob4)
    _, _, t4 = _jpeg_parse_dc(blob4)
    assert int(px_full[0, 0]) == int(t4[0, 0]) == 131

    # empty SOS segment rejects cleanly (shared header walk guard)
    bad_sos = b"\xff\xd8" + _jpeg_seg(0xDA, b"") + b"\xff\xd9"
    with _pytest.raises(ValueError, match="SOS"):
        _jpeg_parse_dc(bad_sos)
    with _pytest.raises(ValueError, match="SOS"):
        _jpeg_parse(bad_sos)
    # same rejection posture as the full decoder
    full = _jpeg_encode(3)
    for cut in (4, 20, len(full) // 2):
        with _pytest.raises(ValueError):
            _jpeg_parse_dc(full[:cut])
    with _pytest.raises(ValueError):
        _jpeg_parse_dc(b"\x89PNG" + bytes(32))


def test_jpeg_color_roundtrip_is_lossless_and_pinned(spark):
    """The 4:2:0 color fixtures decode bit-exactly to the arithmetic
    ground truth (per-component quant lossless by construction), across
    MCU-grid edge geometries, restart intervals, and truncations."""
    import numpy as np
    import pytest as _pytest

    from dockerized_data_pipeline_spark.functions.multimodal import (
        _jpeg_color_dims,
        _jpeg_color_encode,
        _jpeg_color_pixels,
        _jpeg_encode,
        _jpeg_parse,
        _jpeg_parse_color,
        _jpeg_pixels,
    )

    # ids 0..16 sweep w in 16..32: covers w%16 in {0..15} (padded edge
    # MCUs in luma AND chroma planes) and both 1- and 2-MCU columns
    for mid in range(17):
        w, h, r, g, b = _jpeg_parse_color(_jpeg_color_encode(mid))
        assert (w, h) == _jpeg_color_dims(mid)
        rr, gg, bb = _jpeg_color_pixels(mid)
        assert np.array_equal(r, rr), mid
        assert np.array_equal(g, gg), mid
        assert np.array_equal(b, bb), mid

    # restart intervals: all three DC predictors reset per RST
    for mid in (3, 7, 19):
        for ri in (1, 2, 3):
            _, _, r, g, b = _jpeg_parse_color(
                _jpeg_color_encode(mid, restart_interval=ri)
            )
            rr, gg, bb = _jpeg_color_pixels(mid)
            assert np.array_equal(r, rr) and np.array_equal(g, gg) and \
                np.array_equal(b, bb), (mid, ri)

    # a wrong restart marker number must reject, not desync silently
    blob_rst = _jpeg_color_encode(7, restart_interval=1)
    assert b"\xff\xd0" in blob_rst.split(b"\xff\xda", 1)[1]
    with _pytest.raises(ValueError):
        _jpeg_parse_color(blob_rst.replace(b"\xff\xd0", b"\xff\xd4", 1))

    # truncation at every granularity raises, never spins
    full = _jpeg_color_encode(9)
    for cut in (2, 4, 10, 30, len(full) // 3, len(full) // 2, len(full) - 3):
        with _pytest.raises(ValueError):
            _jpeg_parse_color(full[:cut])

    # a grayscale stream through the color path: R=G=B=Y (JFIF)
    gray = _jpeg_encode(5)
    w, h, r, g, b = _jpeg_parse_color(gray)
    assert np.array_equal(r, _jpeg_pixels(5))
    assert np.array_equal(r, g) and np.array_equal(g, b)

    # ... and a color stream through the grayscale path: routed, not
    # mis-decoded (replaces the r4 blanket multi-component rejection)
    with _pytest.raises(ValueError, match="color"):
        _jpeg_parse(full)


def test_jpeg_color_guards_and_sampling_variants(spark):
    """Header guards specific to multi-component streams, plus a
    hand-built 4:4:4 stream (1x1 sampling everywhere) proving the MCU
    decode is sampling-general, not hardcoded to 4:2:0."""
    import struct

    import numpy as np
    import pytest as _pytest

    from dockerized_data_pipeline_spark.functions.multimodal import (
        _JPEG_AC_SYMBOLS,
        _JPEG_DC_SYMBOLS,
        _jpeg_color_encode,
        _jpeg_dht_payload,
        _jpeg_parse_color,
        _jpeg_seg,
        _jpeg_write_block,
        _jpeg_ycc_to_rgb,
        _JpegBitWriter,
    )

    full = _jpeg_color_encode(4)

    # sampling factor 3 rejects by name
    sof_at = full.index(bytes((1, 0x22, 0)), full.index(b"\xff\xc0"))
    bad = full[:sof_at] + bytes((1, 0x32, 0)) + full[sof_at + 3 :]
    with _pytest.raises(ValueError, match="sampling factors"):
        _jpeg_parse_color(bad)

    # partial (non-interleaved) scan rejects: SOS covering 1 of 3 comps
    sos_old = _jpeg_seg(0xDA, bytes((3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0)))
    assert sos_old in full
    sos_one = _jpeg_seg(0xDA, bytes((1, 1, 0x00, 0, 63, 0)))
    with _pytest.raises(ValueError, match="non-interleaved"):
        _jpeg_parse_color(full.replace(sos_old, sos_one, 1))

    # SOS order differing from SOF order rejects (T.81 B.2.3)
    sos_swapped = _jpeg_seg(
        0xDA, bytes((3, 2, 0x11, 1, 0x00, 3, 0x11, 0, 63, 0))
    )
    with _pytest.raises(ValueError, match="order"):
        _jpeg_parse_color(full.replace(sos_old, sos_swapped, 1))

    # SOS naming an unknown component id rejects
    sos_unknown = _jpeg_seg(
        0xDA, bytes((3, 1, 0x00, 2, 0x11, 9, 0x11, 0, 63, 0))
    )
    with _pytest.raises(ValueError, match="unknown component"):
        _jpeg_parse_color(full.replace(sos_old, sos_unknown, 1))

    # hand-built 4:4:4: one flat block per component, 1x1 sampling, all
    # on table 0 -- decode must equal the fixed-point conversion of the
    # constant (Y, Cb, Cr) triple over the full 8x8
    yv, cbv, crv = 150, 90, 200
    dc_code = {s: (i, 4) for i, s in enumerate(_JPEG_DC_SYMBOLS)}
    ac_code = {s: (i, 4) for i, s in enumerate(_JPEG_AC_SYMBOLS)}
    wr = _JpegBitWriter()
    for level in (yv, cbv, crv):  # interleaved MCU: Y, Cb, Cr blocks,
        # each with its OWN DC predictor (starting at 0)
        _jpeg_write_block(wr, dc_code, ac_code, level - 128, 0, 0)
    wr.align_ones()
    blob = (
        b"\xff\xd8"
        + _jpeg_seg(0xDB, bytes([0x00]) + bytes([8] * 64))
        + _jpeg_seg(
            0xC0,
            struct.pack(">BHHB", 8, 8, 8, 3)
            + bytes((1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0)),
        )
        + _jpeg_seg(0xC4, _jpeg_dht_payload(0x00, _JPEG_DC_SYMBOLS))
        + _jpeg_seg(0xC4, _jpeg_dht_payload(0x10, _JPEG_AC_SYMBOLS))
        + _jpeg_seg(0xDA, bytes((3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0)))
        + bytes(wr.buf)
        + b"\xff\xd9"
    )
    w, h, r, g, b = _jpeg_parse_color(blob)
    assert (w, h) == (8, 8)
    er, eg, eb = _jpeg_ycc_to_rgb(
        np.full((8, 8), yv, dtype=np.int64),
        np.full((8, 8), cbv, dtype=np.int64),
        np.full((8, 8), crv, dtype=np.int64),
    )
    assert np.array_equal(r, er) and np.array_equal(g, eg) and \
        np.array_equal(b, eb)
    # the sanity anchor: Cr >> 128 drives red up, Cb < 128 drives blue down
    assert r[0, 0] > yv > b[0, 0]


def test_jpeg_color_decode_query_plan_has_only_id_spread_exchange(spark, sf_dir):
    """decode_jpeg_color(jpeg_color_media(ids)) must stay two chained
    Arrow stages over the scan, with only the id-spread round-robin
    exchange below them (blobs never shuffle) -- like the grayscale
    path: embarrassingly parallel at 100 TB."""
    from dockerized_data_pipeline_spark.plans.multimodal_queries import (
        x4_jpeg_color_decode,
    )

    df = x4_jpeg_color_decode(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # shuffle exchanges only (word-boundary, as plan_report.py counts them);
    # a future BroadcastExchange must not hide inside a bare substring count
    assert len(re.findall(r"\bExchange\b", plan)) == 1
    assert "BroadcastExchange" not in plan
    assert "RoundRobinPartitioning" in plan
    import numpy as np

    from dockerized_data_pipeline_spark.functions.multimodal import (
        _jpeg_color_pixels,
    )

    rows = {r.media_id: r for r in df.collect()}
    mid = next(iter(rows))
    er, eg, eb = (a.astype(np.int64) for a in _jpeg_color_pixels(mid))
    got = rows[mid]
    assert (got.width, got.height) == (er.shape[1], er.shape[0])
    assert got.r_sum == int(er.sum())
    assert got.g_sum == int(eg.sum())
    assert got.b_sum == int(eb.sum())
    weights = 1 + np.arange(er.size, dtype=np.int64) % 251
    assert got.wsum_b == int((eb.ravel() * weights).sum())


def test_jpeg_progressive_equals_baseline_color(spark):
    """Progressive (SOF2) decode is losslessly pinned: the 11-scan
    progressive fixtures carry the SAME quantized coefficients as the
    baseline color fixtures, so decode must match _jpeg_parse_color
    bit-for-bit -- across MCU-edge geometries, restart intervals, and
    the scan-script structure itself."""
    import numpy as np
    import pytest as _pytest

    from dockerized_data_pipeline_spark.functions.multimodal import (
        _jpeg_color_dims,
        _jpeg_color_encode,
        _jpeg_color_pixels,
        _jpeg_parse_color,
        _jpeg_parse_progressive,
        _jpeg_progressive_encode,
    )

    # ids 0..16 sweep both axes' MCU padding; ground truth is the same
    # arithmetic grid the color oracle replays
    for mid in range(17):
        w, h, r, g, b = _jpeg_parse_progressive(_jpeg_progressive_encode(mid))
        assert (w, h) == _jpeg_color_dims(mid)
        rr, gg, bb = _jpeg_color_pixels(mid)
        assert np.array_equal(r, rr), mid
        assert np.array_equal(g, gg), mid
        assert np.array_equal(b, bb), mid

    # restart markers inside EVERY scan kind: interleaved DC, DC refine,
    # AC band first passes, AC refinement (EOB runs flushed at each RST)
    for mid in (3, 7, 19):
        base = _jpeg_parse_color(_jpeg_color_encode(mid))
        for ri in (1, 2, 3):
            got = _jpeg_parse_progressive(
                _jpeg_progressive_encode(mid, restart_interval=ri)
            )
            assert got[0] == base[0] and got[1] == base[1]
            for ch_got, ch_ref in zip(got[2:], base[2:]):
                assert np.array_equal(ch_got, ch_ref), (mid, ri)

    # scan script structure: 11 SOS markers, progressive SOF2 frame
    blob = _jpeg_progressive_encode(5)
    assert blob.count(b"\xff\xda") == 11
    assert b"\xff\xc2" in blob and b"\xff\xc0" not in blob[2:4]

    # truncation at every granularity raises, never spins
    for cut in (2, 4, 10, 30, len(blob) // 3, len(blob) // 2, len(blob) - 3):
        with _pytest.raises(ValueError):
            _jpeg_parse_progressive(blob[:cut])

    # a wrong restart marker number must reject, not desync silently
    blob_rst = _jpeg_progressive_encode(7, restart_interval=1)
    assert b"\xff\xd0" in blob_rst.split(b"\xff\xda", 1)[1]
    with _pytest.raises(ValueError):
        _jpeg_parse_progressive(blob_rst.replace(b"\xff\xd0", b"\xff\xd4", 1))


def test_jpeg_progressive_guards_and_routing(spark):
    """Scan-sequencing and header guards specific to progressive:
    T.81 G constraints are enforced, baseline streams route away, and
    the baseline decoders route SOF2 to this path by name."""
    import struct

    import pytest as _pytest

    from dockerized_data_pipeline_spark.functions.multimodal import (
        _jpeg_color_encode,
        _jpeg_encode,
        _jpeg_parse,
        _jpeg_parse_color,
        _jpeg_parse_progressive,
        _jpeg_progressive_encode,
    )

    blob = _jpeg_progressive_encode(4)

    # baseline decoders route SOF2 progressive streams here by name
    for parse in (_jpeg_parse, _jpeg_parse_color):
        with _pytest.raises(ValueError, match="progressive"):
            parse(blob)
    # ... and baseline SOF0 streams route away from this decoder
    with _pytest.raises(ValueError, match="baseline"):
        _jpeg_parse_progressive(_jpeg_color_encode(4))
    with _pytest.raises(ValueError, match="baseline"):
        _jpeg_parse_progressive(_jpeg_encode(4))

    def patch_first_sos(b, ss, se, ahal):
        """Rewrite (Ss, Se, AhAl) of the FIRST scan header in b."""
        at = b.index(b"\xff\xda")
        (seglen,) = struct.unpack(">H", b[at + 2 : at + 4])
        end = at + 2 + seglen
        return b[: end - 3] + bytes((ss, se, ahal)) + b[end:]

    # first scan is the interleaved DC scan: corrupting it into an AC
    # band scan must reject (AC scans are single-component, and AC
    # before the first DC scan is out of order)
    with _pytest.raises(ValueError):
        _jpeg_parse_progressive(patch_first_sos(blob, 1, 5, 0))
    # DC scan with Se != 0 (mixed DC+AC scan) rejects
    with _pytest.raises(ValueError):
        _jpeg_parse_progressive(patch_first_sos(blob, 0, 5, 0))
    # refinement must reveal exactly one bit: Ah != Al + 1 rejects
    with _pytest.raises(ValueError, match="Ah/Al"):
        _jpeg_parse_progressive(patch_first_sos(blob, 0, 0, 0x20))
    # DC refinement before any DC first scan rejects
    with _pytest.raises(ValueError, match="refinement"):
        _jpeg_parse_progressive(patch_first_sos(blob, 0, 0, 0x10))
    # spectral band out of range rejects
    with _pytest.raises(ValueError):
        _jpeg_parse_progressive(patch_first_sos(blob, 64, 64, 0))

    # a frame whose quant table never arrives rejects at EOI
    qt_at = blob.index(b"\xff\xdb")
    (qlen,) = struct.unpack(">H", blob[qt_at + 2 : qt_at + 4])
    no_q = blob[:qt_at] + blob[qt_at + 2 + qlen :]
    with _pytest.raises(ValueError, match="quant"):
        _jpeg_parse_progressive(no_q)

    # oversized dims cap (same posture as every other codec guard)
    sof_at = blob.index(b"\xff\xc2") + 5
    huge = (
        blob[:sof_at]
        + struct.pack(">HH", 50000, 50000)
        + blob[sof_at + 4 :]
    )
    with _pytest.raises(ValueError, match="dimensions"):
        _jpeg_parse_progressive(huge)


def test_hot_bucket_cap_bounds_boilerplate_without_losing_diverse_pairs(spark):
    """r9 hot-bucket cap: 40 identical boilerplate docs share every LSH
    bucket (the degenerate distribution that turns the bucket join
    quadratic); a planted DIVERSE near-dup pair lives in its own small
    buckets. With max_bucket_size=4 the boilerplate cross-product
    vanishes from the candidate set while the diverse pair survives,
    and band_bucket_profile reports exactly what was dropped."""
    from dockerized_data_pipeline_spark.operators.dedup import (
        band_bucket_profile,
        banded_signatures,
        minhash_signatures,
    )

    near = BASE.replace("green", "blue")
    boiler = [(100 + i, "standard legal disclaimer text repeated verbatim")
              for i in range(40)]
    df = _docs(spark, [(1, BASE), (2, near)] + boiler)

    uncapped = {
        (r.doc_a, r.doc_b)
        for r in minhash_neardup_pairs_native(df, "doc_id", "text").collect()
    }
    assert (1, 2) in uncapped
    assert sum(1 for a, b in uncapped if a >= 100 and b >= 100) == 40 * 39 // 2

    capped = {
        (r.doc_a, r.doc_b)
        for r in minhash_neardup_pairs_native(
            df, "doc_id", "text", max_bucket_size=4
        ).collect()
    }
    assert (1, 2) in capped                      # diverse pair survives
    assert not any(a >= 100 for a, _ in capped)  # boilerplate blowup gone

    sig = minhash_signatures(df, "doc_id", "text", 3, 16)
    profile = {
        r.bucket_size: r.n_buckets
        for r in band_bucket_profile(banded_signatures(sig, 8, 2)).collect()
    }
    assert profile.get(40, 0) >= 8  # the 40-doc bucket appears per band
