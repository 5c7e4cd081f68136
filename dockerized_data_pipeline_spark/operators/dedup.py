"""Deduplication operators (SURVEY section 2.11 X1/X2): exact, MinHash-LSH,
SimHash, exact n-gram Jaccard.

Scale notes:
  * exact dedup is a hash-aggregate on the dedup key -- one shuffle, AQE
    handles skew; for 100 TB prefer dedup on a digest (xxhash64/sha2 of the
    payload) so the shuffle carries 8-32 bytes per row, not documents.
  * MinHash-LSH turns the quadratic all-pairs problem into
    shingle->minhash->band->bucket-join: candidate pairs only form inside a
    bucket, so cost tracks true-duplicate density instead of n^2.
  * exact n-gram Jaccard (shingle inverted-index self-join) is the
    verification pass over LSH candidates; running it standalone is only for
    modest corpora / oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import simhash_token_hashes, simhash_votes, tokens


def exact_dedup(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """X1: drop exact duplicates (hash-groupBy under the hood)."""
    return df.dropDuplicates(subset)


def shingle_set(text_col, n: int):
    """Per-row DISTINCT token n-gram array (no explode -- pure expression).
    Documents shorter than n tokens produce an empty array (guarded --
    sequence() would wrap)."""
    toks = tokens(text_col)
    n_tok = F.size(toks)
    grams = F.when(
        n_tok >= n,
        F.transform(
            F.sequence(F.lit(1), n_tok - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def shingles(df: DataFrame, text_col: str, n: int, out_col: str = "shingle") -> DataFrame:
    """One row per distinct token n-gram per document."""
    return df.withColumn(out_col, F.explode(shingle_set(F.col(text_col), n)))


def ngram_jaccard_pairs_ppm(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    threshold_num: int = 1,
    threshold_den: int = 20,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >=1 shingle.

    Inverted-index self-join: explode distinct shingles, join on shingle with
    id_a < id_b, count intersections, Jaccard = |A&B| / (|A|+|B|-|A&B|).

    The threshold is a rational (num/den) compared by exact integer
    cross-multiplication, and the output similarity is an integer
    FLOOR(jaccard * 1e6) -- both engine-portable (no float rounding ties).
    Returns (doc_a, doc_b, jaccard_ppm BIGINT) for pairs >= num/den.
    """
    from ..catalog import FOLD_BYTES_PER_TASK, spread_input

    sh = shingles(
        spread_input(df.select(id_col, text_col), FOLD_BYTES_PER_TASK),
        text_col,
        n,
    ).select(F.col(id_col).alias("doc"), "shingle")
    counts = sh.groupBy("doc").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    ca = counts.alias("ca")
    cb = counts.alias("cb")
    union_size = F.col("ca.n_sh") + F.col("cb.n_sh") - F.col("n_common")
    return (
        inter.join(F.broadcast(ca), F.col("doc_a") == F.col("ca.doc"))
        .join(F.broadcast(cb), F.col("doc_b") == F.col("cb.doc"))
        .filter(F.col("n_common") * threshold_den >= union_size * threshold_num)
        .select(
            "doc_a",
            "doc_b",
            F.floor(F.col("n_common") * F.lit(1000000.0) / union_size)
            .cast("bigint")
            .alias("jaccard_ppm"),
        )
    )


def ngram_containment_ppm(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    threshold_num: int = 1,
    threshold_den: int = 10,
) -> DataFrame:
    """Benchmark decontamination: for each (corpus doc, benchmark doc)
    pair sharing shingles, the fraction of the BENCHMARK doc's n-grams
    that appear in the corpus doc (containment, not Jaccard -- a long
    corpus doc that embeds a short benchmark item must score high).

    Scale shape: the benchmark side is small by construction (eval sets
    are thousands of rows), so its shingle set BROADCASTS; the 100 TB
    corpus is scanned once, exploded, and hash-joined against the
    broadcast -- no shuffle of corpus shingles, no self-join. Threshold
    compare is integer cross-multiplication; output is FLOOR(ppm).

    Returns (corpus_doc, bench_doc, containment_ppm) for pairs with
    containment >= threshold_num/threshold_den.
    """
    from ..catalog import FOLD_BYTES_PER_TASK, spread_input

    c_sh = shingles(
        spread_input(corpus.select(id_col, text_col), FOLD_BYTES_PER_TASK),
        text_col,
        n,
    ).select(F.col(id_col).alias("corpus_doc"), "shingle")
    b_sh = shingles(bench.select(id_col, text_col), text_col, n).select(
        F.col(id_col).alias("bench_doc"), "shingle"
    )
    b_counts = b_sh.groupBy("bench_doc").agg(F.count("*").alias("n_bench_sh"))
    inter = (
        c_sh.join(F.broadcast(b_sh), "shingle")
        .groupBy("corpus_doc", "bench_doc")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(F.broadcast(b_counts), "bench_doc")
        .filter(F.col("n_common") * threshold_den >= F.col("n_bench_sh") * threshold_num)
        .select(
            "corpus_doc",
            "bench_doc",
            F.floor(F.col("n_common") * F.lit(1000000.0) / F.col("n_bench_sh"))
            .cast("bigint")
            .alias("containment_ppm"),
        )
    )


def neardup_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over near-duplicate candidate pairs: every doc
    in a transitively-connected group gets the group's minimum id as
    ``cluster_id`` (the canonical survivor).

    Iterative min-label propagation with pointer jumping: each round every
    node adopts the smallest label among itself and its neighbors, then
    follows its label's label (path halving), so convergence is
    O(log diameter) rounds instead of O(diameter). Each round is two joins
    over the edge/label lists -- no driver-side graph, so it scales to
    edge lists that don't fit one machine. Stops early at fixpoint and
    RAISES if max_iterations rounds pass without one (a silent
    non-converged result would split clusters and keep extra duplicates).
    """
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        # materialize once: pairs is typically an expensive lineage
        # (LSH banding + exact verification) that every iteration's joins
        # and convergence count would otherwise re-evaluate from scratch
        .localCheckpoint(eager=True)
    )
    # r12: an empty edge list converges trivially -- skip the label loop's
    # three joins + convergence-probe job and return the empty cluster
    # frame directly. Data-dependent control flow on an already-
    # materialized (checkpointed) frame, same one-row probe cost as the
    # convergence check itself; at corpus scale a high dedup threshold
    # routinely yields zero candidate pairs, making this the common case.
    if edges.isEmpty():
        return edges.select(
            F.col("src").alias("doc"), F.col("src").alias("cluster_id")
        )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
        )
        # pointer jumping (path halving): every label is itself a node id,
        # so follow label -> label's label; chain depth halves per round.
        jumped = (
            new_labels.alias("l")
            .join(new_labels.alias("m"), F.col("l.label") == F.col("m.node"), "left")
            .select(
                F.col("l.node").alias("node"),
                F.least(
                    F.col("l.label"),
                    F.coalesce(F.col("m.label"), F.col("l.label")),
                ).alias("label"),
            )
        )
        # r11: checkpoint BEFORE the convergence probe (lazily), so the
        # probe's job both materializes the round's labels and answers
        # convergence -- the old order evaluated `jumped` twice per round
        # (once for the count, once again inside the eager checkpoint),
        # i.e. one extra job + one extra evaluation every round.
        new_ck = jumped.localCheckpoint(eager=False)  # truncate lineage
        changed = (
            new_ck.alias("n")
            .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_ck
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"neardup_clusters did not reach a fixpoint within {max_iterations} "
            "iterations; raise max_iterations (components converge in "
            "O(log diameter) rounds with pointer jumping)"
        )
    return labels.select(F.col("node").alias("doc"), F.col("label").alias("cluster_id"))


def collapse_neardups(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Keep one document per near-dup cluster (the minimum id); documents in
    no pair survive untouched. Anti-join on the non-canonical members."""
    clusters = neardup_clusters(pairs)
    losers = clusters.filter(F.col("doc") != F.col("cluster_id")).select(
        F.col("doc").alias(id_col)
    )
    return docs.join(losers, on=id_col, how="left_anti")


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """X2 (SimHash flavor): 64-bit signature per document; near-dups have
    small hamming distance. Per-row compute only.

    NULL text has no signature: the row is excluded (r10 NULL tier; the
    vote fold would otherwise emit a meaningless all-zero signature that
    "matches" every other NULL-text doc at hamming 0). Same policy as
    MinHash, where a NULL text simply yields no shingles."""
    from ..catalog import FOLD_BYTES_PER_TASK, spread_input

    # the 64-bit vote fold is heavy per-row expression work; spread a
    # single-split input (no-op on multi-split inputs)
    staged = spread_input(
        df.filter(F.col(text_col).isNotNull()).select(id_col, text_col),
        FOLD_BYTES_PER_TASK,
    ).select(
        F.col(id_col), simhash_token_hashes(F.col(text_col)).alias("__sh_hashes")
    )
    return staged.select(
        F.col(id_col), simhash_votes(F.col("__sh_hashes")).alias("simhash")
    )


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """X2 (SimHash flavor), scalably: near-duplicate pairs with hamming
    distance <= max_hamming between 64-bit SimHash signatures.

    Pigeonhole banding: the signature splits into ``max_hamming + 1``
    equal bands; two signatures differing in <= max_hamming bits must
    agree EXACTLY on at least one band, so candidates form only inside a
    (band, band-bits) bucket -- like MinHash-LSH banding but with a
    guaranteed 100% recall (combinatorial, not probabilistic). The exact
    hamming filter (bit_count of xor, pure JVM) then removes bucket
    collisions. Cost: one signature pass + a slim bucket self-join.
    Returns (doc_a, doc_b, hamming).
    """
    bands = max_hamming + 1
    if 64 % bands:
        raise ValueError("max_hamming + 1 must divide 64 (e.g. 1, 3, 7, 15)")
    width = 64 // bands
    mask = (1 << width) - 1

    sig = simhash_signatures(df, id_col, text_col)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col("simhash"), b * width)
            .bitwiseAND(F.lit(mask))
            .alias("bits"),
        )
        for b in range(bands)
    ]
    banded = sig.select(
        F.col(id_col).alias("doc"), "simhash", F.explode(F.array(*band_structs)).alias("bs")
    ).select("doc", "simhash", F.col("bs.band").alias("band"), F.col("bs.bits").alias("bits"))
    # materialize once (r11): both self-join sides consume the band table,
    # and an un-materialized subtree re-runs the whole signature pipeline
    # (tokenize + 64-bit vote fold) per side
    banded = banded.localCheckpoint(eager=False)

    a = banded.alias("a")
    b_ = banded.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """Per-document MinHash signature: num_hashes columns mh0..mh{k-1},
    where mh_i = min over shingle hashes of xxhash64(shingle_hash, i).

    Shingle hashes are built WITHOUT materializing shingle strings: each
    token is xxhash64'd once, then the n-gram hash folds the n shifted
    token-hash arrays with xxhash64 inside zip_with -- measured ~3x faster
    than concat_ws string shingles + hash (string building dominated), and
    stays in whole-stage codegen (positional element_at-in-lambda did
    not). The k hash functions then mix the 8-byte shingle hash with the
    seed (hash-once + seed-mix, ~2x over re-hashing per seed).

    One explode + one groupBy: the signature of a 100 TB corpus costs a
    single shuffle keyed on doc id, carrying one long per shingle.
    """
    toks = tokens(F.col(text_col))
    tok_hashes = F.transform(toks, lambda t: F.xxhash64(t))
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    combined = F.slice(tok_hashes, 1, m)
    for off in range(1, n):
        combined = F.zip_with(
            combined,
            F.slice(tok_hashes, off + 1, m),
            lambda acc, h: F.xxhash64(acc, h),
        )
    from ..catalog import spread_input

    # r11: token hashing + the n-gram fold are per-row expression work;
    # spread a single-split input so the signature pass parallelizes
    # (no-op on multi-split inputs; catalog.spread_input)
    sh = spread_input(df.select(id_col, text_col)).withColumn(
        "h", F.explode(F.array_distinct(combined))
    ).select(F.col(id_col).alias("doc"), "h")
    # F.expr strings (r11): one py4j round trip per aggregate instead of
    # ~5 Column-API calls each -- identical expression tree (integer seed
    # literal, same min(xxhash64(h, i))). Driver-side build time is part
    # of every timed query run; this builder is on the hot path of four
    # registered queries.
    return sh.groupBy("doc").agg(
        *[F.expr(f"min(xxhash64(h, {i})) AS mh{i}") for i in range(num_hashes)]
    )


def banded_signatures(
    sig: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """LSH band rows (doc, band, sig) from a MinHash signature table.

    Slim bucket-join input: the exploded band table carries only (doc,
    band, sig) -- 24 bytes/row -- so the n*bands shuffle stays cheap at
    corpus scale; full signatures rejoin only for the (few) candidate
    pairs. The signature table (and this derived band table) is the
    persistable LSH *index*: write it once per corpus snapshot (ideally
    bucketed by sig for a shuffle-free probe join) and incremental batches
    probe it without re-reading corpus text."""
    # one F.expr string (r11): the 8 band structs cost ~50 py4j calls as
    # Column API; as SQL text it is one round trip with the identical tree
    # (named_struct of an int literal + xxhash64 over the band's columns).
    band_structs = ", ".join(
        "named_struct('band', {b}, 'sig', xxhash64({cols}))".format(
            b=b,
            cols=", ".join(
                f"mh{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return sig.select(
        "doc", F.expr(f"explode(array({band_structs})) AS bs")
    ).select("doc", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


def band_bucket_profile(banded: DataFrame) -> DataFrame:
    """(bucket_size, n_buckets) histogram of an LSH band table -- the
    skew diagnostic to run BEFORE an expensive bucket self-join. The
    sf1 scale-oracle round found the failure mode this guards: a corpus
    whose items concentrate into a handful of buckets turns the 'bounded
    bucket join' quadratic (observed with near-orthogonal embeddings
    under random-projection LSH, where every vector projects near 0).
    Tiny output (one row per distinct bucket size); one map-side-combined
    aggregation."""
    return (
        banded.groupBy("band", "sig")
        .count()
        .groupBy(F.col("count").alias("bucket_size"))
        .agg(F.count("*").alias("n_buckets"))
    )


def _drop_hot_buckets(banded: DataFrame, max_bucket_size: int) -> DataFrame:
    """Remove band rows belonging to buckets larger than the cap. The
    hot-bucket list is an aggregation on the SAME key the self-join
    shuffles on, so co-partitioning makes the anti-join cheap; at scale
    the hot list is tiny and broadcasts."""
    hot = (
        banded.groupBy("band", "sig")
        .count()
        .filter(F.col("count") > max_bucket_size)
        .select("band", "sig")
    )
    return banded.join(hot, ["band", "sig"], "left_anti")


def minhash_neardup_pairs_native(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
    min_est_jaccard_ppm: int = 300_000,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Spark-native MinHash-LSH near-duplicate pairs:
    shingle -> minhash signature -> band -> bucket self-join -> estimate.

    Banding: the signature splits into ``bands`` bands of ``rows_per_band``
    hashes; docs agreeing on ALL hashes of any band land in the same bucket
    (P[candidate] = 1-(1-j^r)^b -- the S-curve that makes cost track true
    duplicate density instead of n^2). Candidate pairs are verified by the
    signature-agreement Jaccard estimate (fraction of equal minhashes);
    feed survivors to ngram_jaccard_pairs_ppm for exact confirmation.

    Fully deterministic (xxhash64, no seeds to manage) and shuffle-frugal:
    one shuffle for signatures, one for the bucket join.
    Returns (doc_a, doc_b, est_jaccard_ppm BIGINT).

    ``max_bucket_size``: optional hot-bucket cap. The bucket join's cost
    model assumes collisions track true duplicate density; a corpus
    whose band signatures concentrate (boilerplate-heavy text, or any
    degenerate hash distribution) turns it quadratic in the hottest
    bucket. With a cap, buckets larger than ``max_bucket_size`` are
    DROPPED from candidate generation -- a recall tradeoff, never a
    precision one (surviving pairs still verify by signature agreement).
    Dropping is never silent: run ``band_bucket_profile`` on the same
    band table to see exactly how many buckets exceed the cap (the
    x2_lsh_bucket_skew_profile query pairs the two).
    """
    num_hashes = bands * rows_per_band
    sig = minhash_signatures(df, id_col, text_col, n, num_hashes)
    # materialize the signature table once (r11 perf): it feeds FOUR plan
    # subtrees -- both sides of the band self-join and both sides of the
    # signature-agreement verification -- and an un-materialized subtree
    # re-runs the shingle explode + 16-way min aggregation per reference
    # (the executed r10 plan carried four full scan->Generate->HashAggregate
    # pipelines; the optimizer also re-planned each copy, so ~1.2s of the
    # query's 1.3s was driver-side planning). eager=False keeps the
    # registry's build-no-actions contract. At corpus scale the signature
    # table is the persisted index anyway (build_neardup_index), so
    # materializing it is the production posture, not a bench trick.
    sig = sig.localCheckpoint(eager=False)
    banded = banded_signatures(sig, bands, rows_per_band)
    if max_bucket_size is not None:
        # materialize the band table once: the hot-list aggregation is a
        # THIRD consumer of the signature subtree (join sides a/b are the
        # other two), and an un-materialized subtree re-derives the
        # shingle explode per reference (the repo-wide self-join rule;
        # at corpus scale the band table is the persisted index anyway).
        # eager=False (r10, ADVICE): keep the registry's build-no-actions
        # contract -- checkpointing happens at the FIRST action, after
        # which all three consumers share the materialized partitions.
        banded = _drop_hot_buckets(
            banded.localCheckpoint(eager=False), max_bucket_size
        )

    a = banded.alias("a")
    b_ = banded.alias("b")
    candidates = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )

    sa = sig.alias("sa")
    sb = sig.alias("sb")
    # one F.expr string (r11, same rationale as minhash_signatures): the
    # 16 CASE terms cost ~64 py4j calls as Column API, one as SQL text.
    # CAST(1000000 AS DOUBLE) keeps the arithmetic double (a bare 1000000.0
    # literal would parse as DECIMAL and change the division semantics).
    cases = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    est_ppm = F.expr(
        f"CAST(FLOOR(({cases}) * CAST(1000000 AS DOUBLE) / {num_hashes}) AS BIGINT)"
    )
    return (
        candidates.join(sa, F.col("doc_a") == F.col("sa.doc"))
        .join(sb, F.col("doc_b") == F.col("sb.doc"))
        .select("doc_a", "doc_b", est_ppm.alias("est_jaccard_ppm"))
        .filter(F.col("est_jaccard_ppm") >= min_est_jaccard_ppm)
    )


def incremental_neardup_pairs(
    corpus_sig: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
    min_est_jaccard_ppm: int = 300_000,
    corpus_banded: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup detection: dedup a NEW batch against an
    existing corpus without touching corpus text -- the operational shape
    at 100 TB, where recomputing full-corpus LSH for a 0.1% daily delta
    would be 1000x wasted work.

    ``corpus_banded``: optionally pass the persisted band table (e.g. a
    bucketed-by-sig table from ``build_neardup_index``) instead of
    re-deriving bands from ``corpus_sig``; with bucketed storage the
    corpus side of the probe join needs NO exchange.

    ``corpus_sig`` is the persisted MinHash signature index
    (``minhash_signatures`` output, one slim row per corpus doc). The
    batch is shingled/signed fresh; its band rows probe the corpus band
    rows plus the batch's own (new docs can duplicate each other), so the
    only pairs produced TOUCH the batch -- corpus-corpus pairs are never
    recomputed. Cost: one signature pass over the batch + a bucket join
    whose corpus side is the 24-byte/row index (store it bucketed by sig
    to make that side shuffle-free).

    Returns (doc_a, doc_b, est_jaccard_ppm, pair_type) where pair_type is
    'batch_batch' or 'batch_corpus'. Doc ids must be globally unique
    across corpus and batch.
    """
    num_hashes = bands * rows_per_band
    mh_cols = [f"mh{i}" for i in range(num_hashes)]
    missing = [c for c in mh_cols if c not in corpus_sig.columns]
    if missing:
        raise ValueError(
            f"corpus_sig lacks signature columns {missing}; build it with "
            f"minhash_signatures(num_hashes={num_hashes})"
        )
    batch_sig = minhash_signatures(batch, id_col, text_col, n, num_hashes)
    # materialize the batch signatures once (r11 perf): they feed the band
    # self-join probe side, the probe union, and both verification sides --
    # four re-derivations of the shingle explode + min-agg otherwise (and
    # four copies for the optimizer to chew on; see
    # minhash_neardup_pairs_native for the measured planning cost).
    batch_sig = batch_sig.localCheckpoint(eager=False)

    batch_banded = banded_signatures(batch_sig, bands, rows_per_band)
    if corpus_banded is None:
        corpus_banded = banded_signatures(
            corpus_sig.select("doc", *mh_cols), bands, rows_per_band
        )
    else:
        corpus_banded = corpus_banded.select("doc", "band", "sig")
    probe_side = corpus_banded.withColumn(
        "is_corpus", F.lit(True)
    ).unionByName(batch_banded.withColumn("is_corpus", F.lit(False)))

    a = batch_banded.alias("a")
    b_ = probe_side.alias("b")
    candidates = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc") != F.col("b.doc")),
        )
        .select(
            F.least(F.col("a.doc"), F.col("b.doc")).alias("doc_a"),
            F.greatest(F.col("a.doc"), F.col("b.doc")).alias("doc_b"),
            F.col("b.is_corpus").alias("is_corpus"),
        )
        # batch-batch candidates surface twice (once per direction) and a
        # corpus doc can also collide on several bands: one row per pair,
        # batch_corpus wins if both flavors appear (ids are unique, so a
        # pair is one flavor only; max() just collapses band multiplicity).
        .groupBy("doc_a", "doc_b")
        .agg(F.max("is_corpus").alias("is_corpus"))
    )

    all_sig = corpus_sig.select("doc", *mh_cols).unionByName(batch_sig)
    sa = all_sig.alias("sa")
    sb = all_sig.alias("sb")
    # single-expr CASE sum (r11) -- see minhash_neardup_pairs_native
    cases = " + ".join(
        f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    est_ppm = F.expr(
        f"CAST(FLOOR(({cases}) * CAST(1000000 AS DOUBLE) / {num_hashes}) AS BIGINT)"
    )
    return (
        candidates.join(sa, F.col("doc_a") == F.col("sa.doc"))
        .join(sb, F.col("doc_b") == F.col("sb.doc"))
        .select(
            "doc_a",
            "doc_b",
            est_ppm.alias("est_jaccard_ppm"),
            F.when(F.col("is_corpus"), F.lit("batch_corpus"))
            .otherwise(F.lit("batch_batch"))
            .alias("pair_type"),
        )
        .filter(F.col("est_jaccard_ppm") >= min_est_jaccard_ppm)
    )


def verified_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
    min_est_jaccard_ppm: int = 300_000,
    threshold_num: int = 3,
    threshold_den: int = 10,
) -> DataFrame:
    """LSH candidates -> EXACT verification: the full 100 TB near-dup
    recipe promised at minhash_neardup_pairs_native.

    Banded MinHash generates candidate pairs cheaply (cost tracks dup
    density); exact n-gram Jaccard is then computed PER CANDIDATE PAIR
    (pairwise_jaccard_ppm: two hash joins carrying each doc's shingle set
    + an array-intersect per pair), so verification cost is
    O(candidates * doc_len). The earlier design -- an inverted-index
    self-join restricted to candidate members -- is quadratic in hot-shingle
    document frequency, which a 20x stress corpus showed blowing up on
    natural-language shingle skew; the pairwise form has no such term.
    Returns (doc_a, doc_b, jaccard_ppm) for verified pairs with exact
    Jaccard >= threshold_num/threshold_den.
    """
    candidates = minhash_neardup_pairs_native(
        df, id_col, text_col, n, bands, rows_per_band, min_est_jaccard_ppm
    ).select("doc_a", "doc_b")
    return pairwise_jaccard_ppm(
        df, candidates, id_col, text_col, n, threshold_num, threshold_den
    )


def pairwise_jaccard_ppm(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold_num: int = 3,
    threshold_den: int = 10,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Exact n-gram Jaccard evaluated only on the given candidate pairs.

    Scale shape: each doc's distinct shingle set rides along two hash joins
    keyed by doc id (unique keys -- no skew), then intersection/union sizes
    are per-row array ops. Cost is linear in candidates and doc length;
    shingle document-frequency never enters (unlike an inverted-index
    self-join, where every hot shingle contributes its frequency SQUARED).
    Returns (a_col, b_col, jaccard_ppm BIGINT) for pairs with exact
    Jaccard >= threshold_num/threshold_den; pairs whose docs are both
    too short to shingle (empty union) are dropped.
    """
    sh = docs.select(F.col(id_col), shingle_set(F.col(text_col), n).alias("__sh"))
    scored = (
        pairs.join(
            sh.select(F.col(id_col).alias(a_col), F.col("__sh").alias("__sha")),
            on=a_col,
        )
        .join(
            sh.select(F.col(id_col).alias(b_col), F.col("__sh").alias("__shb")),
            on=b_col,
        )
        .withColumn("__inter", F.size(F.array_intersect("__sha", "__shb")))
        .withColumn(
            "__union", F.size("__sha") + F.size("__shb") - F.col("__inter")
        )
    )
    return (
        scored.filter(
            (F.col("__union") > 0)
            & (F.col("__inter") * threshold_den >= F.col("__union") * threshold_num)
        )
        .select(
            a_col,
            b_col,
            F.floor(F.col("__inter") * F.lit(1000000.0) / F.col("__union"))
            .cast("bigint")
            .alias("jaccard_ppm"),
        )
    )


def minhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hash_tables: int = 8,
    jaccard_distance_threshold: float = 0.6,
    seed: int = 42,
) -> DataFrame:
    """X2 (MinHash-LSH flavor): approximate near-duplicate pairs via
    pyspark.ml MinHashLSH over hashed shingle sets.

    Deterministic for a fixed seed. Returns (doc_a, doc_b, jaccard_dist).
    At scale the approxSimilarityJoin is the band-bucket join: candidates
    only materialize within LSH buckets.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("text"))
    toks = tokens(F.col("text"))
    n_tok = F.size(toks)
    grams = F.when(
        n_tok >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_tok - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        ),
    ).otherwise(F.array(F.col("text")))
    with_sets = docs.withColumn("grams", grams)
    htf = HashingTF(inputCol="grams", outputCol="features", numFeatures=1 << 18, binary=True)
    feats = htf.transform(with_sets)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=seed
    )
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(
        feats, feats, jaccard_distance_threshold, distCol="jaccard_dist"
    )
    return (
        pairs.filter(F.col("datasetA.doc") < F.col("datasetB.doc"))
        .select(
            F.col("datasetA.doc").alias("doc_a"),
            F.col("datasetB.doc").alias("doc_b"),
            F.round("jaccard_dist", 6).cast("decimal(18,6)").alias("jaccard_dist"),
        )
    )


def build_neardup_index(
    docs: DataFrame,
    table_prefix: str,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
    num_buckets: int = 8,
) -> None:
    """Persist the corpus's near-dup index as two bucketed tables:
    ``{prefix}_bands`` (doc, band, sig) bucketed+sorted by sig -- the
    probe join's corpus side then needs NO exchange (HashPartitioning on
    sig satisfies the (band, sig) clustering because sig is a subset of
    the join keys) -- and ``{prefix}_sigs`` (doc, mh0..mh{k-1}) bucketed
    by doc for the shuffle-free verification re-join. Rebuild is one
    signature pass over the corpus; daily batches then pay only their own
    signing + a one-sided shuffle into num_buckets."""
    from .bucketing import write_bucketed

    sig = minhash_signatures(docs, id_col, text_col, n, bands * rows_per_band)
    write_bucketed(
        banded_signatures(sig, bands, rows_per_band),
        f"{table_prefix}_bands",
        f"{path}/bands",
        bucket_col="sig",
        num_buckets=num_buckets,
    )
    write_bucketed(
        sig, f"{table_prefix}_sigs", f"{path}/sigs", bucket_col="doc",
        num_buckets=num_buckets,
    )


def incremental_neardup_pairs_indexed(
    spark,
    table_prefix: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
    min_est_jaccard_ppm: int = 300_000,
) -> DataFrame:
    """Probe a ``build_neardup_index`` index with a new batch: identical
    results to ``incremental_neardup_pairs``, but the corpus band/sig
    tables stream out of bucketed storage with no exchange."""
    return incremental_neardup_pairs(
        spark.table(f"{table_prefix}_sigs"),
        batch,
        id_col,
        text_col,
        n=n,
        bands=bands,
        rows_per_band=rows_per_band,
        min_est_jaccard_ppm=min_est_jaccard_ppm,
        corpus_banded=spark.table(f"{table_prefix}_bands"),
    )
