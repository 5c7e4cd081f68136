"""Similarity search over embedding columns (SURVEY section 2.11 X3).

Baseline: brute-force cosine top-k -- a single scan with per-row
higher-order-function math and a TakeOrderedAndProject (distributed top-k,
no global sort). This is the exact answer and scales linearly.

Scale path: LSH bucketing (BucketedRandomProjectionLSH) so only same-bucket
pairs are scored -- candidate generation cost tracks bucket density, not n^2.
An IVF-style variant (cluster assignment + probe) can reuse the same probe
interface later.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import cosine, literal_vector
from ..session import local_frame


def cosine_topk(
    df: DataFrame,
    query_vec,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector.

    Scores are rounded before ordering so ranking is stable across engines
    and runs; ties broken by id. Returns (id, cos_sim DECIMAL(18,4))."""
    q = literal_vector(query_vec)
    # NULL vectors have no similarity to anything: excluded (r10 NULL-tier
    # policy, shared across this module and operators/kmeans.py; oracles
    # mirror it with WHERE embedding IS NOT NULL)
    scored = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), q), round_digits)
        .cast(f"decimal(18,{round_digits})")
        .alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), id_col).limit(k)


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs by brute-force self-join.

    Exact but quadratic: only for modest partitions / oracle checks. The
    production path for 100 TB is lsh_neardup_pairs below.

    Norms are materialized per ROW before the self-join (localCheckpoint:
    an un-materialized subtree would re-derive them per PAIR — 2n of 3
    O(dim) folds in the n^2 hot loop were redundant; measured 37s -> ~13s
    at 6k vectors). The pair arithmetic is still dot/(norm*norm) with the
    same left-to-right folds, so scores stay bit-identical to the DuckDB
    oracle's expression."""
    from ..catalog import FOLD_BYTES_PER_TASK, spread_input
    from ..functions.vectors import dot, norm

    side = (
        df.filter(F.col(vec_col).isNotNull())  # r10 NULL-vector policy
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("nrm", norm(F.col("v")))
    )
    side = side.localCheckpoint(eager=True)
    # Spread the LEFT side of the cartesian: a single-split corpus otherwise
    # makes the n^2 scoring loop ONE task (measured 22 s at sf0.1, 32 cores
    # idle); the cartesian's task grid is left.partitions x
    # right.partitions, so only the left side needs spreading and only
    # (id, v, nrm) rows cross the tiny exchange.
    a = spread_input(side, FOLD_BYTES_PER_TASK).select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = side.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    sim = F.round(
        dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), round_digits
    ).cast(f"decimal(18,{round_digits})")
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def ivf_assignments(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (IVF coarse quantizer).

    Centroids are a literal array-of-arrays broadcast into the plan as a
    constant -- for a few-hundred-centroid codebook this is a pure per-row
    projection, no join, no shuffle. Deterministic argmax as a similarity
    ARRAY reduced by array_max/array_position (first occurrence: ties ->
    lowest centroid id); a when-chain argmax embeds the running best
    twice per step, a 2^k expression blowup (same fix as
    operators/kmeans.py).
    """
    import math

    from ..catalog import FOLD_BYTES_PER_TASK, spread_input
    from ..functions.vectors import dot, norm

    # the k x dim argmax is per-row fold work; a single-split input runs it
    # in one task -- spread it (no-op on multi-split inputs)
    df = spread_input(df.filter(F.col(vec_col).isNotNull()), FOLD_BYTES_PER_TASK)

    # The codebook travels as broadcast DATA (1-row frame, cross-joined),
    # not as plan literals (r9, same rationale as kmeans._with_assignment:
    # literal constants force a whole-stage-codegen recompile per distinct
    # codebook; as data the generated code is codebook-invariant and the
    # per-row IEEE arithmetic is unchanged -- verified bit-equal).
    # Per-centroid norms are computed driver-side with the same
    # left-to-right double accumulation + IEEE sqrt the folded constant
    # used, so every sim value stays bit-identical to the oracle's
    # dot/(norm*norm) expression.
    norms = [
        math.sqrt(sum((float(x) * float(x) for x in c), 0.0)) for c in centroids
    ]
    cb = local_frame(
        df.sparkSession,
        [([[float(x) for x in c] for c in centroids],
          [float(n) for n in norms])],
        "__cb array<array<double>>, __cn array<double>",
    )
    # try_divide + coalesce-to-0 (r10 NULL tier): a ZERO vector (e.g. the
    # hash-embed of a NULL text) has no direction -- its cosine against
    # every centroid is NULL (try_divide mirrors DuckDB x/0 -> NULL), and
    # the argmax falls back to the first centroid, the same
    # tie-to-lowest-cid rule the oracle's ROW_NUMBER replay applies.
    sims = F.zip_with(
        F.col("__cb"),
        F.col("__cn"),
        lambda c, nc: F.try_divide(
            dot(F.col(vec_col), c), norm(F.col(vec_col)) * nc
        ),
    )
    return (
        df.crossJoin(F.broadcast(cb))
        .withColumn("__sims", sims)
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.coalesce(
                F.array_position("__sims", F.array_max("__sims")) - 1,
                F.lit(0),
            )
            .cast("int")
            .alias("cluster_id"),
        )
    )


def rank_probe_clusters(query_vec, centroids, n_probe: int) -> list[int]:
    """The n_probe cluster ids nearest the query by centroid cosine
    (driver-side over the tiny codebook; ties break to the lower id)."""
    import math

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb) if na and nb else 0.0

    return sorted(
        range(len(centroids)), key=lambda c: (-cos(query_vec, centroids[c]), c)
    )[:n_probe]


def ivf_topk(
    df: DataFrame,
    query_vec,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """IVF-style ANN top-k: score only vectors whose cluster is among the
    n_probe clusters nearest the query (the scale path: with a pre-computed
    ``cluster_id`` partition column this prunes the scan to n_probe/n_lists
    of the corpus; here assignment is computed inline).

    Deterministic; recall depends on n_probe (exact when n_probe = #lists).
    """
    from ..functions.vectors import literal_vector

    probe = rank_probe_clusters(query_vec, centroids, n_probe)

    assigned = ivf_assignments(df, centroids, id_col, vec_col)
    q = literal_vector(query_vec)
    return (
        assigned.filter(F.col("cluster_id").isin(*probe))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), round_digits)
            .cast(f"decimal(18,{round_digits})")
            .alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(k)
    )


def lsh_neardup_pairs(
    df: DataFrame,
    threshold_euclidean: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_length: float = 0.5,
    num_hash_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate near-neighbor pairs via random-projection LSH: the scale
    path for X3 (bucket join instead of cross join). For unit-normalized
    vectors, euclidean distance d maps to cosine 1 - d^2/2."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    vecs = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("raw"),
    )
    normed = Normalizer(inputCol="raw", outputCol="features", p=2.0).transform(vecs)
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(normed)
    pairs = model.approxSimilarityJoin(normed, normed, threshold_euclidean, distCol="dist")
    return (
        pairs.filter(F.col("datasetA.id") < F.col("datasetB.id"))
        .select(
            F.col("datasetA.id").alias("id_a"),
            F.col("datasetB.id").alias("id_b"),
            F.round(1 - F.col("dist") * F.col("dist") / 2, 4)
            .cast("decimal(18,4)")
            .alias("cos_sim_approx"),
        )
    )


def brp_bucket_table(
    df: DataFrame,
    unit_vectors: list[list[float]],
    bucket_length: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-projection LSH band table (doc, band, sig) -- the embedding
    analog of dedup.banded_signatures, and deliberately the SAME column
    names so dedup's band_bucket_profile / _drop_hot_buckets compose.

    Native expression arithmetic, no pyspark.ml: p=2 normalization with
    the forward-order fold (bit-identical to DuckDB list_reduce -- the
    cross-engine contract pinned in plans/mllsh.py), then per table j
    bucket = floor(dot(u, r_j) / bucket_length). The projection matrix
    ships as ONE nested literal and the per-table loop runs inside a
    transform lambda, so the plan tree stays constant-size regardless of
    numTables x dim (the literal_matrix lesson, functions/vectors.py).
    One narrow projection per row, no shuffle; 24-byte band rows (the
    slim persistable-index posture of dedup.banded_signatures)."""
    normed = brp_normalized(df, id_col, vec_col)
    proj = F.transform(
        F.lit([[float(v) for v in r] for r in unit_vectors]),
        lambda r: F.floor(
            F.aggregate(
                F.zip_with(F.col("u"), r, lambda x, y: x * y),
                F.lit(0.0),
                lambda a, b: a + b,
            )
            / F.lit(float(bucket_length))
        ).cast("long"),
    )
    return normed.select("doc", F.posexplode(proj).alias("band", "sig"))


def brp_normalized(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(doc, u): p=2-normalized double vectors, forward-fold norm --
    the shared arithmetic base of bucketing and exact re-distance (both
    engines, see plans/mllsh.py _normalized_cte). NULL vectors excluded
    (the r10 NULL-vector policy)."""
    raw = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    nrm = F.sqrt(
        F.aggregate(F.transform(raw, lambda x: x * x), F.lit(0.0), lambda a, b: a + b)
    )
    return df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("doc"), F.transform(raw, lambda x: x / nrm).alias("u")
    )


def brp_neardup_pairs_capped(
    df: DataFrame,
    threshold_euclidean: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    unit_vectors: list[list[float]] | None = None,
    bucket_length: float = 0.02,
    max_bucket_size: int = 128,
    round_digits: int = 4,
) -> DataFrame:
    """Random-projection LSH near-neighbor pairs with a HOT-BUCKET CAP --
    the 100x-scale form of lsh_neardup_pairs (VERDICT r10 task 3).

    Why the cap exists: pyspark.ml's approxSimilarityJoin has no bound on
    bucket size, so a near-orthogonal corpus (every vector projects near
    0) degenerates to one mega-bucket and a quadratic join -- observed as
    the sf1 timeout in SCALE_ORACLE_r10. This port of the MinHash design
    (operators/dedup.py _drop_hot_buckets) drops band rows in buckets
    larger than ``max_bucket_size`` BEFORE the self-join, bounding
    per-bucket work at cap^2 -- a recall tradeoff, never precision (the
    exact re-distance still filters every surviving candidate). Dropping
    is first-class, not silent: run band_bucket_profile on
    brp_bucket_table's output (the x3_brp_bucket_skew_profile query) to
    see exactly which bucket sizes exceeded the cap.

    The finer default bucket_length (0.02 vs the ml path's 0.5) spreads
    an isotropic cloud over ~150 buckets/table instead of ~2, so capped
    candidate generation keeps real recall on the tail buckets instead
    of dropping the whole corpus as one hot bucket.

    Fully deterministic and ORACLE-ABLE at scale: projections are frozen
    literals (plans/mllsh.py UNIT_VECTORS), arithmetic is the pinned
    forward-fold contract, so the whole flow -- cap included -- replays
    in DuckDB SQL (plans/mllsh.py brp_pairs_capped_sql).
    Returns (id_a, id_b, cos_sim_approx) with exact dist < threshold.
    """
    if unit_vectors is None:
        from ..plans.mllsh import UNIT_VECTORS

        unit_vectors = UNIT_VECTORS
    banded = brp_bucket_table(df, unit_vectors, bucket_length, id_col, vec_col)
    # materialize once: the hot-list agg + both join sides are three
    # consumers of the normalize+project subtree (same rule as the
    # MinHash capped path; eager=False keeps build-no-actions).
    banded = banded.localCheckpoint(eager=False)
    from .dedup import _drop_hot_buckets

    kept = _drop_hot_buckets(banded, max_bucket_size)
    a = kept.alias("a")
    b_ = kept.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )
    u = brp_normalized(df, id_col, vec_col)
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("__ua"), F.col("__ub"), lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return (
        cand.join(u.select(F.col("doc").alias("id_a"), F.col("u").alias("__ua")), "id_a")
        .join(u.select(F.col("doc").alias("id_b"), F.col("u").alias("__ub")), "id_b")
        .select(
            "id_a",
            "id_b",
            dist.alias("__dist"),
        )
        .filter(F.col("__dist") < threshold_euclidean)
        .select(
            "id_a",
            "id_b",
            F.round(1 - F.col("__dist") * F.col("__dist") / 2, round_digits)
            .cast(f"decimal(18,{round_digits})")
            .alias("cos_sim_approx"),
        )
    )


def verified_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold_euclidean: float = 0.5,
    round_digits: int = 4,
) -> DataFrame:
    """LSH candidates -> EXACT cosine verification: the embedding analog of
    dedup.verified_neardup_pairs. Random-projection LSH proposes candidate
    pairs (bucket join, cost tracks neighborhood density); the exact cosine
    then runs ONLY on the candidate list via two hash joins back to the
    vectors -- never an all-pairs product. An LSH false positive can never
    survive (exact score filters it); only recall depends on LSH.

    Returns (id_a, id_b, cos_sim DECIMAL) with exact cos_sim >= threshold.
    """
    cand = lsh_neardup_pairs(
        df, threshold_euclidean, id_col, vec_col
    ).select("id_a", "id_b")
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("__va"), F.col("__vb")), round_digits)
            .cast(f"decimal(18,{round_digits})")
            .alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def centroid_purity(
    emb: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    fxp: int = 4096,
) -> DataFrame:
    """Nearest-centroid label confusion matrix (embedding label-quality
    audit). Exact cross-engine arithmetic: components become
    round(x * fxp) bigints (power-of-two scaling is exact in doubles and
    both Spark and DuckDB round halves away from zero), so centroid sums,
    dots, and norms are exact integers; cosine is scale-invariant, so the
    un-normalized centroid SUM vector stands in for the mean. At 100 TB:
    the component explode is a slim (id, i, q) stream, centroids reduce to
    n_labels x dim rows that broadcast into the dot join, per-vector
    aggregates shuffle on the high-cardinality id only, and the argmax
    window is per-vector over n_labels rows. Returns (true_label,
    nearest_label, n_vecs, min_cos_ppm, max_cos_ppm)."""
    from pyspark.sql import Window

    emb = emb.filter(F.col(vec_col).isNotNull())  # r10 NULL-vector policy
    # r11 restructure (same values, ~1/3 the plan): the r10 form exploded
    # the corpus FOUR times (centroids, vector norms, the dot join, plus
    # the label join re-scan) and pushed an n_vecs x dim x n_labels row
    # stream through a hash aggregate. Here the quantized vector is kept
    # as ONE array column: centroids still come from a single explode +
    # hash-agg (exact integer sums, unchanged), but they collapse into a
    # one-row broadcast codebook and every per-(vector, candidate) dot /
    # norm is a codegen'd array fold over exact bigints -- no dot-join
    # shuffle, no vnorm shuffle, no re-scan for the true label (it rides
    # the row). Fold order is irrelevant: all sums are exact integers.
    qrow = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("label"),
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * fxp, 0).cast("bigint"),
        ).alias("qv"),
    ).filter(F.size("qv") > 0)
    # one materialization: qrow feeds the centroid build AND the scoring
    # pass (two scans + double quantization otherwise)
    qrow = qrow.localCheckpoint(eager=False)

    comp = qrow.select("label", F.posexplode("qv").alias("i0", "q"))
    cent = comp.groupBy(F.col("label").alias("cand"), "i0").agg(
        F.sum("q").alias("s")
    )

    # SQL-sum semantics for the folds: NULL terms are skipped, an all-NULL
    # term list sums to NULL (no tier carries NULL array elements today,
    # but the behavior must match the hash-agg original)
    def _sqlsum(arr):
        terms = F.filter(arr, lambda t: t.isNotNull())
        return F.when(
            F.size(terms) > 0,
            F.aggregate(
                terms, F.lit(0).cast("bigint"), lambda a, b: a + b
            ),
        )

    # per-candidate component arrays ordered by component index; cn2 is
    # the same skip-NULL integer fold the r10 cnorm aggregate computed,
    # done over the collapsed array (drops a whole exchange + join from
    # the critical path); the isNotNull filter replicates the r10 inner
    # cnorm join's NULL-label-group drop
    cand_vecs = (
        cent.groupBy("cand")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i0", "s"))),
                lambda st: st["s"],
            ).alias("sv")
        )
        .filter(F.col("cand").isNotNull())
        .withColumn("cn2", _sqlsum(F.transform("sv", lambda s: s * s)))
    )
    codebook = cand_vecs.agg(
        F.collect_list(F.struct("cand", "sv", "cn2")).alias("__cb")
    )

    # Score per (vector, candidate) row: explode the tiny broadcast
    # codebook per vector, one codegen-friendly fold per pair. (A fully
    # window-free per-row array_max argmax was tried and measured SLOWER
    # -- nesting the dot fold inside a transform lambda de-optimizes the
    # higher-order-function evaluator; the explode keeps each fold a
    # flat top-level expression.)
    scored = (
        qrow.crossJoin(F.broadcast(codebook))
        .withColumn("vn2", _sqlsum(F.transform("qv", lambda q: q * q)))
        .select("vec_id", "label", "qv", "vn2", F.explode("__cb").alias("c"))
        .select(
            "vec_id",
            "label",
            F.col("c.cand").alias("cand"),
            F.floor(
                _sqlsum(
                    F.zip_with(F.col("qv"), F.col("c.sv"), lambda q, s: q * s)
                ).cast("double")
                / (
                    F.sqrt(F.col("vn2").cast("double"))
                    * F.sqrt(F.col("c.cn2").cast("double"))
                )
                * 1_000_000
            )
            .cast("bigint")
            .alias("cos_ppm"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_ppm").desc(), F.col("cand"))
    nearest = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return nearest.groupBy(
        F.col("label").alias("true_label"),
        F.col("cand").alias("nearest_label"),
    ).agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.min("cos_ppm").cast("bigint").alias("min_cos_ppm"),
        F.max("cos_ppm").cast("bigint").alias("max_cos_ppm"),
    )


def semantic_dedup_pairs(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """SemDeDup-style candidate pairs (Abbas et al. 2023, arXiv:2303.09540):
    partition the embedding space with a k-means codebook, then score
    cosine ONLY within each cluster -- the quadratic scan drops from
    O(n^2) to O(sum c_i^2), and with k ~ sqrt(n) clusters that is ~O(n)
    pairs. Vectors are L2-normalized BEFORE the self-join so each pair
    costs one dot-product fold, not three; scores are rounded to a fixed
    point so the >= threshold cut is stable run-to-run.

    At 100 TB: the join shuffles both sides once on cluster_id; hot
    (oversized) clusters are the skew risk -- raise k, or route clusters
    above a size cap through lsh_neardup_pairs instead of the exact scan.
    """
    from ..functions.vectors import dot

    # localCheckpoint: the assignment+normalization subtree (O(n x k x
    # dim) argmin per row) feeds BOTH sides of the self-join below, and
    # Spark computes an un-materialized subtree once per reference.
    # eager=False (r12): the checkpoint RDD materializes inside the first
    # consuming job instead of spending a dedicated job -- both join
    # sides then read the cached partitions (same one-materialization
    # guarantee, one fewer job round trip).
    assigned = unit_assigned(df, centroids, id_col, vec_col).localCheckpoint(
        eager=False
    )
    a = assigned.select(
        F.col("cluster_id").alias("ca"), F.col(id_col).alias("id_a"), F.col("u").alias("ua")
    )
    b = assigned.select(
        F.col("cluster_id").alias("cb"), F.col(id_col).alias("id_b"), F.col("u").alias("ub")
    )
    sim = F.round(dot(F.col("ua"), F.col("ub")), round_digits)
    return (
        a.join(b, (F.col("ca") == F.col("cb")) & (F.col("id_a") < F.col("id_b")))
        .select(
            "id_a",
            "id_b",
            F.col("ca").alias("cluster_id"),
            F.floor(sim * (10 ** round_digits)).cast("bigint").alias("cos_fp"),
        )
        .filter(F.col("cos_fp") >= int(threshold * 10 ** round_digits))
    )


def semantic_dedup(
    df: DataFrame,
    k: int = 32,
    iterations: int = 3,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Full SemDeDup pass: k-means codebook -> within-cluster cosine pairs
    -> connected-component collapse keeping the minimum id per semantic
    group. Returns the surviving rows of ``df`` (drop-in corpus filter).
    Deterministic end-to-end: content-addressed k-means init, decimal
    centroid sums, fixed-point scores."""
    from .dedup import collapse_neardups
    from .kmeans import kmeans_fit

    centroids = kmeans_fit(df, id_col, vec_col, k=k, iterations=iterations)
    if not centroids:  # empty corpus -> nothing to dedup, nothing dropped
        return df
    pairs = semantic_dedup_pairs(
        df, centroids, threshold, id_col, vec_col
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    return collapse_neardups(df, pairs, id_col=id_col)


# ---------------------------------------------------------------------------
# Disk-backed IVF index: the FAISS-IVF-on-object-store shape for 100 TB ANN.
# The corpus is laid out partitioned BY CLUSTER (hive directories), so a
# probe is a parquet read whose partition filter keeps only the n_probe
# matching directories -- the scan itself shrinks to n_probe/n_lists of the
# corpus bytes BEFORE any compute, which no inline-assignment plan can do.
# ---------------------------------------------------------------------------

_CODEBOOK_FILE = "_CODEBOOK.json"


def build_ivf_index(
    df: DataFrame,
    centroids: list[list[float]],
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_versions: int = 2,
) -> str:
    """Assign every vector to its nearest centroid and publish the corpus
    partitioned by ``cluster_id=K`` directories, with the codebook stored
    alongside (underscore-prefixed, invisible to parquet discovery).
    Published atomically via the versioned-table protocol; probes resolve
    the pointer ONCE (codebook + scan from the same version), and
    ``keep_versions=2`` keeps the superseded version on disk so a probe
    that resolved just before a republish finishes against intact files
    instead of a GC'd directory. Returns the version dir."""
    import json
    import os

    from .atomic import publish_table

    assigned = ivf_assignments(df, centroids, id_col, vec_col)

    def write(version_dir: str) -> None:
        assigned.write.partitionBy("cluster_id").mode("overwrite").parquet(
            version_dir
        )
        with open(os.path.join(version_dir, _CODEBOOK_FILE), "w") as f:
            json.dump(centroids, f)

    return publish_table(index_path, write, keep_versions=keep_versions)


def _resolve_index(index_path: str) -> str:
    """Pin one index version for the whole operation: resolving the
    symlink once means the codebook and the parquet scan can never mix
    versions across a concurrent republish."""
    import os

    return os.path.realpath(index_path)


def read_ivf_codebook(index_path: str) -> list[list[float]]:
    import json
    import os

    with open(os.path.join(index_path, _CODEBOOK_FILE)) as f:
        return json.load(f)


def ivf_topk_indexed(
    spark,
    index_path: str,
    query_vec,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """ANN top-k against a disk IVF index: rank the stored codebook
    driver-side, read ONLY the ``cluster_id IN probe`` partitions
    (partition pruning -- n_probe/n_lists of the files, asserted in
    tests via inputFiles), score, TakeOrderedAndProject. Identical
    results to the inline ``ivf_topk`` for the same codebook/n_probe."""
    version = _resolve_index(index_path)
    probe = rank_probe_clusters(query_vec, read_ivf_codebook(version), n_probe)
    q = literal_vector(query_vec)
    return (
        spark.read.parquet(version)
        .filter(F.col("cluster_id").isin(*probe))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), round_digits)
            .cast(f"decimal(18,{round_digits})")
            .alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(k)
    )


def semantic_dedup_incremental(
    spark,
    index_path: str,
    batch: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Incremental SemDeDup: score an arriving batch against the PERSISTED
    disk IVF index (and within itself) instead of re-clustering the
    corpus -- the O(batch) daily-delta shape of x2's incremental text
    dedup, at the embedding level. The batch assigns to the STORED
    codebook; the corpus side is read with ``cluster_id IN (batch's
    clusters)``, so partition pruning drops every list the batch never
    touches before any compute. Assumes batch ids are disjoint from the
    corpus (new documents). Returns canonicalized pairs
    (id_a < id_b, origin 'corpus'|'batch', fixed-point score)."""
    version = _resolve_index(index_path)
    cents = read_ivf_codebook(version)
    # localCheckpoint: b feeds the clusters collect, the corpus join, and
    # BOTH sides of the self join -- without it the O(batch x k x dim)
    # assignment subtree recomputes three more times
    b = unit_assigned(batch, cents, id_col, vec_col).localCheckpoint(eager=True)
    clusters = sorted(
        r.cluster_id for r in b.select("cluster_id").distinct().collect()
    )
    corpus = unit_assigned(
        spark.read.parquet(version).filter(F.col("cluster_id").isin(clusters)),
        None,
        id_col,
        vec_col,
    )
    return semantic_pairs_against(b, corpus, threshold, id_col, round_digits)


def unit_assigned(
    df: DataFrame,
    centroids: list[list[float]] | None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster_id, u): cluster assignment (computed against
    ``centroids``, or taken from an existing ``cluster_id`` column when
    None) plus the L2-normalized vector -- the working shape of every
    semantic-dedup join. The norm is materialized as its own column so
    the transform lambda never re-evaluates the O(dim) fold per element."""
    from ..functions.vectors import norm

    df = df.filter(F.col(vec_col).isNotNull())  # r10 NULL-vector policy
    assigned = (
        df if centroids is None else ivf_assignments(df, centroids, id_col, vec_col)
    )
    return (
        assigned.withColumn("__n", norm(F.col(vec_col)))
        .select(
            F.col(id_col),
            F.col("cluster_id"),
            # try_divide: a zero-norm vector normalizes to all-NULL (its
            # pair scores go NULL and fail every threshold), matching
            # DuckDB x/0 -> NULL where ANSI `/` raises (r10 NULL tier)
            F.transform(
                F.col(vec_col), lambda x: F.try_divide(x.cast("double"), F.col("__n"))
            ).alias("u"),
        )
    )


def semantic_pairs_against(
    b: DataFrame,
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    round_digits: int = 4,
) -> DataFrame:
    """Batch-touching semantic pairs: b-vs-corpus (same cluster) plus
    b-vs-b (same cluster, id_a < id_b). Inputs are ``unit_assigned``
    frames; corpus ids must be disjoint from batch ids. Canonicalized
    (id_a < id_b) with fixed-point scores."""
    from ..functions.vectors import dot

    def pairs(left: DataFrame, right: DataFrame, origin: str, self_join: bool):
        l = left.select(
            F.col("cluster_id").alias("ca"), F.col(id_col).alias("ia"), F.col("u").alias("ua")
        )
        r = right.select(
            F.col("cluster_id").alias("cb"), F.col(id_col).alias("ib"), F.col("u").alias("ub")
        )
        cond = F.col("ca") == F.col("cb")
        cond = cond & (F.col("ia") < F.col("ib")) if self_join else cond
        sim = F.round(dot(F.col("ua"), F.col("ub")), round_digits)
        return (
            l.join(r, cond)
            .select(
                F.least("ia", "ib").alias("id_a"),
                F.greatest("ia", "ib").alias("id_b"),
                F.col("ca").alias("cluster_id"),
                F.lit(origin).alias("origin"),
                F.floor(sim * (10 ** round_digits)).cast("bigint").alias("cos_fp"),
            )
            .filter(F.col("cos_fp") >= int(threshold * 10 ** round_digits))
        )

    return pairs(b, corpus, "corpus", self_join=False).unionByName(
        pairs(b, b, "batch", self_join=True)
    )
