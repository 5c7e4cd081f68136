"""Deterministic distributed k-means (Lloyd's) for training IVF/ANN
centroid codebooks from the data instead of shipping literal constants
(the codebook `ivf_topk` consumes).

Two determinism disciplines make the result identical run-to-run on ANY
partitioning or cluster size -- required for rows-only correctness
checks and for reproducible codebooks in a production pipeline:

- **Init**: the k seed vectors are the rows with the k smallest
  md5(id) values -- content-addressed, no RNG, no partition-order
  dependence (ties impossible: md5 of distinct ids).
- **Means**: per-cluster sums accumulate in DECIMAL, not double.
  Decimal addition is exact and associative, so the sum -- and hence
  the centroid -- does not depend on the order Spark combines partial
  aggregates. Float32 inputs round to DECIMAL(28,10) deterministically
  (a pure per-value function); the final mean divides in double from
  identical operands on every run.

Scale shape per iteration: ONE scan assigning each row to its nearest
centroid (k x dim literal expression, whole-stage codegen) feeding a
k-group aggregate with dim decimal sum buffers -- map-side combine
bounds the shuffle at partitions x k x dim values regardless of input
size. The k x dim codebook is collected driver-side (tiny, the same
pattern as the IVF probe ranking).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

_ACC = "decimal(28,10)"


def _sq_dist(vec, centroid_lit):
    return F.aggregate(
        F.zip_with(vec, centroid_lit, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda s, v: s + v,
    )


def _with_assignment(df: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """Append (cluster_id, sq_dist) = argmin/min over the codebook.

    Distances are built as ONE array column and reduced with array_min /
    array_position (first-occurrence = lowest-cluster-id tiebreak). A
    when-chain argmin would embed the running best expression twice per
    step -- a 2^k expression-tree blowup that took this operator from
    ~2s to ~20s at k=8 before this shape.

    The codebook travels as broadcast DATA, not as a plan literal (r9):
    a 1-row array<array<double>> ``LocalRelation`` built by
    ``session.local_frame`` (an Arrow batch, so no Python worker starts
    per round) and cross-joined in. With literals,
    every Lloyd's iteration embeds NEW constants in the stage, so
    whole-stage codegen recompiles per iteration (~5s each at k=16 --
    the dominant cost of the semantic-dedup family, measured identical
    at sf0.001 and sf0.1). As data, the generated code is
    iteration-invariant (one compile, codegen-cache hits afterwards:
    6-9s/iter -> ~2s/iter measured) and the per-row IEEE arithmetic is
    unchanged (verified bit-equal). This is also the honest 100 TB
    shape: the codebook is a broadcast variable, not query text."""
    cb = local_frame(
        df.sparkSession,
        [([[float(x) for x in c] for c in centroids],)],
        "__cb array<array<double>>",
    )
    dists = F.transform(F.col("__cb"), lambda c: _sq_dist(F.col(vec_col), c))
    return (
        df.crossJoin(F.broadcast(cb))
        .withColumn("__dists", dists)
        .withColumn("sq_dist", F.array_min("__dists"))
        .withColumn(
            "cluster_id",
            (F.array_position("__dists", F.col("sq_dist")) - 1).cast("int"),
        )
        .drop("__dists", "__cb")
    )


def _malformed(vec_col: str, dim: int) -> ValueError:
    return ValueError(
        f"kmeans: every {vec_col!r} vector must have {dim} non-null "
        "elements (found a null element or a ragged or empty vector)"
    )


def seed_centroids(
    df: DataFrame, id_col: str, vec_col: str, k: int
) -> list[list[float]]:
    """Content-addressed init: the k rows with the smallest md5(id)."""
    rows = (
        df.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")))
        .limit(k)
        .collect()
    )
    return [list(r[1]) for r in rows]


def kmeans_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iterations: int = 5,
) -> list[list[float]]:
    """Train a k x dim codebook; returns centroids ordered by cluster id.
    Empty clusters keep their previous centroid (deterministic, and the
    content-addressed init makes them rare). An EMPTY input returns an
    empty codebook instead of crashing (S6 empty-input discipline --
    found by the sf1 scale-oracle run, where a quality gate legitimately
    filtered a whole corpus away upstream of the fit).

    NULL vectors are excluded before seeding and assignment (r10, found
    by the NULL-injected oracle tier: a NULL embedding has no position
    in the space -- seeding from one crashed the codebook collect, and
    its NULL distances would poison every per-cluster mean). The same
    policy applies across operators/similarity.py; oracles mirror it
    with ``WHERE embedding IS NOT NULL``."""
    df = df.filter(F.col(vec_col).isNotNull())
    # The per-iteration argmin is k x dim interpreted fold work per row
    # (~4 ms/row at k=32 x dim=64): spread the projected (id, vec) frame
    # across the session (no-op on multi-split inputs) and persist it, so
    # each Lloyd's iteration is one cached-columnar scan instead of
    # scan+exchange -- the exact shape the module docstring promises at
    # 100 TB.
    #
    # The fit (seeding and the Lloyd loop) runs in a clone of the session
    # (session.isolated_session) with AQE off: its per-round queries are fixed-shape control
    # aggregates over a k x dim keyspace, where AQE's per-exchange
    # QueryStage materialization adds 2 driver round trips per round and
    # has nothing to improve (no skew, nothing to coalesce) -- measured
    # ~2.4x per-round latency at sf0.1. AQE is a physical-planning
    # feature, so results are unchanged; the caller's session, and every
    # query other threads run on it, keeps AQE on.
    from ..catalog import FOLD_BYTES_PER_TASK, spread_input
    from ..session import isolated_session

    vecs = spread_input(
        df.select(F.col(id_col), F.col(vec_col)), FOLD_BYTES_PER_TASK
    ).persist()
    try:
        loop = isolated_session(df.sparkSession, kmeans_vecs=vecs)
        loop.conf.set("spark.sql.adaptive.enabled", "false")
        return _kmeans_fit_cached(
            loop.table("kmeans_vecs"), id_col, vec_col, k, iterations
        )
    finally:
        vecs.unpersist()


def _kmeans_fit_cached(
    df: DataFrame, id_col: str, vec_col: str, k: int, iterations: int
) -> list[list[float]]:
    centroids = seed_centroids(df, id_col, vec_col, k)
    if not centroids:
        return []
    dim = len(centroids[0])
    if any(len(c) != dim or None in c for c in centroids):
        raise _malformed(vec_col, dim)
    # r12: the per-iteration aggregate is TRANSPOSED -- posexplode the
    # vector and sum ONE decimal column grouped by (cluster_id, pos)
    # instead of dim separate sum(v[i]) aggregates. The old shape carried
    # 2*dim+1 aggregate buffer fields, which is past the whole-stage-
    # codegen field limit (spark.sql.codegen.maxFields=100 at dim=64), so
    # both aggregation stages ran INTERPRETED and the first execution paid
    # a ~27 s codegen compile of the 64-sum monster (cold x3_semantic_dedup
    # measured 32.7 s vs 5.4 s warm). The transposed agg is a 2-buffer
    # codegen'd HashAggregate; partial aggregation still bounds the
    # shuffle at partitions x k x dim rows, the same scale shape as
    # before. Addend sets per (cluster, pos) are identical and decimal
    # addition is associative, so every sum -- and hence every centroid --
    # is bit-identical to the old plan's (verified, 3 iterations).
    for _ in range(iterations):
        assigned = _with_assignment(
            df.select(F.col(vec_col).alias("v")), "v", centroids
        )
        sums = (
            # _outer: an EMPTY vector yields one (NULL, NULL) row instead
            # of vanishing, so it is rejected below like a ragged one
            assigned.select(
                "cluster_id", F.posexplode_outer("v").alias("pos_", "x_")
            )
            .groupBy("cluster_id", "pos_")
            .agg(
                F.count("x_").alias("n"),
                F.expr(f"sum(cast(x_ as {_ACC})) AS s"),
            )
            .collect()
        )
        new = [list(c) for c in centroids]
        comps: dict[int, list] = {}
        for r in sums:
            if r.pos_ is None or r.pos_ >= dim:
                raise _malformed(vec_col, dim)
            comps.setdefault(r.cluster_id, [None] * dim)[r.pos_] = (r.s, r.n)
        for cid, parts in comps.items():
            # a null element or a ragged vector has no distance to any
            # centroid (cluster_id NULL) and shows up as a missing
            # position or unequal non-null counts across positions
            if cid is None or None in parts:
                raise _malformed(vec_col, dim)
            counts = {n for _, n in parts}
            if len(counts) != 1 or 0 in counts:
                raise _malformed(vec_col, dim)
            new[cid] = [float(s) / n for (s, n) in parts]
        centroids = new
    return centroids


def kmeans_cluster_sizes(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iterations: int = 5,
) -> DataFrame:
    """Final assignment counts + within-cluster squared-distance SUM
    (fixed-point, 4 decimal digits) under the trained codebook -- the
    convergence summary a codebook-training job reports.

    The sum is reported rather than the mean (r7): a decimal SUM followed
    by FLOOR(x * 10^4) is exact integer arithmetic on both Spark and
    DuckDB, which makes the whole k-means run SQL-oracle-able -- a mean
    would introduce decimal DIVISION, whose result scale and rounding
    rules differ between engines at the last digit. Inertia comparisons
    just sum the per-cluster values."""
    df = df.filter(F.col(vec_col).isNotNull())  # same policy as kmeans_fit
    centroids = kmeans_fit(df, id_col, vec_col, k, iterations)
    # spread the final-assignment scan too (same per-row fold cost)
    from ..catalog import FOLD_BYTES_PER_TASK, spread_input

    assigned = _with_assignment(
        spread_input(df.select(F.col(vec_col).alias("v")), FOLD_BYTES_PER_TASK),
        "v",
        centroids,
    )
    return (
        assigned.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_members"),
            # decimal-sum the (deterministic per-row) distances so the
            # reported inertia is order-independent too
            F.floor(F.sum(F.col("sq_dist").cast(_ACC)) * 10000)
            .cast("bigint")
            .alias("sum_sq_dist_fp4"),
        )
    )
