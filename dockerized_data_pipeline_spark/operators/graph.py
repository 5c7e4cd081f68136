"""Triangle counting over a DataFrame edge list.

Two distributed shapes exist for triangle counting, and the right one
depends on graph DENSITY, not size:

* **Ordered-edge 3-join** (the classic): store each undirected edge once
  as (a < b), then ``e1 JOIN e2 ON e2.a = e1.b JOIN e3 ON (e1.a, e2.b)``.
  Scales to arbitrarily many nodes -- every step is an equi-join keyed on
  node ids -- but materializes one row per WEDGE (two-edge path). On a
  dense graph wedges explode quadratically: the sf0.1 supplier co-order
  graph (1,000 nodes, 91% of all possible edges) has 138M wedges, and
  Spark spent 13s pushing them through two hash joins for a 1-row answer
  (measured r8; DuckDB's vectorized counting did it in 1.2s).

* **Bitset adjacency intersection** (this operator): dictionary-encode
  nodes to dense ids, build each node's out-neighbor set as a bit mask
  (array of 64-bit words), broadcast the masks, and count per edge with
  ``sum(bit_count(mask[a] & mask[b]))``. Per edge the work is
  ceil(n/64) AND+popcount word ops -- the sf0.1 graph needs 453k x 16
  word ops (~7M) instead of 138M join rows: the triangle stage drops to
  ~0.5s, 25x less work, all inside whole-stage codegen with zero
  shuffle after the mask build (one groupBy).

Use the bitset path when node count is dictionary-small (masks are
n_nodes/8 bytes each; 1M nodes = 125KB/mask is the practical ceiling
where the broadcast is still a few GB only for very dense graphs -- for
co-occurrence/correlation graphs, which are dense by construction, this
is the 100 TB-posture plan because the node universe is a dimension, not
a fact). Fall back to the ordered 3-join when nodes number in the many
millions AND the graph is sparse (wedge count ~ sum of degree^2 stays
linear-ish); that plan remains the query's DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..catalog import FOLD_BYTES_PER_TASK, spread_input


def triangle_count_bitset(
    edges: DataFrame, a_col: str = "a", b_col: str = "b"
) -> DataFrame:
    """Count triangles of an ORIENTED edge list (each undirected edge
    exactly once, with ``a < b``); returns a 1-row (n_triangles bigint)
    DataFrame.

    Each triangle {x < y < z} is counted exactly once: at edge (x, y),
    as z ranges over the common out-neighbors of x and y.

    The node dictionary uses one row_number window (single-task sort over
    the NODE table -- dimension-sized, not edge-sized; at >10M nodes
    switch to the 3-join or a range-bucketed id assignment).
    """
    e = edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    nodes = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct()
    )
    # row_number over node ASC keeps the a<b orientation valid in nid space
    dct = nodes.withColumn(
        "nid", (F.row_number().over(Window.orderBy("node")) - 1).cast("int")
    ).localCheckpoint(eager=True)
    n = dct.count()
    nwords = max(1, (n + 63) // 64)  # floor 1: sequence(0, -1) DESCENDS

    da = dct.select(F.col("node").alias("a"), F.col("nid").alias("na"))
    db = dct.select(F.col("node").alias("b"), F.col("nid").alias("nb"))
    ed = (
        e.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select("na", "nb")
        .localCheckpoint(eager=True)
    )

    masks = ed.groupBy("na").agg(F.collect_list("nb").alias("nbrs")).select(
        "na",
        F.expr(
            f"transform(sequence(0, {nwords - 1}), w -> aggregate("
            f"filter(nbrs, x -> CAST(x DIV 64 AS INT) = w), CAST(0 AS BIGINT), "
            f"(s, x) -> s | shiftleft(CAST(1 AS BIGINT), CAST(x % 64 AS INT))))"
        ).alias("mask"),
    )
    ma = masks.select(F.col("na").alias("k_a"), F.col("mask").alias("mask_a"))
    mb = masks.select(F.col("na").alias("k_b"), F.col("mask").alias("mask_b"))
    # nodes without out-edges have no mask row; the inner join drops those
    # edges, which is exact -- their common-out-neighbor count is 0
    # spread the per-edge scoring: the checkpointed frame may be one
    # coalesced partition
    return (
        spread_input(ed, FOLD_BYTES_PER_TASK)
        .join(F.broadcast(ma), F.col("na") == F.col("k_a"))
        .join(F.broadcast(mb), F.col("nb") == F.col("k_b"))
        .select(
            F.expr(
                "aggregate(zip_with(mask_a, mask_b, (x, y) -> bit_count(x & y)), "
                "CAST(0 AS BIGINT), (s, v) -> s + CAST(v AS BIGINT))"
            ).alias("c")
        )
        .agg(
            F.coalesce(F.sum("c"), F.lit(0))
            .cast("bigint")
            .alias("n_triangles")
        )
    )
