"""Relational parity surface: join family (SURVEY section 2.3 J3), set ops
(section 2.7), window functions (section 2.5), and the hash-aggregation
family (section 2.4) exercised TPC-H-style over the star schema.

The reference delegates all of this to Postgres (README.md:193-208 invites
ad-hoc SQL); here each shape is a declarative Catalyst plan. Scale notes per
query: dimension joins are broadcast (region/nation/supplier are tiny at any
scale factor), fact-fact joins shuffle on their keys and rely on AQE for
skew, top-k plans become TakeOrderedAndProject (no global sort).

Numeric convention (see plans.registry): aggregated money amounts are cast to
DECIMAL *before* summing on both engine and oracle sides -- decimal addition
is exact and associative, so the result is independent of partition order;
double summation is not. Averages divide the exact decimal sum (as double) by
the count: identical operands -> identical IEEE result in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..session import isolated_session, local_frame
from .registry import query

# Tight decimal width keeps decimal products within precision 38 (exact in
# both Spark and DuckDB): prices < 1e8.
PRICE_DEC = "decimal(12,4)"


# ---------------------------------------------------------------------------
# Scaled-long money aggregation (r11 perf, guide section 2.3 "narrower
# types" applied to the aggregation buffer). The r10 convention cast every
# money double to DECIMAL per ROW and summed BigDecimals -- exact, but the
# double->BigDecimal cast plus decimal add dominated the single-split scan
# task of q1/q18/rollup (decimal(22,4) buffers are too wide for Spark's
# long-backed fast path). Every money column in every fixture tier is a
# clean 2-decimal quantity (max |x*100 - round(x*100)| < 4e-9 across
# /root/testdata sf0.001..0.1 and all fixtures/ tiers; tools/gen_scale.py
# emits F.round(..., 2)), so round(x*100) IS the exact decimal(„,2) value
# as a bigint. Sums run as codegen'd long adds; each GROUP's sum is then
# rebuilt into an exact DECIMAL (long * exact 10^-k decimal literal) so
# every downstream expression -- floor-to-cents, casts to double -- is the
# same correctly-rounded arithmetic as before, bit for bit.
#
# Range honesty: a scale-1e4 revenue long sum overflows past ~9.2e14 of
# summed revenue (~sf 4000 in one group); ANSI mode fails loudly there,
# and a per-row PRICE_DEC cast remains the documented fallback. Every
# declared tier (<= sf10) is orders of magnitude inside the bound.
_CENTS_SAFE_ABS = 1 << 45  # |x|*100 stays exactly representable far below this

# r12 (VERDICT r11 item 6): the clean-money contract behind the scaled-long
# path is now ENFORCEABLE, not just documented. With
# SPARK_GRAFT_MONEY_AUDIT=1, every _cents() conversion asserts per row that
# the input really is an exact 2-decimal quantity (|x*100 - round(x*100)|
# within the bound below) and raises loudly otherwise -- the verify/debug
# posture for onboarding a new data tier. Off (the default) the expression
# is the bare round+cast, zero overhead. tools/audit_money.py runs the same
# residual check offline over every committed tier. The bound is
# magnitude-aware, max(1e-6, |x*100| * 1e-15): a clean value's residual is
# two double roundings, at most |x*100| * 2.2e-16, which passes a flat 1e-6
# above ~$86M; a 3-decimal value leaves a residual >= 0.1, still caught for
# every |x| < 1e12.
_CENTS_EPS = 1e-6
_CENTS_REL_EPS = 1e-15


def _money_audit_on() -> bool:
    import os

    return os.environ.get("SPARK_GRAFT_MONEY_AUDIT", "0") == "1"


def _cents(name: str) -> F.Column:
    """Exact cents of a clean 2-decimal money double, as bigint."""
    scaled = F.col(name) * 100
    r = F.round(scaled, 0)
    if _money_audit_on():
        r = F.when(
            F.abs(scaled - r)
            > F.greatest(F.lit(_CENTS_EPS), F.abs(scaled) * _CENTS_REL_EPS),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"money audit: column {name} is not clean 2-decimal "
                        "(value "
                    ),
                    F.col(name).cast("string"),
                    F.lit(
                        "); the scaled-long fast path would silently round "
                        "-- use the decimal aggregation path for this tier"
                    ),
                )
            ).cast("double"),
        ).otherwise(r)
    return r.cast("bigint")


def _rev_fp(ext_name: str = "l_extendedprice", disc_name: str = "l_discount") -> F.Column:
    """Per-row revenue ext*(1-disc) as an exact scale-1e4 bigint:
    cents(ext) * (100 - cents-as-percent(disc)); disc in [0, 0.10] has two
    decimals, so round(disc*100) in 0..10 is exact."""
    return _cents(ext_name) * (F.lit(100).cast("bigint") - _cents(disc_name))


def _fp_dec(col: F.Column, frac: int) -> F.Column:
    """Rebuild the exact DECIMAL value of a scale-10^frac bigint sum:
    multiply by the exact decimal literal 10^-frac (never a decimal
    division, which rounds). Sums fit decimal(20,0); the product keeps
    full precision, so the value is bit-identical to the old decimal-sum
    path."""
    return col.cast("decimal(20,0)") * F.lit(10 ** -frac).cast(
        f"decimal({frac + 1},{frac})"
    )


def _revenue_fp_sum() -> F.Column:
    """sum of scale-1e4 revenue longs (pair with _fp_dec(..., 4))."""
    return F.sum(_rev_fp())


_REVENUE_SQL = (
    "SUM(CAST(l_extendedprice AS DECIMAL(12,4))"
    " * (CAST(1 AS DECIMAL(7,4)) - CAST(l_discount AS DECIMAL(7,4))))"
)


# ---------------------------------------------------------------------------
# Aggregations (A-family generalized; flagship = TPC-H Q1 shape)
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE) AS sum_base_price,
           CAST(FLOOR({_REVENUE_SQL} * 100) AS DOUBLE) / 100 AS sum_disc_price,
           CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*)
                AS DECIMAL(38,6)) AS DOUBLE) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship query: the reference's A1 monitoring aggregate generalized to
    the TPC-H Q1 shape (multi-measure partial+final hash agg after a pushed
    scan filter)."""
    li = load_table(spark, sf_dir, "lineitem")
    # r11: per-row money work is two double ops + a long cast (_cents);
    # sums are codegen'd long adds; every group rebuilds the EXACT decimal
    # (_fp_dec) so the final floor/cast arithmetic is unchanged bit for bit.
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_cents("l_quantity")).alias("__qty_fp"),
            F.sum(_cents("l_extendedprice")).alias("__ext_fp"),
            _revenue_fp_sum().alias("__rev_fp"),
            F.count("*").alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            _fp_dec(F.col("__qty_fp"), 2).cast("decimal(38,4)").alias("sum_qty"),
            _fp_dec(F.col("__ext_fp"), 2).cast("decimal(38,4)").alias("sum_base_price"),
            # FLOOR to cents then divide as doubles: the exact scale-8 sum's
            # unscaled value exceeds 2^53 at sf0.1+, where a direct
            # decimal->double cast double-rounds in DuckDB (hugeint->double,
            # then /1e8) but single-rounds in Spark -> 1-ULP drift; and
            # decimal DOWNSCALE casts are not portable either (DuckDB
            # truncates, Spark rounds half-up). FLOOR(x*100) is unambiguous
            # in both engines and cents fit a double exactly.
            (
                F.floor(_fp_dec(F.col("__rev_fp"), 4) * 100).cast("double")
                / F.lit(100.0)
            ).alias("sum_disc_price"),
            (
                _fp_dec(F.col("__qty_fp"), 2).cast("double") / F.col("count_order")
            )
            .cast("decimal(38,6)")
            .alias("avg_qty"),
            "count_order",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "agg_distinct_customers_per_status",
    oracle="""
    SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_distinct_customers_per_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count("*").alias("n_orders"),
        )
    )


@query(
    "agg_rollup_revenue",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_cents("l_quantity")).alias("__qty_fp"),
            F.count("*").alias("n"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            _fp_dec(F.col("__qty_fp"), 2).cast("decimal(38,4)").alias("sum_qty"),
            "n",
        )
    )


@query(
    "agg_cube_orders",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# Join family (J3) -- every Spark join type over the star schema
# ---------------------------------------------------------------------------


@query(
    "q3_unshipped_revenue_top10",
    oracle=f"""
    SELECT l_orderkey,
           CAST({_REVENUE_SQL} AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'FURNITURE'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def q3_unshipped_revenue_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> two equi-joins -> agg -> top-k.
    customer is small relative to the facts; Catalyst/AQE broadcasts it."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "FURNITURE")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_revenue_fp_sum().alias("__rev_fp"))
        .select(
            "l_orderkey",
            _fp_dec(F.col("__rev_fp"), 4).cast("decimal(38,8)").alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "q5_region_nation_revenue",
    oracle=f"""
    SELECT n_name, CAST({_REVENUE_SQL} AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name ORDER BY revenue DESC, n_name
    """,
)
def q5_region_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join. Dims (region/nation/supplier/customer) are
    broadcast; only orders><lineitem shuffles, on the join key."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(_revenue_fp_sum().alias("__rev_fp"))
        .select(
            "n_name",
            _fp_dec(F.col("__rev_fp"), 4).cast("decimal(38,8)").alias("revenue"),
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


@query(
    "join_semi_big_spenders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 200000)
    """,
)
def join_semi_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "join_left_outer_order_sizes",
    oracle="""
    SELECT o_orderkey, COUNT(l_orderkey) AS n_lines
    FROM orders LEFT JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderkey
    """,
)
def join_left_outer_order_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left")
        .groupBy("o_orderkey")
        .agg(F.count("l_orderkey").alias("n_lines"))
    )


@query(
    "join_full_outer_nation_presence",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_customers
               FROM customer GROUP BY c_nationkey),
         s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_suppliers
               FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(c.nk, s.nk) AS nationkey,
           COALESCE(n_customers, 0) AS n_customers,
           COALESCE(n_suppliers, 0) AS n_suppliers
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
)
def join_full_outer_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_customers"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    return c.join(s, c.nk == s.nk, "full_outer").select(
        F.coalesce(c.nk, s.nk).alias("nationkey"),
        F.coalesce(F.col("n_customers"), F.lit(0)).alias("n_customers"),
        F.coalesce(F.col("n_suppliers"), F.lit(0)).alias("n_suppliers"),
    )


@query(
    "join_cross_region_status",
    oracle="""
    SELECT r_name, o_orderstatus
    FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
)
def join_cross_region_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").select("r_name")
    status = load_table(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return region.crossJoin(status)


# ---------------------------------------------------------------------------
# Set operations (SURVEY section 2.7)
# ---------------------------------------------------------------------------


@query(
    "set_union_all_status_split",
    oracle="""
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'O'
    """,
)
def set_union_all_status_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    f = orders.filter(F.col("o_orderstatus") == "F")
    o = orders.filter(F.col("o_orderstatus") == "O")
    return f.unionByName(o)


@query(
    "set_intersect_active_buyers",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_acctbal > 0
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders
    """,
)
def set_intersect_active_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    pos = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select("c_custkey")
    )
    buyers = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return pos.intersect(buyers)


@query(
    "set_except_never_ordered",
    oracle="""
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders
    """,
)
def set_except_never_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    all_c = load_table(spark, sf_dir, "customer").select("c_custkey")
    buyers = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    # subtract == SQL EXCEPT (set semantics): any value present on the
    # right is removed regardless of multiplicities. exceptAll().distinct()
    # would wrongly keep values the left has MORE copies of than the right.
    return all_c.subtract(buyers)


@query(
    "set_except_all_multiset",
    oracle="""
    SELECT o_custkey FROM orders
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_except_all_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT ALL: per-row (not per-value) subtraction."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select("o_custkey").exceptAll(
        orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    )


@query(
    "set_intersect_all_multiset",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus IN ('F', 'O')
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_totalprice > 100000
    """,
)
def set_intersect_all_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderstatus").isin("F", "O"))
        .select("o_custkey")
        .intersectAll(
            orders.filter(F.col("o_totalprice") > 100000).select("o_custkey")
        )
    )


# ---------------------------------------------------------------------------
# Window functions (SURVEY section 2.5)
# ---------------------------------------------------------------------------


@query(
    "window_dedup_keep_newest",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY user_id, event_type
        ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def window_dedup_keep_newest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference upsert's keep-newest-per-key semantics
    (scripts/fetch_stock_data.py:94-101) as a ranking-window dedup."""
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        load_table(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


@query(
    "window_topk_orders_per_status",
    oracle="""
    SELECT o_orderstatus, o_orderkey, o_totalprice, rk FROM (
      SELECT o_orderstatus, o_orderkey, o_totalprice, ROW_NUMBER() OVER (
        PARTITION BY o_orderstatus
        ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders
    ) WHERE rk <= 3
    """,
)
def window_topk_orders_per_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 per status via the two-phase bucketed top-k: o_orderstatus has
    3 values, so a plain window would sort each third of the table in ONE
    task. The bucketed form's final sort sees <= buckets*k rows per status
    at any corpus size (operators/skew.py bucketed_topk)."""
    from ..operators.skew import bucketed_topk

    return bucketed_topk(
        load_table(spark, sf_dir, "orders").select(
            "o_orderstatus", "o_orderkey", "o_totalprice"
        ),
        partition_cols=["o_orderstatus"],
        order_by=[F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=3,
        rank_col="rk",
    )


@query(
    "window_running_sum",
    oracle="""
    SELECT event_id, event_type,
           CAST(SUM(CAST(value AS DECIMAL(12,4))) OVER (
             PARTITION BY event_type ORDER BY ts NULLS FIRST, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_value
    FROM events
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum per event_type (~5 values) via the composite-key
    two-phase form: inner windows over (event_type, day-of-ts) keep every
    sort bounded; per-day totals prefix-sum and broadcast back
    (operators/skew.py bucketed_running_sum). Exact because the values are
    DECIMAL (re-associating double sums would not be)."""
    from ..operators.skew import bucketed_running_sum

    ev = load_table(spark, sf_dir, "events")
    out = bucketed_running_sum(
        ev,
        partition_cols=["event_type"],
        order_cols=["ts", "event_id"],
        value=F.col("value").cast(PRICE_DEC),
        bucket=F.to_date("ts"),  # monotone in (ts, event_id)
        out_col="__run",
    )
    return out.select(
        "event_id",
        "event_type",
        F.col("__run").cast("decimal(38,4)").alias("running_value"),
    )


@query(
    "window_rank_gallery",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           NTILE(4) OVER w AS quartile,
           LEAD(o_orderkey) OVER w AS next_key,
           FIRST_VALUE(o_orderkey) OVER w AS first_key
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_rank_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function gallery over a 3-value partition key. SCALE NOTE:
    rank/dense_rank/ntile/lead are globally sequential within a partition,
    so this IS a single-task sort per status -- fine while one status's
    rows fit one task's spillable sort (~GBs), wrong posture past that.
    The scalable rewrite is two-pass: range-repartition by the order key,
    rank locally, then add per-range offsets from a prefix sum of range
    counts (the bucketed_running_sum pattern applied to counts). Kept
    single-pass here because the gallery's point is the function surface;
    window_topk_orders_per_status / window_running_sum show the scale
    forms."""
    w = Window.partitionBy("o_orderstatus").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.lead("o_orderkey").over(w).alias("next_key"),
        F.first("o_orderkey").over(w).alias("first_key"),
    )


@query(
    "window_lag_delta",
    oracle="""
    SELECT event_id, user_id,
           CAST(CAST(value AS DECIMAL(12,4)) - LAG(CAST(value AS DECIMAL(12,4))) OVER (
             PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
           ) AS DOUBLE) AS delta
    FROM events
    """,
)
def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    v = F.col("value").cast(PRICE_DEC)
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        (v - F.lag(v).over(w)).cast("decimal(38,4)").alias("delta"),
    )


@query(
    "window_moving_avg",
    oracle="""
    SELECT event_id, user_id,
           CAST(CAST(AVG(CAST(value AS DECIMAL(12,4))) OVER (
             PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ) AS DECIMAL(38,8)) AS DOUBLE) AS avg3_value
    FROM events
    """,
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 3-row mean per user over event time -- the moving-average
    shape of the reference's stock time-series (a per-symbol SMA over
    OHLCV closes is this exact plan with symbol as the key). user_id is
    high-cardinality, so the keyed window parallelizes across the cluster;
    no bucketing needed (contrast window_running_sum's 5-value key).
    Decimal-before-average keeps the mean bit-identical across engines."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    v = F.col("value").cast("decimal(12,4)")
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.avg(v).over(w).cast("decimal(38,8)").alias("avg3_value"),
    )


@query(
    "window_range_1h_sum",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(12,4))) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS sum_1h
    FROM events
    """,
)
def window_range_1h_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE sliding frame: per-user sum of activity value over the
    trailing hour AT EACH EVENT -- the frame flavor ROWS windows cannot
    express (membership depends on timestamps, not row offsets). Ordered
    by integer epoch-seconds on both engines so frame boundaries are
    identical; RANGE frames are peer-inclusive, so same-second events
    agree regardless of tie order. Decimal sum keeps the value exact.
    Scale: partitioned by high-cardinality user_id -- each user's bounded
    sort parallelizes across the cluster, nothing global."""
    sec = F.expr("unix_micros(cast(ts as timestamp)) div 1000000")
    w = (
        Window.partitionBy("user_id")
        .orderBy("__sec")
        .rangeBetween(-3600, Window.currentRow)
    )
    v = F.col("value").cast(PRICE_DEC)
    return (
        load_table(spark, sf_dir, "events")
        .withColumn("__sec", sec)
        .select(
            "event_id",
            "user_id",
            F.sum(v).over(w).cast("decimal(38,4)").alias("sum_1h"),
        )
    )


@query(
    "scd2_point_in_time_join",
    oracle="""
    WITH dim AS (
      SELECT user_id, tier, eff_from, eff_to FROM (
        SELECT DISTINCT user_id,
               'bronze' AS tier,
               TIMESTAMP '2024-01-01 00:00:00' AS eff_from,
               TIMESTAMP '2024-01-15 00:00:00' AS eff_to
        FROM events
        UNION ALL
        SELECT DISTINCT user_id,
               CASE WHEN user_id % 3 = 0 THEN 'gold' ELSE 'silver' END,
               TIMESTAMP '2024-01-15 00:00:00',
               TIMESTAMP '2100-01-01 00:00:00'
        FROM events)
    )
    SELECT e.event_id, e.user_id, e.ts, d.tier
    FROM events e JOIN dim d
      ON e.user_id = d.user_id
     AND e.ts >= d.eff_from AND e.ts < d.eff_to
    """,
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) point-in-time join: each fact row
    picks the dimension version whose [eff_from, eff_to) validity interval
    contains the fact timestamp. The versioned dim is synthesized
    deterministically from the fixture (every user upgrades from bronze on
    Jan 15) so the oracle builds the identical table. Scale shape: an
    equi-join on the natural key plus a residual interval filter -- dim
    versions per key are few, so the join output is bounded; no interval
    bucketing needed (contrast range_join_click_in_purchase_window, where
    BOTH sides are dense in time)."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    jan15 = F.lit("2024-01-15 00:00:00").cast("timestamp")
    dim = users.select(
        "user_id",
        F.lit("bronze").alias("tier"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("eff_from"),
        jan15.alias("eff_to"),
    ).unionByName(
        users.select(
            "user_id",
            F.when(F.col("user_id") % 3 == 0, "gold").otherwise("silver").alias("tier"),
            jan15.alias("eff_from"),
            F.lit("2100-01-01 00:00:00").cast("timestamp").alias("eff_to"),
        )
    )
    return (
        ev.join(dim, "user_id")
        .filter((F.col("ts") >= F.col("eff_from")) & (F.col("ts") < F.col("eff_to")))
        .select("event_id", "user_id", "ts", "tier")
    )


@query(
    "window_hourly_delta",
    oracle="""
    WITH h AS (
      -- CASE wrap (r10): DuckDB 1.0 infers date_trunc as non-nullable,
      -- so its NULL outputs carry garbage through sorts/filters/windows
      -- (nondeterministic wrong results on the NULL tier); the explicit
      -- CASE restores correct nullability. Spark needs no wrap.
      SELECT event_type,
             CASE WHEN ts IS NULL THEN NULL
                  ELSE date_trunc('hour', ts) END AS hour,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2)
    SELECT event_type, hour, n,
           n - LAG(n) OVER (PARTITION BY event_type ORDER BY hour NULLS FIRST) AS delta
    FROM h
    """,
)
def window_hourly_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation -> window composition: hourly event counts with the
    change versus the previous hour (the dashboard trend shape). The
    window's low-cardinality partition key is safe HERE because its input
    is the aggregated rollup -- rows per key are bounded by hours in the
    time range, not corpus size -- unlike raw-row windows, which use the
    bucketed two-phase forms (window_running_sum)."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy("hour")
    return h.select(
        "event_type", "hour", "n", (F.col("n") - F.lag("n").over(w)).alias("delta")
    )


@query(
    "join_salted_hot_status",
    oracle="""
    WITH dim AS (
      SELECT 'O' AS o_orderstatus, 'open' AS status_label UNION ALL
      SELECT 'F', 'finished' UNION ALL
      SELECT 'P', 'pending'
    )
    SELECT d.status_label,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders o JOIN dim d ON o.o_orderstatus = d.o_orderstatus
    GROUP BY d.status_label
    """,
)
def join_salted_hot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join on a pathologically hot key (o_orderstatus has 3
    values, so an unsalted shuffle join is 3 tasks): the fact side gets a
    random salt, the 3-row dim is replicated across 8 salt buckets, and
    the join key becomes (status, salt) -- spreading each hot key over 8
    tasks. The salt never leaks into results (each fact row joins exactly
    once), so the oracle is the plain unsalted join."""
    from ..operators.skew import salted_join

    o = load_table(spark, sf_dir, "orders").select("o_orderstatus", "o_totalprice")
    dim = local_frame(
        spark,
        [("O", "open"), ("F", "finished"), ("P", "pending")],
        "o_orderstatus string, status_label string",
    )
    joined = salted_join(o, dim, on="o_orderstatus", salt_buckets=8)
    return joined.groupBy("status_label").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
    )


_FRONTDOOR_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
"""


@query(
    "sql_frontdoor_pricing",
    oracle=_FRONTDOOR_SQL,
)
def sql_frontdoor_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front door: the IDENTICAL dialect-neutral SQL text runs
    through ``spark.sql`` over a temp view here and through DuckDB as the
    oracle -- proving a user can bring plain ANSI SQL to this engine, not
    just the DataFrame API, and Catalyst still plans it (pushdown, partial
    aggregation) exactly like the DataFrame q1."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return isolated_session(spark, lineitem=lineitem).sql(_FRONTDOOR_SQL)


@query(
    "join_partial_salted_status",
    oracle="""
    WITH dim AS (
      SELECT 'O' AS o_orderstatus, 'open' AS status_label UNION ALL
      SELECT 'F', 'finished' UNION ALL
      SELECT 'P', 'pending'
    )
    SELECT d.status_label,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders o JOIN dim d ON o.o_orderstatus = d.o_orderstatus
    GROUP BY d.status_label
    """,
)
def join_partial_salted_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTIAL salting (the 100 TB refinement of join_salted_hot_status):
    a count-per-key pass detects which status values are actually hot
    (> 2000 fact rows -- at sf0.01 'O'/'F' qualify, the rare 'P' does
    not); only hot keys take the salted path while the cold remainder
    joins plain, so dim replication cost is O(hot keys). Results are
    salt-free and branch-partitioned by key, so the oracle is the plain
    join."""
    from ..operators.skew import hot_key_salted_join

    o = load_table(spark, sf_dir, "orders").select("o_orderstatus", "o_totalprice")
    dim = local_frame(
        spark,
        [("O", "open"), ("F", "finished"), ("P", "pending")],
        "o_orderstatus string, status_label string",
    )
    joined = hot_key_salted_join(
        o, dim, on="o_orderstatus", hot_threshold=2000, salt_buckets=8
    )
    return joined.groupBy("status_label").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
    )


@query(
    "window_dist_gallery",
    oracle="""
    SELECT event_id, user_id,
           CAST(FLOOR(PERCENT_RANK() OVER w * 1000000) AS BIGINT) AS prank_ppm,
           CAST(FLOOR(CUME_DIST() OVER w * 1000000) AS BIGINT) AS cume_ppm,
           NTH_VALUE(event_id, 2) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND UNBOUNDED FOLLOWING) AS second_event
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
    """,
)
def window_dist_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-function gallery (percent_rank / cume_dist /
    nth_value) partitioned by the high-cardinality user_id -- each
    partition is one user's events, so no single-task sort. percent_rank
    = k/(n-1) and cume_dist = k/n are single divisions of exact integers
    (portable doubles), floored to ppm."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        F.floor(F.percent_rank().over(w) * 1_000_000).cast("bigint").alias("prank_ppm"),
        F.floor(F.cume_dist().over(w) * 1_000_000).cast("bigint").alias("cume_ppm"),
        F.nth_value("event_id", 2).over(w_full).alias("second_event"),
    )


@query(
    "agg_mode_per_status",
    oracle="""
    WITH c AS (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    ), r AS (
      SELECT o_orderstatus, o_orderpriority, n,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                ORDER BY n DESC, o_orderpriority) AS rk
      FROM c
    )
    SELECT o_orderstatus,
           o_orderpriority AS mode_priority,
           CAST(n AS BIGINT) AS n
    FROM r WHERE rk = 1
    """,
)
def agg_mode_per_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE aggregate (most frequent value per group, ties
    broken by value): two-level hash-agg then a per-group argmax via
    max_by on a (count, inverted-value) struct -- no window, no sort; the
    second agg reduces each group to one row. The struct comparison makes
    the tiebreak explicit rather than engine-dependent (SQL MODE() has no
    portable tie rule)."""
    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("n"))
    # argmax by (n, value asc): min over (-n, value) struct picks the pair
    best = c.groupBy("o_orderstatus").agg(
        F.min(F.struct((-F.col("n")).alias("neg_n"), F.col("o_orderpriority"))).alias("b")
    )
    return best.select(
        "o_orderstatus",
        F.col("b.o_orderpriority").alias("mode_priority"),
        (-F.col("b.neg_n")).cast("bigint").alias("n"),
    )


@query(
    "set_symmetric_diff_buyers",
    oracle="""
    WITH w1 AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    ), w2 AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT o_custkey FROM (
      (SELECT o_custkey FROM w1 EXCEPT SELECT o_custkey FROM w2)
      UNION ALL
      (SELECT o_custkey FROM w2 EXCEPT SELECT o_custkey FROM w1)
    )
    """,
)
def set_symmetric_diff_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric difference (§2.7 completion): customers active in exactly
    one of two eras -- churned-or-new, never-both. Composed from the same
    set-semantics subtract as set_except_never_ordered; both branches
    reuse one scan's distinct sets."""
    o = load_table(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    w1 = o.filter(F.col("o_orderdate") < cut).select("o_custkey").distinct()
    w2 = o.filter(F.col("o_orderdate") >= cut).select("o_custkey").distinct()
    return w1.subtract(w2).unionAll(w2.subtract(w1))
