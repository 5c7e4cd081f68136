"""TPC-H-shaped analytical queries beyond the reference's own SQL (SURVEY
section 2.4 engine surface): selective-filter aggregation, conditional
aggregation over joins, ratio-of-sums, HAVING, and correlated subqueries
(Catalyst decorrelation). Each oracle-checked against DuckDB.

Numeric convention as elsewhere: decimal casts before sums, ppm integers
for ratios.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..session import isolated_session
from .registry import query
from .relational import _REVENUE_SQL

_DEC = "decimal(12,4)"
_RATE = "decimal(7,4)"


# Q6 shape: highly selective scan filter -> single-group aggregate. The
# entire query folds into one scan with pushed predicates.
@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                    * CAST(l_discount AS DECIMAL(7,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.04
      AND l_quantity < 25
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.02, 0.04)
            & (F.col("l_quantity") < 25)
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast(_DEC) * F.col("l_discount").cast(_RATE))
            .cast("decimal(38,8)")
            .alias("revenue"),
            F.count("*").alias("n"),
        )
    )


# Q12 shape: join + conditional (CASE) aggregation by category.
@query(
    "q12_priority_shipping",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp")
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~urgent, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# Q14 shape: ratio of conditional sum to total sum (promo revenue share).
@query(
    "q14_promo_revenue_share",
    oracle="""
    SELECT CAST(FLOOR(
             CAST(SUM(CASE WHEN p_type = 'PROMO'
                  THEN CAST(l_extendedprice AS DECIMAL(12,4))
                       * (CAST(1 AS DECIMAL(7,4)) - CAST(l_discount AS DECIMAL(7,4)))
                  ELSE CAST(0 AS DECIMAL(20,8)) END) AS DOUBLE) * 1000000
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                   * (CAST(1 AS DECIMAL(7,4)) - CAST(l_discount AS DECIMAL(7,4)))) AS DOUBLE)
           ) AS BIGINT) AS promo_share_ppm
    FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1).cast(_RATE) - F.col("l_discount").cast(_RATE)
    )
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(20,8)"))
    )
    total = F.sum(rev)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.floor(promo.cast("double") * 1_000_000 / total.cast("double"))
            .cast("bigint")
            .alias("promo_share_ppm")
        )
    )


# Q18 shape: HAVING on an aggregate (large-volume orders), join back to detail.
@query(
    "q18_large_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS total_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderkey, o_custkey, o_totalprice
    HAVING SUM(CAST(l_quantity AS DECIMAL(12,4))) > 150
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import _cents, _fp_dec

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # r11: quantity sums as exact scaled longs (see relational._cents);
    # the HAVING threshold compares the same exact value (150.00 == 15000
    # hundredths), and the output decimal is rebuilt exactly per group.
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_custkey", "o_totalprice")
        .agg(F.sum(_cents("l_quantity")).alias("__qty_fp"))
        .filter(F.col("__qty_fp") > 150 * 100)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            _fp_dec(F.col("__qty_fp"), 2).cast("decimal(38,4)").alias("total_qty"),
        )
    )


# Q17-like correlated scalar subquery: parts priced near their brand's
# ceiling -- written as real correlated SQL so Catalyst's decorrelation
# (rewrite to aggregate + join) is exercised, not hand-rolled. MAX (not
# AVG) keeps the threshold exact: double averages accumulate in
# engine-specific order, MAX of identical doubles is bit-identical.
@query(
    "q17_near_brand_ceiling",
    oracle="""
    SELECT p_partkey, p_brand, p_retailprice
    FROM part p
    WHERE p_retailprice > (
      SELECT 0.99 * MAX(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand
    )
    """,
)
def q17_near_brand_ceiling(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return isolated_session(spark, part=part).sql(
        """
        SELECT p_partkey, p_brand, p_retailprice
        FROM part p
        WHERE p_retailprice > (
          SELECT 0.99 * MAX(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand
        )
        """
    )


# Q10 shape: returned-item revenue per customer, top-k with dims joined in.
@query(
    "q10_returned_revenue_top20",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
           CAST({_REVENUE_SQL} AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q10_returned_revenue_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    rev = F.sum(
        F.col("l_extendedprice").cast(_DEC)
        * (F.lit(1).cast(_RATE) - F.col("l_discount").cast(_RATE))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(rev.cast("decimal(38,8)").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# Q16 shape: distinct-count with NOT IN exclusion over a dim attribute.
@query(
    "q16_brand_supplier_counts",
    oracle="""
    SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand NOT IN ('Brand#1', 'Brand#2') AND p_size >= 10
    GROUP BY p_brand, p_type
    """,
)
def q16_brand_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(
        ~F.col("p_brand").isin("Brand#1", "Brand#2") & (F.col("p_size") >= 10)
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# Q19 shape: disjunctive multi-attribute predicates (OR of ANDs) across a
# join -- the optimizer must keep the join key while pushing the rest.
@query(
    "q19_disjunctive_revenue",
    oracle=f"""
    SELECT CAST({_REVENUE_SQL} AS DOUBLE) AS revenue, COUNT(*) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 5)
       OR (p_type = 'PROMO' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 20)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 15)
        & (F.col("l_quantity") >= 5)
    ) | (
        (F.col("p_type") == "PROMO")
        & F.col("p_size").between(10, 30)
        & (F.col("l_quantity") >= 20)
    )
    rev = F.sum(
        F.col("l_extendedprice").cast(_DEC)
        * (F.lit(1).cast(_RATE) - F.col("l_discount").cast(_RATE))
    )
    return joined.filter(cond).agg(
        rev.cast("decimal(38,8)").alias("revenue"), F.count("*").alias("n")
    )


# Q2-like: min-per-group join-back (cheapest supplier account balance per
# nation, reported with supplier names).
@query(
    "q2_min_per_group_joinback",
    oracle="""
    WITH mins AS (
      SELECT s_nationkey AS nk, MIN(s_acctbal) AS min_bal
      FROM supplier GROUP BY s_nationkey
    )
    SELECT n_name, s_name, s_acctbal
    FROM supplier
    JOIN mins ON s_nationkey = mins.nk AND s_acctbal = mins.min_bal
    JOIN nation ON s_nationkey = n_nationkey
    """,
)
def q2_min_per_group_joinback(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    mins = s.groupBy(F.col("s_nationkey").alias("nk")).agg(F.min("s_acctbal").alias("min_bal"))
    return (
        s.join(
            F.broadcast(mins),
            (s.s_nationkey == mins.nk) & (s.s_acctbal == mins.min_bal),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("n_name", "s_name", "s_acctbal")
    )


# Q22 shape: above-average filter + anti-join. The "above mean" comparison
# is exact integer/decimal cross-multiplication (bal * n > sum), never a
# double average -- double accumulation order is engine-specific and not
# oracle-portable.
@query(
    "q22_rich_inactive_customers",
    oracle="""
    WITH pos AS (
      SELECT CAST(c_acctbal AS DECIMAL(12,4)) AS bal, c_custkey, c_name
      FROM customer WHERE c_acctbal > 0
    ), stats AS (
      SELECT CAST(SUM(bal) AS DECIMAL(38,4)) AS total, COUNT(*) AS n FROM pos
    )
    SELECT c_custkey, c_name, CAST(bal AS DOUBLE) AS acctbal
    FROM pos, stats
    WHERE bal * n > total
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    """,
)
def q22_rich_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    pos = cust.select(
        F.col("c_acctbal").cast("decimal(12,4)").alias("bal"), "c_custkey", "c_name"
    )
    stats = pos.agg(
        F.sum("bal").cast("decimal(38,4)").alias("total"), F.count("*").alias("n")
    )
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    rich = pos.crossJoin(F.broadcast(stats)).filter(
        F.col("bal") * F.col("n") > F.col("total")
    )
    return rich.join(
        recent, rich.c_custkey == recent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", F.col("bal").cast("decimal(12,4)").alias("acctbal"))


# EXISTS-with-correlated-predicate (Q4 shape): orders with at least one
# late-shipped lineitem.
@query(
    "q4_orders_with_late_lines",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o_orderpriority
    """,
)
def q4_orders_with_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return isolated_session(spark, orders=orders, lineitem=lineitem).sql(
        """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        )
        GROUP BY o_orderpriority
        """
    )


# Q7 shape: multi-way join with two roles for the same dimension (supplier
# nation x customer nation), year bucketing, decimal revenue.
@query(
    "q7_nation_trade_volume",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                    * (CAST(1 AS DECIMAL(7,4)) - CAST(l_discount AS DECIMAL(7,4))))
                AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
             l_extendedprice, l_discount
      FROM lineitem
      JOIN orders    ON o_orderkey = l_orderkey
      JOIN supplier  ON s_suppkey = l_suppkey
      JOIN customer  ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: nation (25 rows) and supplier broadcast; the only big
    shuffles are lineitem><orders and ><customer on their join keys."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    rev = F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1).cast(_RATE) - F.col("l_discount").cast(_RATE)
    )
    pair_ok = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair_ok)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(F.sum(rev).cast("decimal(38,8)").alias("revenue"))
    )


# Q8 shape: market-share ratio of conditional revenue per year (ppm ints:
# identical decimal sums cast to double divide identically on both engines).
@query(
    "q8_market_share",
    oracle="""
    SELECT o_year,
           CAST(FLOOR(CAST(nation_rev AS DOUBLE) * 1000000
                      / CAST(total_rev AS DOUBLE)) AS BIGINT) AS mkt_share_ppm
    FROM (
      SELECT o_year,
             SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                      ELSE CAST(0 AS DECIMAL(20,8)) END) AS nation_rev,
             SUM(volume) AS total_rev
      FROM (
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
               CAST(l_extendedprice AS DECIMAL(12,4))
                 * (CAST(1 AS DECIMAL(7,4)) - CAST(l_discount AS DECIMAL(7,4))) AS volume,
               n1.n_name AS supp_nation
        FROM lineitem
        JOIN orders    ON o_orderkey = l_orderkey
        JOIN supplier  ON s_suppkey = l_suppkey
        JOIN customer  ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        JOIN region    ON n2.n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
      )
      GROUP BY o_year
    )
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_regionkey")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    volume = F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1).cast(_RATE) - F.col("l_discount").cast(_RATE)
    )
    nation_rev = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", volume).otherwise(
            F.lit(0).cast("decimal(20,8)")
        )
    )
    total_rev = F.sum(volume)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_regionkey") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.floor(nation_rev.cast("double") * 1_000_000 / total_rev.cast("double"))
            .cast("bigint")
            .alias("mkt_share_ppm")
        )
    )


# Q9 shape: profit decomposition by producing nation and year (adapted:
# the fixture set has no partsupp, so supply cost is proxied as 10% of
# part retail price per unit).
@query(
    "q9_product_profit",
    oracle="""
    SELECT nation, o_year,
           CAST(CAST(SUM(amount) AS DECIMAL(38,8)) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation,
             CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
             CAST(l_extendedprice AS DECIMAL(12,4))
               * (CAST(1 AS DECIMAL(7,4)) - CAST(l_discount AS DECIMAL(7,4)))
               - CAST(p_retailprice AS DECIMAL(12,4))
                 * CAST(l_quantity AS DECIMAL(12,4))
                 * CAST(0.1 AS DECIMAL(7,4)) AS amount
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_type = 'STANDARD'
    )
    GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1).cast(_RATE) - F.col("l_discount").cast(_RATE)
    ) - F.col("p_retailprice").cast(_DEC) * F.col("l_quantity").cast(_DEC) * F.lit(
        0.1
    ).cast(_RATE)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(F.sum(amount).cast("decimal(38,8)").alias("sum_profit"))
    )


# Q13 shape: distribution of counts (two-level aggregation over a left join).
@query(
    "q13_customer_order_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# Q15 shape: aggregate -> scalar max -> equality join-back (top supplier(s)
# by quarterly revenue; decimal equality is exact, so ties are stable).
@query(
    "q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS s_suppkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                      * (CAST(1 AS DECIMAL(7,4)) - CAST(l_discount AS DECIMAL(7,4))))
                  AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT supplier.s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON supplier.s_suppkey = rev.s_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("rev_suppkey")).agg(
        F.sum(
            F.col("l_extendedprice").cast(_DEC)
            * (F.lit(1).cast(_RATE) - F.col("l_discount").cast(_RATE))
        )
        .cast("decimal(38,8)")
        .alias("total_revenue")
    )
    best = rev.agg(F.max("total_revenue").alias("best_rev"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("best_rev"))
        .join(F.broadcast(s), F.col("rev_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


# Q20 shape: IN-subquery over a grouped HAVING (suppliers that moved bulk
# volume of some part) -> left-semi join.
@query(
    "q20_bulk_suppliers",
    oracle="""
    SELECT s_suppkey, s_name, s_acctbal
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem
      GROUP BY l_suppkey, l_partkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(12,4))) > CAST(90 AS DECIMAL(12,4))
    )
    """,
)
def q20_bulk_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    bulk = (
        li.groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).alias("qty"))
        .filter(F.col("qty") > F.lit(90).cast(_DEC))
        .select("l_suppkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    return s.join(bulk, s.s_suppkey == bulk.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name", "s_acctbal"
    )


# Q11 shape: per-group value compared against a scalar derived from the
# GLOBAL total (TPC-H "important stock"). The fixtures have no partsupp
# table, so the shape runs over lineitem: supply value per (part,
# supplier). TPC-H's fixed fraction shrinks with corpus size (0 rows at
# sf0.1), so the threshold is scale-free -- 3x the MEAN group value --
# and the compare is done in DOUBLE on both sides so the boundary
# arithmetic is bit-identical across engines.
@query(
    "q11_important_stock",
    oracle="""
    WITH val AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                      * CAST(l_quantity AS DECIMAL(12,4))) AS DECIMAL(38,8)) AS value
      FROM lineitem
      GROUP BY l_partkey, l_suppkey
    )
    SELECT l_partkey, l_suppkey, CAST(value AS DOUBLE) AS value
    FROM val
    WHERE CAST(value AS DOUBLE) * (SELECT COUNT(*) FROM val)
          > 3.0 * (SELECT CAST(SUM(value) AS DOUBLE) FROM val)
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one hash-agg shuffle on (part, supplier); the global
    (total, count) is a single-row broadcast, never a second pass over
    lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    val = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_extendedprice").cast(_DEC) * F.col("l_quantity").cast(_DEC))
        .cast("decimal(38,8)")
        .alias("value")
    )
    total = val.agg(
        F.sum("value").cast("double").alias("grand_total"),
        F.count("*").alias("n_groups"),
    )
    return (
        val.crossJoin(F.broadcast(total))
        .filter(
            F.col("value").cast("double") * F.col("n_groups")
            > 3.0 * F.col("grand_total")
        )
        .select("l_partkey", "l_suppkey", "value")
    )


# Q21 shape: suppliers who were the SOLE late supplier on a multi-supplier
# finished order (EXISTS + NOT EXISTS pair in the oracle). "Late" uses the
# same shipdate-vs-orderdate proxy as q4 (lineitem has no receipt/commit
# dates). The Spark plan replaces the two correlated self-joins with ONE
# per-order aggregate -- distinct-supplier and distinct-late-supplier
# counts -- then filters late rows on orders with >=2 suppliers and
# exactly 1 late one: a single shuffle on l_orderkey instead of three.
@query(
    "q21_waiting_supplier",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier, lineitem l1, orders
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY s_name
    """,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders_f = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    joined = li.join(
        orders_f, li.l_orderkey == orders_f.o_orderkey, "inner"
    ).withColumn(
        "is_late", F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    )
    per_order = joined.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    sole_late = (
        joined.filter(F.col("is_late"))
        .join(
            per_order.filter(
                (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
            ).select("l_orderkey"),
            "l_orderkey",
            "inner",
        )
    )
    s = load_table(spark, sf_dir, "supplier")
    return (
        sole_late.join(F.broadcast(s), sole_late.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )
