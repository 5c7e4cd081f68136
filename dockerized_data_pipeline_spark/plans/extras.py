"""Extended engine-surface queries: as-of join, sessionization, pivot,
grouping sets, exact percentile, scalar-function galleries (SURVEY section
2.8 F-family breadth + 'Common OLAP patterns' from the build guide).

The reference exposes ad-hoc SQL against its store (README.md:193-208);
these queries demonstrate that surface is fully covered, each with a DuckDB
oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.asof import asof_join
from ..operators.rangejoin import range_join_bucketed
from ..operators.sessionize import sessionize
from ..session import isolated_session
from .registry import query


# As-of join: for each click, the most recent prior purchase by the same
# user. Oracle uses DuckDB's native ASOF JOIN; the engine uses the
# union+window pattern (operators.asof).
@query(
    "asof_click_to_purchase",
    oracle="""
    -- NULL-ts handling (r10): DuckDB's native ASOF sorts a NULL left ts
    -- as GREATEST and matches it to the latest right row, where SQL
    -- inequality semantics (and the engine) say unmatched -- so NULL-ts
    -- left rows bypass the ASOF and return unmatched; NULL-ts right rows
    -- are excluded (they can never satisfy the inequality).
    SELECT l.event_id, l.user_id, l.ts,
           r.event_id AS asof_event_id, r.value AS asof_value
    FROM (SELECT * FROM events WHERE event_type = 'click' AND ts IS NOT NULL) l
    ASOF LEFT JOIN (SELECT * FROM events
                    WHERE event_type = 'purchase' AND ts IS NOT NULL) r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    UNION ALL
    SELECT event_id, user_id, ts, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
    FROM events WHERE event_type = 'click' AND ts IS NULL
    """,
)
def asof_click_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    return asof_join(
        clicks,
        purchases.withColumnRenamed("ts", "p_ts"),
        key_cols=["user_id"],
        left_ts="ts",
        right_ts="p_ts",
        payload_cols=["event_id", "value"],
    )


# Forward as-of with tolerance: for each click, the NEXT purchase by the
# same user, but only if it lands within 2 hours (pandas merge_asof
# direction="forward", tolerance=... semantics). DuckDB's native ASOF
# handles the direction; the tolerance is a post-join CASE on both sides.
@query(
    "asof_forward_next_purchase",
    oracle="""
    -- NULL-ts handling (r10): see asof_click_to_purchase.
    SELECT l.event_id, l.user_id, l.ts,
           CASE WHEN r.ts <= l.ts + INTERVAL 2 HOUR THEN r.event_id END
               AS asof_event_id,
           CASE WHEN r.ts <= l.ts + INTERVAL 2 HOUR THEN r.value END
               AS asof_value
    FROM (SELECT * FROM events WHERE event_type = 'click' AND ts IS NOT NULL) l
    ASOF LEFT JOIN (SELECT * FROM events
                    WHERE event_type = 'purchase' AND ts IS NOT NULL) r
      ON l.user_id = r.user_id AND l.ts <= r.ts
    UNION ALL
    SELECT event_id, user_id, ts, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
    FROM events WHERE event_type = 'click' AND ts IS NULL
    """,
)
def asof_forward_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    return asof_join(
        clicks,
        purchases.withColumnRenamed("ts", "p_ts"),
        key_cols=["user_id"],
        left_ts="ts",
        right_ts="p_ts",
        payload_cols=["event_id", "value"],
        direction="forward",
        tolerance="2 hours",
    )


# Range join: every click inside the 1-hour window after a purchase by
# the same user. The oracle writes the natural inequality join; the engine
# uses the bucketed equi-join (operators.rangejoin) so the plan is a hash
# join on (user_id, hour-bucket), not a nested-loop -- identical results.
@query(
    "range_join_click_in_purchase_window",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT user_id, event_id, ts AS start_ts,
                 ts + INTERVAL 1 HOUR AS end_ts
          FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND c.ts >= p.start_ts AND c.ts <= p.end_ts
    """,
)
def range_join_click_in_purchase_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    windows = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end_ts"),
    )
    return range_join_bucketed(
        clicks,
        windows,
        point_ts="ts",
        start_ts="start_ts",
        end_ts="end_ts",
        bucket_width_sec=3600,
        extra_key="user_id",
    ).select("click_id", "purchase_id")


@query(
    "sessionize_user_events",
    oracle="""
    SELECT event_id, user_id, CAST(session_id AS BIGINT) AS session_id FROM (
      SELECT event_id, user_id,
             SUM(CASE WHEN prev_ts IS NULL
                        OR epoch_us(ts) - epoch_us(prev_ts) > CAST(3600 AS BIGINT) * 1000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM (
        SELECT event_id, user_id, ts,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id) AS prev_ts
        FROM events
      )
    )
    """,
)
def sessionize_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return sessionize(
        ev, ["user_id"], "ts", gap_seconds=3600, order_tiebreak=["event_id"]
    ).select("event_id", "user_id", F.col("session_id").cast("bigint").alias("session_id"))


@query(
    "agg_pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
           COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
           COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0, ["F", "O", "P"])
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL entry point (SURVEY section 3.2): the same Catalyst pipeline via
    spark.sql over a registered view."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return isolated_session(spark, lineitem=lineitem).sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "agg_exact_percentiles",
    oracle="""
    SELECT l_returnflag,
           CAST(FLOOR(quantile_cont(l_quantity, 0.5) * 1000000) AS BIGINT) AS median_qty_ppm,
           CAST(FLOOR(quantile_cont(l_quantity, 0.9) * 1000000) AS BIGINT) AS p90_qty_ppm
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (interpolated) percentiles; approx_percentile is the sketch
    variant for 100 TB but is not engine-portable for oracle checks."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.floor(F.expr("percentile(l_quantity, 0.5)") * 1_000_000)
        .cast("bigint")
        .alias("median_qty_ppm"),
        F.floor(F.expr("percentile(l_quantity, 0.9)") * 1_000_000)
        .cast("bigint")
        .alias("p90_qty_ppm"),
    )


@query(
    "f_string_gallery",
    oracle="""
    -- UPPER(ß) is a pinned engine divergence (r11 unicode-names tier):
    -- Spark applies the Java/Unicode FULL case mapping (ß -> SS, also
    -- ligature fi -> FI), DuckDB the simple 1:1 mapping (ß -> U+1E9E
    -- CAPITAL SHARP S). Pre-folding ß -> ss replicates Spark exactly
    -- (UPPER('ss') = 'SS' in both); lower('ẞ') -> 'ß' agrees, Greek
    -- final sigma agrees, and no other full-mapping codepoint appears
    -- in the fixtures.
    SELECT c_custkey,
           UPPER(REPLACE(c_name, 'ß', 'ss')) AS uname,
           LOWER(c_mktsegment) AS lseg,
           SUBSTR(c_name, 10, 6) AS name_mid,
           LENGTH(c_name) AS name_len,
           CONCAT_WS('-', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS seg_key,
           LPAD(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
           REPLACE(c_name, 'Customer', 'C') AS short_name,
           REVERSE(c_mktsegment) AS rseg,
           regexp_replace(c_name, '[0-9]+', '#') AS name_hashed,
           CONTAINS(c_name, '0000') AS has_zeros
    FROM customer
    """,
)
def f_string_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("uname"),
        F.lower("c_mktsegment").alias("lseg"),
        F.substring("c_name", 10, 6).alias("name_mid"),
        F.length("c_name").alias("name_len"),
        F.concat_ws("-", F.col("c_mktsegment"), F.col("c_custkey").cast("string")).alias(
            "seg_key"
        ),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_key"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("C")).alias("short_name"),
        F.reverse("c_mktsegment").alias("rseg"),
        F.regexp_replace("c_name", "[0-9]+", "#").alias("name_hashed"),
        F.contains(F.col("c_name"), F.lit("0000")).alias("has_zeros"),
    )


@query(
    "f_datetime_gallery",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate) AS y,
           month(o_orderdate) AS m,
           day(o_orderdate) AS d,
           quarter(o_orderdate) AS q,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
           CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS due_ts,
           date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002
    FROM orders
    """,
)
def f_datetime_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.quarter("o_orderdate").alias("q"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.last_day("o_orderdate").alias("month_end"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("due_ts"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "days_to_2002"
        ),
    )


@query(
    "f_math_gallery",
    oracle="""
    SELECT o_orderkey,
           ABS(o_totalprice - 100000) AS abs_centered,
           CAST(FLOOR(o_totalprice) AS BIGINT) AS floor_price,
           CAST(CEIL(o_totalprice) AS BIGINT) AS ceil_price,
           CAST(FLOOR(sqrt(o_totalprice) * 1000000) AS BIGINT) AS sqrt_ppm,
           CAST(o_orderkey % 7 AS BIGINT) AS mod7,
           CAST(FLOOR(o_totalprice * 100) AS BIGINT) % 97 AS cents_mod97,
           GREATEST(o_totalprice, 50000.0) AS floored_at_50k,
           LEAST(o_totalprice, 200000.0) AS capped_at_200k,
           CAST(SIGN(o_totalprice - 100000) AS INTEGER) AS side
    FROM orders
    """,
)
def f_math_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    p = F.col("o_totalprice")
    return o.select(
        "o_orderkey",
        F.abs(p - 100000).alias("abs_centered"),
        F.floor(p).cast("bigint").alias("floor_price"),
        F.ceil(p).cast("bigint").alias("ceil_price"),
        F.floor(F.sqrt(p) * 1_000_000).cast("bigint").alias("sqrt_ppm"),
        (F.col("o_orderkey") % 7).cast("bigint").alias("mod7"),
        (F.floor(p * 100).cast("bigint") % 97).alias("cents_mod97"),
        F.greatest(p, F.lit(50000.0)).alias("floored_at_50k"),
        F.least(p, F.lit(200000.0)).alias("capped_at_200k"),
        F.signum(p - 100000).cast("int").alias("side"),
    )


@query(
    "f_conditional_gallery",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 150000 THEN 'big'
                WHEN o_totalprice > 50000 THEN 'mid'
                ELSE 'small' END AS bucket,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status_label,
           (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS is_urgent,
           IF(o_custkey % 2 = 0, 'even', 'odd') AS custkey_parity
    FROM orders
    """,
)
def f_conditional_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 150000, "big")
        .when(F.col("o_totalprice") > 50000, "mid")
        .otherwise("small")
        .alias("bucket"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("open")).alias(
            "status_label"
        ),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("is_urgent"),
        F.when(F.col("o_custkey") % 2 == 0, "even").otherwise("odd").alias("custkey_parity"),
    )


# Regression aggregate (the regr_slope family TimescaleDB/Postgres expose):
# per-user linear trend of event value over time. Everything up to the
# final ratio is EXACT integer arithmetic -- x = epoch MICROseconds
# (exact bigint on both engines; epoch seconds is a trap: Spark
# unix_timestamp truncates while DuckDB epoch() keeps the NANOS fraction
# and cast rounds), y scaled to e4 integers (value is decimal(12,4)-
# exact), sums as 38-digit decimals (DuckDB: HUGEINT) -- so both engines
# divide the same two integers; the double division of identical operands
# is bit-identical. slope_e12 = floor(1e12 * d(value)/d(t_seconds)).
@query(
    "a7_trend_slope_per_user",
    oracle="""
    WITH s AS (
      SELECT user_id, COUNT(*) AS n,
             SUM(CAST(epoch_us(ts) AS HUGEINT)) AS sx,
             SUM(CAST(CAST(value AS DECIMAL(12,4)) * 10000 AS HUGEINT)) AS sy,
             SUM(CAST(epoch_us(ts) AS HUGEINT)
                 * CAST(CAST(value AS DECIMAL(12,4)) * 10000 AS HUGEINT)) AS sxy,
             SUM(CAST(epoch_us(ts) AS HUGEINT)
                 * CAST(epoch_us(ts) AS HUGEINT)) AS sxx
      FROM events GROUP BY user_id)
    SELECT user_id, n,
           CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE) * 1e14
                      / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT)
               AS slope_e12
    FROM s WHERE n >= 2 AND n * sxx - sx * sx <> 0
    """,
)
def a7_trend_slope_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # NTZ -> TIMESTAMP cast for unix_micros (a3's idiom); a session-TZ
    # offset would shift every x by the same constant, and the regression
    # slope is shift-invariant in x, so the result is TZ-independent.
    x = F.expr("unix_micros(cast(ts as timestamp))").cast("decimal(38,0)")
    y = (F.col("value").cast("decimal(12,4)") * 10000).cast("decimal(38,0)")
    s = ev.groupBy("user_id").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum((x * y).cast("decimal(38,0)")).alias("sxy"),
        F.sum((x * x).cast("decimal(38,0)")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("decimal(38,0)")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("decimal(38,0)")
    return (
        s.filter((F.col("n") >= 2) & (den != 0))
        .select(
            "user_id",
            F.col("n").cast("bigint").alias("n"),
            F.floor(num.cast("double") * 1e14 / den.cast("double"))
            .cast("bigint")
            .alias("slope_e12"),
        )
    )


def _duck_pagerank_sql(iterations: int = 5) -> str:
    """DuckDB replay of the fixed-point PageRank (operators/pagerank.py):
    the Lloyd's-unrolling recipe from plans/llm.py::_duck_kmeans_ctes
    applied to rank updates. Every step is floor arithmetic on
    non-negative integers -- SCALE div n seeding, rank div out_degree
    contributions, and the overflow-free damping decomposition
    num*(x div den) + (num*(x mod den)) div den -- so each unrolled CTE
    reproduces the Spark iteration bit-for-bit (VERDICT r7 item 2: the
    previous decimal version was rows-only because Spark's DECIMAL
    division result-scale rules are engine-specific).

    pairs/e/nodes/deg and every r{i}/c{i} are MATERIALIZED: DuckDB 1.0
    inlines plain CTEs by substitution, so the 6M-row lineitem-orders
    DISTINCT subtree was re-expanded once per reference (~15 copies
    across 5 iterations) -- fine at sf0.1, but an 80 GB spill blowup on
    the sf1 scale-oracle tier. Materialized, each intermediate is
    computed exactly once (the module-wide rule from
    plans/llm.py::_duck_kmeans_ctes)."""
    ctes = ["""
pairs AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS cust, -l_suppkey AS supp
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
e AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT cust AS src, supp AS dst FROM pairs
    UNION ALL
    SELECT supp AS src, cust AS dst FROM pairs
  )
),
nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e
  )
),
tel AS MATERIALIZED (
  SELECT n, 15 * (scale // (100 * n)) + (15 * (scale % (100 * n))) // (100 * n) AS t,
         scale // n AS seed
  FROM (SELECT COUNT(*) AS n, CAST(1000000000000000000 AS BIGINT) AS scale
        FROM nodes)
),
deg AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
r0 AS MATERIALIZED (SELECT node, (SELECT seed FROM tel) AS r FROM nodes)"""]
    for i in range(1, iterations + 1):
        ctes.append(f"""
c{i} AS MATERIALIZED (
  SELECT e.dst AS node, SUM(r{i - 1}.r // deg.d) AS inb
  FROM e JOIN r{i - 1} ON e.src = r{i - 1}.node JOIN deg ON e.src = deg.src
  GROUP BY e.dst
),
r{i} AS MATERIALIZED (
  SELECT nodes.node,
         (SELECT t FROM tel)
         + (COALESCE(c{i}.inb, 0) // 100) * 85
         + ((COALESCE(c{i}.inb, 0) % 100) * 85) // 100 AS r
  FROM nodes LEFT JOIN c{i} ON nodes.node = c{i}.node
)""")
    return (
        "WITH " + ",".join(ctes)
        + f"""
SELECT node, CAST(r AS BIGINT) AS rank_u
FROM r{iterations}
ORDER BY r DESC, node ASC
LIMIT 20"""
    )


@query("graph_pagerank_trade", oracle=_duck_pagerank_sql(5))
def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the symmetrized customer<->supplier trade graph
    (edge = some lineitem links the pair through an order): top-20 most
    central parties, ranks in 1e-18 fixed-point units. Hash-matched
    against a DuckDB CTE chain that replays the 5 fixed-point iterations
    exactly (r8; previously rows-only). Suppliers/customers get disjoint
    node id spaces via sign; the rank/node ORDER BY is a total order, so
    the LIMIT boundary is deterministic on both engines."""
    from ..operators.pagerank import pagerank

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("cust"),
            (-F.col("l_suppkey")).alias("supp"),  # disjoint node id space
        )
        .distinct()
    )
    edges = pairs.select(F.col("cust").alias("src"), F.col("supp").alias("dst")).unionByName(
        pairs.select(F.col("supp").alias("src"), F.col("cust").alias("dst"))
    )
    return (
        pagerank(edges, iterations=5)
        .orderBy(F.desc("rank_u"), F.asc("node"))
        .limit(20)
    )


@query(
    "f_agg_gallery",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(count_if(o_totalprice > 150000) AS BIGINT) AS n_big,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
           min_by(o_orderpriority, o_orderkey) AS first_priority,
           max_by(o_orderpriority, o_orderkey) AS last_priority,
           CAST(FLOOR(quantile_cont(o_totalprice, 0.5) * 100) AS BIGINT)
               AS median_price_c
    FROM orders GROUP BY o_orderstatus
    """,
)
def f_agg_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-function breadth: filtered count, boolean aggregates,
    argmin/argmax payload selection (ordered by the UNIQUE key so the
    pick is deterministic -- min_by on a column with ties is not), and an
    exact median. All one two-phase hash aggregation."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.count_if(F.col("o_totalprice") > 150000).alias("n_big"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
        F.min_by("o_orderpriority", "o_orderkey").alias("first_priority"),
        F.max_by("o_orderpriority", "o_orderkey").alias("last_priority"),
        F.floor(F.expr("percentile(o_totalprice, 0.5)") * 100)
        .cast("bigint")
        .alias("median_price_c"),
    )


@query(
    "rec_hierarchy_depths",
    oracle="""
    WITH RECURSIVE h(custkey, depth) AS (
      SELECT c_custkey, 0 FROM customer WHERE c_custkey = 1
      UNION ALL
      SELECT c.c_custkey, h.depth + 1
      FROM customer c JOIN h ON c.c_custkey // 2 = h.custkey
    )
    SELECT depth, COUNT(*) AS n_nodes,
           MIN(custkey) AS min_key, MAX(custkey) AS max_key
    FROM h GROUP BY depth
    """,
)
def rec_hierarchy_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE): transitive closure over a
    hierarchy, the org-chart/BOM-explosion query shape a batch engine
    needs beyond fixed-depth self-joins. The hierarchy is synthesized
    deterministically (each customer's parent is c_custkey DIV 2, a
    binary tree rooted at 1) so DuckDB's recursive CTE builds the
    identical closure. Each recursion level is one join against the
    previous frontier -- the same distributed shape as the iterative
    operators, but expressed declaratively."""
    customer = load_table(spark, sf_dir, "customer")
    return isolated_session(spark, customer=customer).sql(
        """
        WITH RECURSIVE h(custkey, depth) AS (
          SELECT c_custkey, 0 FROM customer WHERE c_custkey = 1
          UNION ALL
          SELECT c.c_custkey, h.depth + 1
          FROM customer c JOIN h ON c.c_custkey DIV 2 = h.custkey
        )
        SELECT depth, COUNT(*) AS n_nodes,
               MIN(custkey) AS min_key, MAX(custkey) AS max_key
        FROM h GROUP BY depth
        """
    )


@query(
    "lateral_top2_orders_per_customer",
    oracle="""
    SELECT c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders
             WHERE o_custkey = c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    """,
)
def lateral_top2_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery: each customer's two largest orders --
    the per-row-subquery surface (Postgres LATERAL / APPLY) beyond plain
    joins. Catalyst decorrelates this into a ranked window join, so the
    physical plan is the same distributed shape as window_topk, not a
    per-customer loop; the deterministic ORDER BY tiebreak keeps both
    engines' row picks identical."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return isolated_session(spark, customer=customer, orders=orders).sql(
        """
        SELECT c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_custkey = c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        """
    )


@query(
    "f_regex_gallery",
    oracle="""
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(text, '[aeiou]+')) AS BIGINT)
               AS vowel_runs,
           regexp_extract(text, '[a-z]*tion') AS first_tion_word,
           CAST(LEN(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT)
               AS len_no_vowels,
           CASE WHEN regexp_matches(text, '^[aeiou]') THEN 1 ELSE 0 END
               AS starts_with_vowel
    FROM documents
    """,
)
def f_regex_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar-function breadth (F8-adjacent: the reference leans on
    regex-free string ops, but any SQL surface needs these): count of
    matches, first-match extraction, global replace, anchored match test.
    Patterns stay in the Java-regex/RE2-portable subset (character
    classes, no lookaround) -- the same discipline as the PII redactor.
    Pure per-row expressions: zero shuffles."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit("[aeiou]+"))
        .cast("bigint")
        .alias("vowel_runs"),
        F.regexp_extract(F.col("text"), "[a-z]*tion", 0).alias("first_tion_word"),
        F.length(F.regexp_replace(F.col("text"), "[aeiou]", ""))
        .cast("bigint")
        .alias("len_no_vowels"),
        F.when(F.col("text").rlike("^[aeiou]"), 1).otherwise(0).alias("starts_with_vowel"),
    )
