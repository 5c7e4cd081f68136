"""Self-validation of the sketch queries: approximate answers must sit
within their documented error bounds of the exact answers computed over
the same input (SURVEY: sketches are the 100 TB substitutes for exact
distinct/percentile, so the error bound IS the contract)."""

from __future__ import annotations

from dockerized_data_pipeline_spark.plans import registry


def test_approx_distinct_within_rsd_bound(spark, sf_dir):
    rows = registry.QUERIES["sketch_approx_distinct"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        rel_err = abs(r.approx_customers - r.exact_customers) / r.exact_customers
        # rsd=1%; allow 5 sigma so the test is deterministic-signal, not flaky
        assert rel_err <= 0.05, (r.o_orderstatus, rel_err)


def test_approx_percentiles_within_tolerance(spark, sf_dir):
    rows = registry.QUERIES["sketch_approx_percentiles"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        for approx, exact in zip(r.price_quartiles, r.exact_quartiles):
            # GK accuracy=10000 -> rank error <= n/10000; on these
            # distributions that is well under 1% value error
            assert abs(approx - exact) / exact <= 0.01, (r.l_returnflag, approx, exact)


def test_count_min_never_undercounts_and_bounded(spark, sf_dir):
    rows = registry.QUERIES["sketch_count_min_freq"](spark, sf_dir).collect()
    assert rows
    n_total = sum(r.exact_count for r in rows)
    for r in rows:
        # CMS estimates are one-sided: never below the true count ...
        assert r.cm_estimate >= r.exact_count, (r.o_orderpriority, r)
        # ... and over by at most (e/width)*N w.h.p. (width=256; allow 2x
        # margin so the fixed-seed result stays a deterministic signal)
        assert r.cm_estimate - r.exact_count <= 2 * 2.72 / 256 * n_total, r


def test_count_min_deterministic(spark, sf_dir):
    q = registry.QUERIES["sketch_count_min_freq"]
    a = {tuple(r) for r in q(spark, sf_dir).collect()}
    b = {tuple(r) for r in q(spark, sf_dir).collect()}
    assert a == b


def test_approx_top_k_matches_exact_heavy_hitters(spark, sf_dir):
    """Spark 4's approx_top_k (datasketches frequent-items) vs the exact
    top-k: on a 5-value key every value is a heavy hitter, so the sketch
    must recover the exact set AND exact counts (guaranteed when the
    sketch never evicts). Kept test-only: sketch merge order is not
    provably deterministic across partitionings, unlike HLL/GK."""
    from dockerized_data_pipeline_spark.catalog import load_table
    from dockerized_data_pipeline_spark.session import isolated_session

    ev = load_table(spark, sf_dir, "events")
    approx = {
        r.item: r.n_est
        for r in isolated_session(spark, ev_topk=ev).sql(
            "SELECT inline(approx_top_k(event_type, 5)) AS (item, n_est) FROM ev_topk"
        ).collect()
    }
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").count().withColumnRenamed("count", "n").collect()
    }
    assert approx == exact


def test_hll_mergeable_rollup_matches_exact(spark, sf_dir):
    """Merged daily sketches must estimate the per-type distinct user
    count within HLL error (default lgConfigK=12 -> ~1.6% rsd; assert 5%)."""
    from dockerized_data_pipeline_spark import plans
    from dockerized_data_pipeline_spark.catalog import load_table
    from pyspark.sql import functions as F

    got = {
        r.event_type: r.approx_users
        for r in plans.QUERIES["sketch_hll_mergeable_rollup"](spark, sf_dir).collect()
    }
    exact = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for k, est in got.items():
        assert abs(est - exact[k]) / exact[k] <= 0.05, (k, est, exact[k])


def test_rho_known_values(spark):
    """rho = 1 + trailing zeros; the binary-search chain on planted
    values, including the all-zero sentinel (-> 64)."""
    from pyspark.sql import functions as F

    from dockerized_data_pipeline_spark.operators.hll import rho

    cases = [(0, 64), (1, 1), (2, 2), (8, 4), (12, 3), (1 << 40, 41), (3, 1)]
    df = spark.createDataFrame([(v,) for v, _ in cases], "v long")
    got = {r.v: r.r for r in df.select("v", rho(F.col("v")).alias("r")).collect()}
    for v, expect in cases:
        assert got[v] == expect, (v, got[v], expect)


def test_hll_portable_within_error_envelope(spark, sf_dir):
    """m=256 -> 1.04/sqrt(256) ~ 6.5% rsd in the raw regime; the
    linear-counting regime (small fixtures) has comparable error. Assert
    a 4-sigma-ish 20% so the fixed-seed result is deterministic signal."""
    rows = registry.QUERIES["sketch_hll_portable"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        rel = abs(r.approx_customers - r.exact_customers) / r.exact_customers
        assert rel <= 0.20, (r.o_orderstatus, r.approx_customers, r.exact_customers)


def test_hll_registers_merge_by_max(spark, sf_dir):
    """Register tables are mergeable: build per-half registers, union +
    re-max, and the merged estimate must equal the single-pass estimate
    bit-exactly (the daily-rollup pattern at 100 TB)."""
    from pyspark.sql import functions as F

    from dockerized_data_pipeline_spark.catalog import load_table
    from dockerized_data_pipeline_spark.operators import hll

    o = load_table(spark, sf_dir, "orders").select("o_orderstatus", "o_custkey")
    full = hll.hll_distinct(o, "o_custkey", ["o_orderstatus"]).collect()
    halves = [
        hll.hll_registers(
            o.filter(F.pmod(F.col("o_custkey"), F.lit(2)) == i),
            "o_custkey",
            ["o_orderstatus"],
        )
        for i in (0, 1)
    ]
    merged_regs = (
        halves[0]
        .unionByName(halves[1])
        .groupBy("o_orderstatus", "reg_idx")
        .agg(F.max("reg").alias("reg"))
    )
    merged = hll.hll_estimate(merged_regs, ["o_orderstatus"]).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, merged))


def test_histogram_percentiles_bracket_the_rank(spark, sf_dir):
    """The contract: each returned edge is the lower edge of the bin
    holding the rank-ceil(n*q/100) order statistic. Verified by DIRECT
    counting against the raw table (independent of the query's window
    path): strictly-below-the-bin rows must fall short of the rank, and
    rows below the bin's upper edge must reach it. (Note: this is the
    lower order statistic, NOT the interpolated percentile --
    F.percentile can interpolate past the bin.)"""
    import math

    from pyspark.sql import functions as F

    from dockerized_data_pipeline_spark.catalog import load_table

    rows = registry.QUERIES["sketch_histogram_percentiles"](spark, sf_dir).collect()
    assert rows
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    for r in rows:
        flag = li.filter(F.col("l_returnflag") == r.l_returnflag)
        n = flag.count()
        assert n == r.n
        for q, edge in zip(
            (25, 50, 75, 99), [r.p25_edge, r.p50_edge, r.p75_edge, r.p99_edge]
        ):
            rank = math.ceil(n * q / 100)
            below = flag.filter(F.col("l_extendedprice") < edge).count()
            upto = flag.filter(F.col("l_extendedprice") < edge + 64).count()
            assert below < rank <= upto, (r.l_returnflag, q, edge, below, rank, upto)
