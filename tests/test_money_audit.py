"""Clean-money contract enforcement (VERDICT r11 item 6).

The scaled-long aggregation path (plans/relational.py) is only exact when
money doubles are clean 2-decimal quantities. SPARK_GRAFT_MONEY_AUDIT=1
turns the assumption into a per-row assertion: a 3-decimal value must fail
LOUDLY instead of silently rounding into the cent sum. tools/audit_money.py
is the offline twin over committed tiers (0 violations, committed as
MONEY_AUDIT_r12.txt)."""

from __future__ import annotations

from pathlib import Path

import pytest

from dockerized_data_pipeline_spark.plans import relational
from pyspark.sql import functions as F


def _cents_with_audit(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MONEY_AUDIT", "1")
    return relational._cents


def test_audit_mode_rejects_three_decimal_money(spark, monkeypatch):
    cents = _cents_with_audit(monkeypatch)
    df = spark.createDataFrame([(1.25,), (0.005,)], "l_extendedprice double")
    with pytest.raises(Exception, match="not clean 2-decimal"):
        df.select(cents("l_extendedprice").alias("c")).collect()


def test_audit_mode_passes_clean_values_and_nulls(spark, monkeypatch):
    cents = _cents_with_audit(monkeypatch)
    # 134225073.61 * 100 == 13422507361.000002 in doubles: a residual of
    # one ulp (1.9e-6), above a flat 1e-6 bound but still a clean value
    df = spark.createDataFrame(
        [(1.25,), (0.10,), (None,), (12345.99,), (134225073.61,)],
        "l_extendedprice double",
    )
    got = {
        r["c"]
        for r in df.select(cents("l_extendedprice").alias("c")).collect()
    }
    assert got == {125, 10, None, 1234599, 13422507361}


def test_offline_audit_bound_is_magnitude_aware(tmp_path):
    import sys

    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import audit_money

    tier = tmp_path / "tier"
    tier.mkdir()

    def write_lineitem(price):
        duckdb.sql(
            f"SELECT {price}::DOUBLE AS l_extendedprice, "
            "0.05::DOUBLE AS l_discount, 3.0::DOUBLE AS l_quantity"
        ).write_parquet(str(tier / "lineitem.parquet"))

    write_lineitem("134225073.61")
    assert audit_money.main([str(tier)]) == 0
    write_lineitem("134225073.615")
    assert audit_money.main([str(tier)]) == 1


def test_audit_off_is_the_bare_fast_path(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_MONEY_AUDIT", raising=False)
    df = spark.createDataFrame([(0.005,)], "l_extendedprice double")
    # without audit the value silently rounds (documented fast-path
    # behavior); the point of the audit mode is making this opt-out loud
    [r] = df.select(relational._cents("l_extendedprice").alias("c")).collect()
    assert r["c"] == 0 or r["c"] == 1  # round-half-even of 0.5


def test_q1_runs_under_audit_on_fixture_tier(spark, monkeypatch):
    # the committed tiers satisfy the contract, so audit mode must be a
    # pass-through there (same rows, no raise)
    monkeypatch.setenv("SPARK_GRAFT_MONEY_AUDIT", "1")
    from dockerized_data_pipeline_spark.plans import QUERIES

    rows = QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
