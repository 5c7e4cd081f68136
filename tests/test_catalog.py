"""Catalog tests (SURVEY section 2.1 S5, section 2.4 A5): view
registration, DDL analog, schema-presence check, nano-timestamp edge."""

from __future__ import annotations

import math

import pytest

from dockerized_data_pipeline_spark import catalog
from dockerized_data_pipeline_spark.catalog import (
    STOCK_DATA_SCHEMA,
    create_table_if_not_exists,
    load_events_range,
    load_table,
    register_views,
    spread_input,
    spread_need,
    tables_present,
)


def test_register_views_and_presence(spark, sf_dir):
    views = register_views(spark, sf_dir)
    try:
        assert set(views) == {
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        }
        assert tables_present(spark, ("region", "lineitem", "nope")) == 2
        assert spark.sql("SELECT COUNT(*) AS n FROM region").first().n == 5
    finally:
        for name in views:
            spark.catalog.dropTempView(name)


def test_isolated_session_views_stay_in_the_clone(spark):
    """Views bound by session.isolated_session exist in the clone only:
    the caller's own view of the same name keeps its data, and a query
    built in the clone keeps reading the bound frame after the clone is
    dropped."""
    from dockerized_data_pipeline_spark.session import isolated_session

    spark.range(3).createOrReplaceTempView("iso_probe")
    try:
        q = isolated_session(spark, iso_probe=spark.range(10)).sql(
            "SELECT COUNT(*) AS n FROM iso_probe"
        )
        assert spark.table("iso_probe").count() == 3
        assert q.collect()[0].n == 10
    finally:
        spark.catalog.dropTempView("iso_probe")


def test_sql_text_query_leaves_caller_catalog_untouched(spark, sf_dir, monkeypatch):
    """While q4_orders_with_late_lines builds, the caller's catalog never
    holds its common table names: each SQL-text query binds its views in
    a session clone, not in the session other threads share."""
    from pyspark.sql import SparkSession

    from dockerized_data_pipeline_spark.plans import QUERIES

    seen = []
    sql = SparkSession.sql

    def spy_sql(self, *args, **kwargs):
        seen.append({t.name for t in spark.catalog.listTables()})
        return sql(self, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "sql", spy_sql)
    df = QUERIES["q4_orders_with_late_lines"](spark, sf_dir)
    monkeypatch.undo()
    assert seen
    assert all(not ({"orders", "lineitem"} & names) for names in seen), seen
    assert df.count() > 0


def test_create_table_ddl_analog(spark, tmp_path):
    loc = str(tmp_path / "stock_data")
    create_table_if_not_exists(spark, "stock_data", STOCK_DATA_SCHEMA, loc)
    df = spark.read.parquet(loc)
    assert df.count() == 0
    assert dict(df.dtypes)["open_price"] == "decimal(15,4)"
    assert dict(df.dtypes)["timestamp"] == "timestamp_ntz"
    # IF NOT EXISTS: second call is a no-op, not an overwrite
    create_table_if_not_exists(spark, "stock_data", STOCK_DATA_SCHEMA, loc)
    assert spark.read.parquet(loc).count() == 0


def test_events_nanos_load_and_range_agree(spark, sf_dir):
    full = load_table(spark, sf_dir, "events")
    assert dict(full.dtypes)["ts"] == "timestamp_ntz"
    ranged = load_events_range(spark, sf_dir, ts_from="2024-01-10 00:00:00",
                               ts_to="2024-01-20 00:00:00")
    from pyspark.sql import functions as F

    manual = full.filter(
        (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp_ntz"))
        & (F.col("ts") < F.lit("2024-01-20 00:00:00").cast("timestamp_ntz"))
    )
    assert ranged.count() == manual.count()


# -- stage width: catalog.spread_input is the one place it is chosen --------


@pytest.mark.parametrize("hint", [1, 1000, 2000, 3000, 8000, 1 << 20])
def test_spread_width_is_plan_bytes_over_hint_capped_at_session(spark, hint):
    n = 1000
    df = spark.range(0, n, 1, 1)  # plan estimate: 8 bytes per row
    dp = spark.sparkContext.defaultParallelism
    assert spread_need(df, hint) == math.ceil(8 * n / hint)
    width = min(dp, math.ceil(8 * n / hint))
    out = spread_input(df, hint)
    assert out.rdd.getNumPartitions() == width
    if width == 1:
        assert out is df  # never a width-1 exchange


def test_spread_leaves_wide_enough_input_unchanged(spark):
    dp = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000, 1, dp)
    assert spread_input(df, 1) is df


def test_spread_unknown_size_gets_session_width(spark, monkeypatch):
    dp = spark.sparkContext.defaultParallelism
    df = spark.range(0, 10, 1, 1)
    monkeypatch.setattr(catalog, "spread_need", lambda df, bytes_per_task: None)
    assert spread_input(df, 1 << 30).rdd.getNumPartitions() == dp


# Uncapped width ("need") of every spread_input call site, in call order,
# when the query is built on sf0.001. Text pipelines use the 64 KiB default,
# compute-bound folds FOLD_BYTES_PER_TASK, codecs CODEC_BYTES_PER_TASK. The
# codec and text needs equal the widths the earlier per-module formulas
# gave; the compute-bound ones reach any session width up to 90 cores, as
# the former explicit defaultParallelism overrides did. The triangle edge
# frame is a checkpoint whose estimate Spark does not bound.
SITE_NEEDS = [
    ("p1_json_map_flatten", [1]),  # ingest_queries: JSON parse
    ("x5_distinctive_terms", [1]),  # plans/llm: tokenize
    ("x5_ngram_novelty", [1]),  # plans/llm
    ("x5_winnow_fingerprints", [1]),  # plans/llm
    ("x7_corpus_prep_neardup", [1, 1]),  # _rep_with_stop, minhash
    ("x5_repetition_metrics", [1]),  # operators/quality
    ("x5_bpe_tokenize", [1]),  # operators/bpe word_vocab
    ("x2_minhash_neardup_pairs", [1]),  # operators/dedup minhash
    ("x2_simhash_signatures", [110]),  # simhash vote fold
    ("x2_ngram_jaccard_pairs", [110]),  # shingle PPM, jaccard
    ("x8_decontaminate_overlap", [110]),  # shingle PPM, containment
    ("x3_kmeans_codebook", [631, 379]),  # Lloyd assignment, final sizes
    ("x3_hash_embed_clusters", [90, 90]),  # kmeans_fit, ivf_assignments
    ("x3_ivf_topk", [757]),  # IVF argmax
    ("x3_cosine_neardup_pairs", [883]),  # cartesian left side
    ("graph_triangle_count", [12746861333]),  # bitset edge scoring
    ("x4_wav_decode", [2]),
    ("x4_pgm_decode", [1]),
    ("x4_y4m_decode", [4]),
    ("x4_png_decode", [3]),
    ("x4_jpeg_decode", [9]),
    ("x4_jpeg_color_decode", [14]),
    ("x4_jpeg_progressive_decode", [21]),
    ("x4_audio_fingerprint", [2]),  # wav_media
    ("x4_image_ahash", [1]),  # pgm_media
    ("x4_video_motion", [4]),  # y4m_media
    ("x4_jpeg_dc_thumbnail", [9]),  # jpeg_media
]


@pytest.mark.parametrize("query,needs", SITE_NEEDS, ids=[q for q, _ in SITE_NEEDS])
def test_spread_call_site_widths(spark, sf_dir, monkeypatch, query, needs):
    from dockerized_data_pipeline_spark.plans import QUERIES

    got = []
    real = catalog.spread_need

    def record(df, bytes_per_task):
        need = real(df, bytes_per_task)
        got.append(need)
        return need

    monkeypatch.setattr(catalog, "spread_need", record)
    QUERIES[query](spark, sf_dir)
    dp = spark.sparkContext.defaultParallelism
    assert [min(n, dp) for n in got] == [min(n, dp) for n in needs]
    assert got == needs
