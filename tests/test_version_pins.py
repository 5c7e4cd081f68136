"""One consolidated version-sensitivity pin (VERDICT r8 item 8).

The oracle stack deliberately freezes several ENGINE-INTERNAL behaviors:
Spark's xxhash64 byte layout (plans/duckhash.py replays it in SQL),
Spark-ML BRP-LSH's seed-42 random unit vectors (plans/mllsh.py),
NormalizeFloatingNumbers' -0.0 canonicalization, ROLLUP-over-empty
returning zero rows, sequence(1,0) descending, least/greatest NULL-skip,
DuckDB 1.0's CTE-inlining/LEAST semantics, and the two py4j internals
session.isolated_session is built on (``cloneSession`` and
``classic.Dataset.ofRows``), and the two session.local_frame is built on
(``_make_type_verifier`` and ``createDataFrame(pyarrow.Table, StructType)``
planning a ``LocalRelation``). A Spark or DuckDB
upgrade that changes ANY of these would otherwise surface as dozens of
scattered oracle failures; this file makes the upgrade fail in ONE
place with a migration note per pin.

If an assertion here fires after an upgrade: re-derive the frozen
constants (each pin names its source module), re-run
tools/run_sweep.py, and update the pinned version below.
"""

from __future__ import annotations

import math


def test_library_versions_are_the_pinned_ones():
    import duckdb
    import pyspark

    # Every frozen constant below was derived on exactly these versions.
    assert pyspark.__version__ == "4.1.2", (
        "Spark upgraded: re-verify xxhash64 layout (plans/duckhash.py), "
        "BRP-LSH unit vectors (plans/mllsh.py), NormalizeFloatingNumbers, "
        "rollup-empty, sequence() direction -- then bump this pin"
    )
    assert duckdb.__version__ == "1.0.0", (
        "DuckDB upgraded: re-verify CTE MATERIALIZED inlining, LEAST/"
        "GREATEST null-skip, NULLS LAST default ordering, DECIMAL cast "
        "rounding via VARCHAR round-trip -- then bump this pin"
    )


def test_spark_xxhash64_golden_values(spark):
    """plans/duckhash.py replays these bit-for-bit in DuckDB SQL; if the
    layout moves, every MinHash/SimHash/CMS/HLL oracle breaks."""
    row = spark.sql(
        "SELECT xxhash64(CAST(0 AS BIGINT)) a, xxhash64(CAST(42 AS BIGINT)) b, "
        "xxhash64(CAST(1 AS INT)) c, xxhash64('spark') d, "
        "xxhash64(CAST(7 AS BIGINT), CAST(11 AS BIGINT)) e"
    ).collect()[0]
    assert row.a == -5252525462095825812
    assert row.b == -6876166290308861218
    assert row.c == -6698625589789238999
    assert row.d == -1960931134668248110
    assert row.e == 7046197201577657493


def test_brp_lsh_unit_vectors_still_match_refit(spark):
    """plans/mllsh.py freezes model.randUnitVectors for seed=42 /
    numHashTables=4 / dim=64; the x3 LSH oracles replay the projection in
    SQL from these constants. A Spark-ML RNG change breaks them."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    from dockerized_data_pipeline_spark.plans import mllsh

    df = spark.createDataFrame(
        [(0, [0.0] * mllsh.DIM)], "id long, raw array<double>"
    ).select("id", array_to_vector("raw").alias("features"))
    model = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=mllsh.BUCKET_LENGTH,
        numHashTables=mllsh.NUM_TABLES,
        seed=mllsh.SEED,
    ).fit(df)
    refit = [list(v.toArray()) for v in model._java_obj.randUnitVectors()]
    assert len(refit) == len(mllsh.UNIT_VECTORS)
    for got, want in zip(refit, mllsh.UNIT_VECTORS):
        assert got == want, "Spark-ML BRP-LSH RNG changed: re-freeze mllsh"


def test_normalize_floating_numbers_canonicalizes_negzero(spark):
    """Spark groups COLUMN -0.0 as +0.0 (NormalizeFloatingNumbers);
    DuckDB keeps the sign bit of its representative. fuzz_oracle's
    negzero_grouping classifier (and the oracle authoring rule 'never
    group by a float expression that can go -0.0') depend on this
    direction staying Spark=+0.0."""
    rows = spark.createDataFrame(
        [(-0.0,), (0.0,)], "x double"
    ).groupBy("x").count().collect()
    assert len(rows) == 1
    assert math.copysign(1.0, rows[0]["x"]) == 1.0, (
        "Spark no longer normalizes -0.0 in grouping keys"
    )


def test_rollup_over_empty_input_returns_zero_rows(spark):
    """The SQL standard (and DuckDB) emit the () grand-total row over an
    empty input; Spark's Expand-based rollup yields zero rows. Classified
    as rollup_empty_input in tools/fuzz_oracle.py."""
    out = spark.sql(
        "SELECT COUNT(*) FROM VALUES (1) t(x) WHERE false GROUP BY ROLLUP(x)"
    ).collect()
    assert out == [], "Spark fixed rollup-over-empty: retire the classifier"


def test_sequence_descends_instead_of_empty(spark):
    """sequence(1, 0) yields [1, 0] (not []): every 0-length explode in
    the engine (BPE pair explode, x8_epoch_upsample) guards with
    when(n >= 1, ...). If this becomes empty, the guards are dead but
    correct; if it ever ERRORS, those paths break."""
    row = spark.sql("SELECT sequence(1, 0) s").collect()[0]
    assert row.s == [1, 0], "sequence() semantics changed: re-audit guards"


def test_least_greatest_skip_nulls(spark):
    """Spark least/greatest skip NULL arguments (only all-NULL is NULL).
    The hard-sigmoid logreg link and quality_score_ppm NULL-parity notes
    (plans/llm.py) rely on both engines sharing this semantic."""
    row = spark.sql(
        "SELECT least(CAST(NULL AS DOUBLE), 1.0) a, "
        "greatest(CAST(NULL AS DOUBLE), 2.0) b, "
        "least(CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)) c"
    ).collect()[0]
    assert row.a == 1.0 and row.b == 2.0 and row.c is None


def test_duckdb_least_skips_nulls_and_orders_nulls_last():
    """DuckDB-side halves of the same pins: LEAST skips NULLs, and the
    default window ORDER is NULLS LAST (Spark windows are NULLS FIRST --
    why sketch_histogram_percentiles filters NULL prices on both sides).
    """
    import duckdb

    con = duckdb.connect()
    assert con.execute("SELECT LEAST(NULL, 1.0)").fetchone()[0] == 1.0
    order = con.execute(
        "SELECT x FROM (VALUES (NULL), (1), (2)) t(x) ORDER BY x"
    ).fetchall()
    assert order == [(1,), (2,), (None,)]
    con.close()


def test_double_to_string_is_shortest_repr(spark):
    """The float->DECIMAL VARCHAR round-trip in the kmeans/logreg oracles
    assumes Spark casts double->string via the shortest round-trippable
    repr (matching Python repr), not a fixed-precision format."""
    row = spark.sql(
        "SELECT CAST(CAST(0.1 AS DOUBLE) + CAST(0.2 AS DOUBLE) AS STRING) s"
    ).collect()[0]
    assert row.s == "0.30000000000000004"


def test_levenshtein_is_codepoint_based_in_spark(spark):
    """Spark levenshtein counts CODEPOINT edits; DuckDB's counts BYTE
    edits (r11 unicode-names tier). The fuzzy-join oracles therefore
    verify distance<=1 with the codepoint one-edit predicate
    (plans/eventflow.py _cp_one_edit) instead of duck levenshtein."""
    row = spark.sql(
        "SELECT levenshtein('中文处理', '中文処理') a, "
        "levenshtein('caf\u00e9', 'cafe\u0301') b"  # NFC vs NFD
    ).collect()[0]
    assert row.a == 1 and row.b == 2


def test_duckdb_levenshtein_is_byte_based_and_list_position_zero():
    """DuckDB-side halves: levenshtein('中文处理','中文処理') = 2 (bytes),
    and list_position returns 0 -- not NULL -- when absent (why
    _cp_one_edit wraps it in NULLIF(.., 0)). string_split('', ''),
    SUBSTRING, and LENGTH all index CODEPOINTS (NFD cafe = 5 elements,
    the lone combining mark its own element)."""
    import duckdb

    con = duckdb.connect()
    assert con.execute(
        "SELECT levenshtein('中文处理', '中文処理')"
    ).fetchone()[0] == 2
    assert con.execute("SELECT list_position([true, true], false)").fetchone()[0] == 0
    # NFD built via chr() -- editors/heredocs silently NFC-normalize
    # pasted literals
    assert con.execute(
        "SELECT LENGTH(string_split('cafe' || chr(769), ''))"
    ).fetchone()[0] == 5
    assert con.execute("SELECT LENGTH('cafe' || chr(769))").fetchone()[0] == 5
    assert con.execute(
        "SELECT SUBSTRING('cafe' || chr(769), 5, 1) = chr(769)"
    ).fetchone()[0]
    con.close()


def test_upper_sharp_s_full_vs_simple_case_mapping(spark):
    """Spark UPPER applies the full Unicode case mapping (ß -> SS,
    ligature fi -> FI); DuckDB applies the simple 1:1 mapping
    (ß -> U+1E9E). f_string_gallery's oracle pre-folds ß -> ss. LOWER
    of U+1E9E agrees ('ß' both), as does Greek final sigma."""
    import duckdb

    row = spark.sql("SELECT upper('ß') a, upper('ﬁ') b").collect()[0]
    assert row.a == "SS" and row.b == "FI"
    con = duckdb.connect()
    assert con.execute("SELECT UPPER('ß')").fetchone()[0] == "ẞ"
    assert con.execute("SELECT UPPER(REPLACE('ß', 'ß', 'ss'))").fetchone()[0] == "SS"
    con.close()


class _CountingListener:
    """py4j-implemented ``QueryExecutionListener`` (the shape of
    perfbench's QueryListener): counts successful executions."""

    def __init__(self) -> None:
        self.calls = 0

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM interface)
        self.calls += 1

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def test_clone_session_keeps_conf_and_listeners(spark):
    """session.isolated_session clones with ``cloneSession()``: the clone
    must inherit runtime conf overrides and registered listeners (which
    ``newSession()`` drops), and a conf set on the clone must not reach
    its parent. Both sessions here are clones, so nothing is set or
    registered on the shared test session."""
    from pyspark.java_gateway import ensure_callback_server_started
    from pyspark.sql import SparkSession

    sc = spark.sparkContext
    ensure_callback_server_started(sc._gateway)
    parent = SparkSession(sc, spark._jsparkSession.cloneSession())
    parent.conf.set("spark.sql.shuffle.partitions", "3")
    listener = _CountingListener()
    parent._jsparkSession.listenerManager().register(listener)
    n_listeners = len(parent._jsparkSession.listenerManager().listListeners())

    clone = SparkSession(sc, parent._jsparkSession.cloneSession())
    assert clone.conf.get("spark.sql.shuffle.partitions") == "3"
    assert len(clone._jsparkSession.listenerManager().listListeners()) == n_listeners
    assert len(spark._jsparkSession.newSession().listenerManager().listListeners()) == 0
    clone.range(3).collect()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert listener.calls >= 1

    clone.conf.set("spark.sql.adaptive.enabled", "false")
    assert parent.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_dataset_ofrows_rebinds_a_persisted_frame_to_its_cache(spark):
    """session.isolated_session binds a caller's frame into the clone via
    ``classic.Dataset.ofRows(clone, df.logicalPlan())``; the k-means loop
    relies on the rebound frame still reading the persisted projection
    (the cache manager is shared across sessions of one context)."""
    from pyspark.sql import DataFrame, SparkSession

    sc = spark.sparkContext
    df = spark.range(50).selectExpr("id", "id % 3 AS g").persist()
    try:
        df.count()
        clone = SparkSession(sc, spark._jsparkSession.cloneSession())
        rebound = DataFrame(
            sc._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                clone._jsparkSession, df._jdf.logicalPlan()
            ),
            clone,
        )
        agg = rebound.groupBy("g").count()
        assert sorted(r["count"] for r in agg.collect()) == [16, 17, 17]
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
        assert agg.sparkSession is clone
    finally:
        df.unpersist()


def test_type_verifier_rejects_none_in_non_nullable_field():
    """session.local_frame runs PySpark's private ``_make_type_verifier``
    on every row, the check ``createDataFrame(list)`` makes; if it moves
    or stops rejecting a None in a non-nullable field, local frames
    silently accept rows the list path refuses."""
    import pytest
    from pyspark.sql import types as T
    from pyspark.sql.types import _make_type_verifier

    schema = T.StructType(
        [T.StructField("k", T.StringType(), False), T.StructField("v", T.LongType())]
    )
    verify = _make_type_verifier(schema)
    verify(("a", None))
    with pytest.raises(ValueError, match="not nullable"):
        verify((None, 1))


def test_create_dataframe_from_arrow_table_keeps_schema_and_plans_local(spark):
    """session.local_frame hands ``createDataFrame`` a ``pyarrow.Table``
    with a StructType: the frame must keep that StructType exactly
    (nullability included, not the Arrow table's own) and plan as a
    ``LocalRelation``, with no Python RDD behind it."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.types import _parse_datatype_json_string

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.ArrayType(T.DoubleType(), False), True),
        ]
    )
    table = pa.table({"k": ["a", "b"], "v": [[1.0, -0.0], None]})
    df = spark.createDataFrame(table, schema)
    assert df.schema == schema
    assert _parse_datatype_json_string(df._jdf.schema().json()) == schema
    qe = df._jdf.queryExecution()
    assert qe.optimizedPlan().getClass().getSimpleName() == "LocalRelation"
    assert "PythonRDD" not in df._jdf.rdd().toDebugString()
    assert df.collect()[0].v == [1.0, -0.0]
