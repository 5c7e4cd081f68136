"""Table catalog: load driver parquet fixtures and register temp views.

Replaces the reference's DDL task (``create_stock_table``,
dags/stock_data_pipeline.py:23-41) and its implicit "tables live in Postgres"
catalog with Spark temp views over columnar parquet. Schema presence checks
(Makefile:137-138) become ``spark.catalog`` lookups.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import local_frame

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# The reference's target table, re-expressed (dags/stock_data_pipeline.py:25-39).
# PRIMARY KEY (symbol, timestamp) becomes a uniqueness-by-construction
# invariant enforced by operators.merge.merge_upsert.
STOCK_DATA_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType(), False),
        T.StructField("timestamp", T.TimestampNTZType(), False),
        T.StructField("open_price", T.DecimalType(15, 4), True),
        T.StructField("high_price", T.DecimalType(15, 4), True),
        T.StructField("low_price", T.DecimalType(15, 4), True),
        T.StructField("close_price", T.DecimalType(15, 4), True),
        T.StructField("volume", T.LongType(), True),
        T.StructField("last_refreshed", T.TimestampNTZType(), True),
        T.StructField("time_zone", T.StringType(), True),
        T.StructField("created_at", T.TimestampNTZType(), True),
    ]
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Columns stored as parquet TIMESTAMP(NANOS): Spark reads them as raw
# nano longs (session conf legacy.parquet.nanosAsLong); we convert to
# microsecond TimestampNTZ at the edge. ``div 1000`` floors, matching how
# micro-resolution engines truncate nano timestamps. NTZ (not TimestampType)
# so every engine table has uniform naive-UTC timestamp semantics -- the
# other parquet columns (isAdjustedToUTC=false) already load as NTZ.
_NANO_TS_COLS = {"events": ("ts",)}

_NANOS_TO_NTZ = "cast(timestamp_micros({col} div 1000) as timestamp_ntz)"


def _prepare_session(spark: SparkSession) -> None:
    """Runtime confs the engine depends on, set here so queries also work on
    a caller-built SparkSession (e.g. the verify driver's): nano-timestamp
    parquet columns surface as longs (converted at the edge), timestamp
    semantics pinned to UTC, package shipped to Python workers."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from .session import ensure_package_on_workers

    ensure_package_on_workers(spark)


# Per-session DataFrame-HANDLE cache (r11 perf). A DataFrame is an
# immutable plan fragment, not data: caching the handle memoizes the
# driver-side py4j construction (reader creation, file listing, footer
# schema read, the nano-ts dtype probe -- measured ~0.12 s per call on
# this host, paid by EVERY query build since queries are rebuilt per run)
# while every materialization still scans parquet from disk. Keyed by
# (path, mtime_ns, size) so any rewrite of the fixture file invalidates
# the entry -- the InMemoryFileIndex inside a stale handle would
# otherwise pin the old file list. Keyed weakly by the SparkSession
# object so handles never leak across sessions (a DataFrame is bound to
# the session that built it) and die with their session.
from weakref import WeakKeyDictionary

_TABLE_HANDLES: "WeakKeyDictionary[SparkSession, dict]" = WeakKeyDictionary()

# _prepare_session is idempotent (two conf.set calls + a shipped-package
# flag check) but each call is py4j round trips; run it once per session.
_PREPARED: "WeakKeyDictionary[SparkSession, bool]" = WeakKeyDictionary()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if not _PREPARED.get(spark):
        _prepare_session(spark)
        _PREPARED[spark] = True
    path = table_path(sf_dir, name)
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        key = None  # directory-style/missing path: build uncached
    cache = _TABLE_HANDLES.setdefault(spark, {})
    if key is not None and key in cache:
        return cache[key]
    df = spark.read.parquet(path)
    for col in _NANO_TS_COLS.get(name, ()):
        if dict(df.dtypes).get(col) == "bigint":
            df = df.withColumn(col, F.expr(_NANOS_TO_NTZ.format(col=col)))
    if key is not None:
        cache[key] = df
    return df


# spread_input hint for compute-bound per-row folds (k-means assignment at
# ~4 ms/row, IVF argmax, simhash votes, shingle n-gram folds, cosine and
# triangle scoring): about one plan row per task, so any input of a few
# hundred rows or more reaches the session width.
FOLD_BYTES_PER_TASK = 256


def spread_need(df: DataFrame, bytes_per_task: float) -> int | None:
    """Tasks needed to give each about ``bytes_per_task`` of the plan's
    estimated size (ceil), or None when the optimizer has no estimate."""
    try:
        # py4j surfaces scala.math.BigInt as a Java object or a plain
        # Python int depending on magnitude; str() handles both
        est = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        return None
    return max(1, math.ceil(est / bytes_per_task))


def spread_input(df: DataFrame, bytes_per_task: float = 64 << 10) -> DataFrame:
    """Round-robin a narrow input across the session (guide section 2.5
    "input skew: one huge unsplittable file -- repartition immediately
    after the read"). This is the one place a stage width is chosen:

        width = min(session width, ceil(plan bytes / bytes_per_task))

    where plan bytes is the optimizer's ``sizeInBytes`` estimate for ``df``
    (the session width when there is none; unknown-size plans such as
    LogicalRDD report Long.Max-ish estimates, which the min bounds). The
    input is repartitioned only when it has fewer partitions than that
    width, so on multi-split inputs (production, or the bench's
    SPARK_GRAFT_BENCH_FILES=N layout) this is a no-op and never adds a
    full-corpus shuffle.

    ``bytes_per_task`` (plan bytes of input per task) is how a caller
    states its per-row cost, in bytes because plan statistics carry bytes
    and no row count. The default,
    64 KiB, fits the expression-heavy text pipelines (winnowing folds,
    shingling, JSON parsing: ~0.1-1 ms per ~100 B compressed row);
    compute-bound folds pass ``FOLD_BYTES_PER_TASK``; media codecs pass
    ``functions.multimodal.CODEC_BYTES_PER_TASK``. Select the needed
    columns before calling: only they cross the exchange."""
    width = df.sparkSession.sparkContext.defaultParallelism
    need = spread_need(df, bytes_per_task)
    if need is not None:
        width = min(width, need)
    if df.rdd.getNumPartitions() >= width:
        return df
    return df.repartition(width)


def load_events_range(
    spark: SparkSession,
    sf_dir: str,
    ts_from: str | None = None,
    ts_to: str | None = None,
) -> DataFrame:
    """Load ``events`` with a time-range predicate that reaches the parquet
    scan.

    The nano->timestamp conversion in load_table is a projection, and
    Catalyst does not push predicates through arithmetic -- so filtering the
    *converted* column scans the whole table. Here the equivalent predicate
    is applied to the raw nano long (ts >= T  <=>  raw >= micros(T)*1000,
    exact for positive epochs) BEFORE conversion, so it pushes down to
    parquet row-group min/max stats. At 100 TB this is the difference
    between reading one day and reading the table.
    """
    import datetime as _dt

    _prepare_session(spark)
    df = spark.read.parquet(table_path(sf_dir, "events"))
    raw_is_long = dict(df.dtypes).get("ts") == "bigint"

    def to_nanos(s: str) -> int:
        d = _dt.datetime.fromisoformat(s).replace(tzinfo=_dt.timezone.utc)
        return int(d.timestamp() * 1_000_000) * 1000

    if raw_is_long:
        if ts_from is not None:
            df = df.filter(F.col("ts") >= to_nanos(ts_from))
        if ts_to is not None:
            df = df.filter(F.col("ts") < to_nanos(ts_to))
        df = df.withColumn("ts", F.expr(_NANOS_TO_NTZ.format(col="ts")))
    else:
        if ts_from is not None:
            df = df.filter(F.col("ts") >= F.lit(ts_from).cast("timestamp"))
        if ts_to is not None:
            df = df.filter(F.col("ts") < F.lit(ts_to).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> dict[str, DataFrame]:
    """Register each fixture table as a temp view; returns name -> DataFrame."""
    out = {}
    for name in tables:
        path = table_path(sf_dir, name)
        if not os.path.exists(path):
            continue
        df = spark.read.parquet(path)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def create_table_if_not_exists(
    spark: SparkSession,
    name: str,
    schema: T.StructType,
    location: str,
    partition_by: tuple[str, ...] = (),
) -> None:
    """CREATE TABLE IF NOT EXISTS analog of the reference DDL task
    (dags/stock_data_pipeline.py:25-39): an empty partitioned parquet layout.

    Partitioning by the entity key replaces the Postgres PK b-tree for
    pruning: at 100 TB a per-symbol/date layout keeps point and range
    queries O(partitions touched).
    """
    if os.path.exists(location) and os.listdir(location):
        return
    empty = local_frame(spark, [], schema)
    writer = empty.write.mode("ignore")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(location)


def tables_present(spark: SparkSession, names: tuple[str, ...]) -> int:
    """Schema-presence check (Makefile:137-138): count of expected temp views."""
    existing = {t.name for t in spark.catalog.listTables()}
    return sum(1 for n in names if n in existing)
