"""SparkSession factory.

Defaults tuned for the test harness (local[N], single JVM) but every knob is
cluster-appropriate: AQE handles runtime re-planning and skew on a real
cluster, UTC session timezone makes timestamp semantics deterministic, and
shuffle partitions are sized from the env rather than the 200 default.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def default_cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    except ValueError:
        return 32


def tuned_skew_conf(
    median_partition_bytes: int, factor: float = 2.0
) -> dict[str, str]:
    """AQE skew-join profile scaled to OBSERVED partition stats.

    Spark's defaults (`skewedPartitionFactor=5`,
    `skewedPartitionThresholdInBytes=256m`, `advisoryPartitionSizeInBytes=64m`)
    are sized for multi-GB cluster shuffles; below ~50 MB/partition the skew
    split simply never fires (measured by tools/skew_probe.py), so a 5-10x
    straggler rides through untouched. This profile re-derives the three knobs
    from the median shuffle-partition size actually observed (the status
    store's task summary, :func:`measured_median_shuffle_bytes`, or table
    statistics):

      * threshold = max(median * factor, 1 MiB) -- a partition `factor`x the
        median is "skewed", matching the straggler criterion the salted join
        uses, instead of an absolute 256 MB that assumes cluster-scale data.
      * skewedPartitionFactor = factor -- both the relative and absolute
        gates must pass in Spark's OptimizeSkewedJoin, so they are kept
        consistent.
      * advisory size = median -- the split target; the default 64 MB would
        leave a 10-MB "skewed" partition whole even after it passes the
        threshold, because splitting only happens into advisory-sized chunks.

    At 100 TB the same derivation applies with median stats from the shuffle
    metrics of a representative run (or `ANALYZE TABLE` sizes /
    numShufflePartitions); the point is the knobs scale WITH the data rather
    than being absolute constants. Apply via
    `get_session(extra_conf=tuned_skew_conf(...))`.
    """
    median = max(int(median_partition_bytes), 1)
    thr = max(int(median * factor), 1 << 20)
    adv = max(median, 1 << 20)
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": str(factor),
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": str(thr),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(adv),
        # coalescing must not immediately re-merge the split chunks; 1 MiB
        # (the adv floor) is small enough that no tuned split is re-merged
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": str(1 << 20),
    }


def completed_stages(spark: SparkSession, first_stage_after: int = 0) -> list:
    """Completed stages with ``stageId >= first_stage_after``, as Spark's
    ``status.api.v1.StageData`` (py4j proxies), read from the driver's
    in-process ``AppStatusStore`` -- the store the UI's REST endpoints
    serve, populated whether or not the UI runs. Drains the listener bus
    first: stage-completed events reach the store asynchronously, so a
    stage whose action has just returned would otherwise be missing."""
    sc = spark.sparkContext
    jvm, jsc = sc._jvm, sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    complete = jvm.java.util.Collections.singletonList(
        jvm.org.apache.spark.status.api.v1.StageStatus.COMPLETE
    )
    stages = jsc.statusStore().stageList(
        complete, False, False, sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.Collections.emptyList(),
    )
    return [
        s for s in jvm.scala.jdk.javaapi.CollectionConverters.asJava(stages)
        if s.stageId() >= first_stage_after
    ]


def task_quantiles(spark: SparkSession, stage, quantiles=(0.0, 0.5, 1.0)):
    """Per-task metric quantiles of a :func:`completed_stages` entry as
    Spark's ``TaskMetricDistributions`` (each field an indexed sequence,
    one value per quantile: ``d.executorRunTime().apply(i)``), or None
    when the store no longer holds the stage's tasks
    (``spark.ui.retainedStages`` eviction)."""
    sc = spark.sparkContext
    q = sc._gateway.new_array(sc._jvm.double, len(quantiles))
    for i, v in enumerate(quantiles):
        q[i] = float(v)
    store = sc._jsc.sc().statusStore()
    d = store.taskSummary(stage.stageId(), stage.attemptId(), q)
    return d.get() if d.isDefined() else None


def measured_median_shuffle_bytes(
    spark: SparkSession, first_stage_after: int = 0
) -> int | None:
    """Median per-task shuffle-read bytes of the heaviest shuffle-read
    stage completed since the ``first_stage_after`` watermark, read from
    the status store (:func:`completed_stages`).

    This is the partition statistic :func:`tuned_skew_conf` scales its
    thresholds from. Returns None when no stage has shuffled yet. On a
    real cluster the history server serves the same per-stage data, so a
    nightly job can derive tomorrow's profile from tonight's run."""
    new = [
        s for s in completed_stages(spark, first_stage_after)
        if s.shuffleReadBytes() > 0
    ]
    if not new:
        return None
    s = max(new, key=lambda s: s.shuffleReadBytes())
    d = task_quantiles(spark, s)
    if d is None:  # task summary evicted: fall back to the stage-level mean
        return int(s.shuffleReadBytes() / max(s.numCompleteTasks(), 1))
    return int(d.shuffleReadMetrics().readBytes().apply(1))


def auto_skew_profile(
    spark: SparkSession, first_stage_after: int = 0, factor: float = 2.0
) -> dict[str, str]:
    """Self-deriving AQE skew profile: measure the median shuffle
    partition of the run so far from the status store and scale the
    skew-join knobs to it (:func:`tuned_skew_conf`). Removes the hand-fed
    median-bytes input -- run a representative query, then apply this
    profile to the rest of the job. Raises when no shuffle stats exist
    yet (nothing to derive from beats silently keeping the cluster-scale
    defaults that never fire at small partition sizes)."""
    med = measured_median_shuffle_bytes(spark, first_stage_after)
    if med is None:
        raise RuntimeError(
            "auto_skew_profile: no completed shuffle stage to measure "
            "(has a shuffling query run since the watermark?)"
        )
    return tuned_skew_conf(med, factor)


def isolated_session(spark: SparkSession, **views: DataFrame) -> SparkSession:
    """A clone of ``spark`` for ONE query, with each ``views`` DataFrame
    bound as a temp view in the clone only.

    ``cloneSession`` copies the caller's runtime SQL conf, registered
    ``QueryExecutionListener``s and temp views, and shares the
    SparkContext and the table cache (a frame the caller persisted is
    still read as ``InMemoryTableScan``). Views and conf set on the clone
    never reach the caller's session, so queries on other threads keep
    their catalog and conf, and nothing needs restoring when the query
    is built or fails. (``newSession`` would drop the caller's conf
    overrides and listeners.) DataFrames the clone returns stay bound to
    it and run under its conf; analysis resolves view names eagerly, so
    they are safe to combine with the caller's frames."""
    clone = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    rebind = spark.sparkContext._jvm.org.apache.spark.sql.classic.Dataset.ofRows
    for name, df in views.items():
        DataFrame(
            rebind(clone._jsparkSession, df._jdf.logicalPlan()), clone
        ).createOrReplaceTempView(name)
    return clone


def local_frame(
    spark: SparkSession, rows: list, schema: T.StructType | str
) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples in ``schema`` order),
    shipped to the JVM as one Arrow table and planned as a
    ``LocalRelation``.

    ``createDataFrame`` over a Python list pickles the rows into a
    ``PythonRDD``, so every action over the frame starts a Python worker
    per slice (~1 s of worker CPU even for one row). This path starts
    none and keeps every check the list path makes: a DDL string is
    parsed the same way, each row goes through PySpark's own type
    verifier (a ``None`` in a non-nullable field raises), and rows are
    converted with ``schema.toInternal``, so a naive ``datetime`` keeps
    its process-local-time meaning. The result keeps ``schema`` exactly,
    nullability included."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = spark._parse_ddl(schema)
    verify = T._make_type_verifier(schema)
    for row in rows:
        verify(row)
    internal = [schema.toInternal(row) for row in rows]
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [
            pa.array([r[i] for r in internal], type=f.type)
            for i, f in enumerate(arrow)
        ],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def get_session(
    app_name: str = "ddp-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    AQE is left on: at 100 TB it coalesces small shuffle partitions, re-plans
    sort-merge joins into broadcast joins when runtime stats allow, and splits
    skewed partitions -- all decisions we'd otherwise hand-tune per query.
    """
    cpus = default_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Read parquet TIMESTAMP(NANOS) (unsupported natively) as raw nanos;
        # catalog.load_table converts them to TimestampType at the edge.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_package_on_workers(spark)
    return spark


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship this package to Spark's Python workers via addPyFile.

    Python-UDF closures (mapInPandas batch fns) pickle references to this
    module; workers deserializing them must be able to import it even when
    the driver process was launched outside the repo directory. Safe to call
    repeatedly (once per SparkContext)."""
    sc = spark.sparkContext
    if getattr(sc, "_ddp_pkg_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zpath = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}-{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fname in files:
                if not fname.endswith(".py"):
                    continue
                full = os.path.join(root, fname)
                arc = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                zf.write(full, arc)
    sc.addPyFile(zpath)
    sc._ddp_pkg_shipped = True
