"""Structured Streaming re-expression of the reference's scheduled
micro-batch pipeline (SURVEY section 2.9 T1-T7).

The reference's semantics -- hourly trigger (dags/stock_data_pipeline.py:47),
no backfill (catchup=False, :49), at-least-once fetch + idempotent keyed
upsert = effectively-once (retries :19-20 + PK upsert
scripts/fetch_stock_data.py:94-101) -- map onto:

    readStream (file source)
      -> transformations
      -> writeStream.foreachBatch(merge_upsert_path)   # idempotent MERGE
      -> Trigger.AvailableNow / processingTime

``foreachBatch`` + an idempotent keyed MERGE is the canonical Spark
exactly-once sink pattern: a replayed batch upserts the same keys to the
same values. Late/updated data is handled by upsert-on-key (T4), and
watermarked tumbling windows cover windowed aggregation over event time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import merge_upsert_partitioned, merge_upsert_path
from ..session import local_frame


def stream_events(
    spark: SparkSession,
    source_dir: str,
    schema,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based stream source (the test stand-in for a message bus; T6
    rate limiting maps to maxFilesPerTrigger)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def ingest_stream(
    stream_df: DataFrame,
    target_path: str,
    keys: list[str],
    order_by: list[str],
    update_cols: list[str] | None = None,
    preserve_cols: list[str] | None = None,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    partition_col: str | None = None,
):
    """Start the exactly-once ingest: every micro-batch MERGEs into the
    target by key (T3). Returns the StreamingQuery.

    ``Trigger.AvailableNow`` drains what exists and stops -- the testable,
    batch-like analog of the reference's scheduled runs; pass
    available_now=False for a continuous processing-time trigger.
    With ``partition_col`` (must be a merge key) each micro-batch rewrites
    only the partitions it touches -- the sustainable shape for a
    continuously-merging 100 TB target.
    """
    spark = stream_df.sparkSession

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # S6 empty-batch guard (scripts/fetch_stock_data.py:82-83).
        if batch_df.isEmpty():
            return
        if partition_col is not None:
            merge_upsert_partitioned(
                spark,
                target_path,
                batch_df,
                keys=keys,
                partition_col=partition_col,
                update_cols=update_cols,
                preserve_cols=preserve_cols,
                batch_order_by=order_by,
            )
        else:
            merge_upsert_path(
                spark,
                target_path,
                batch_df,
                keys=keys,
                update_cols=update_cols,
                preserve_cols=preserve_cols,
                batch_order_by=order_by,
            )

    writer = stream_df.writeStream.foreachBatch(write_batch).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="1 hour")
    return writer.start()


def stream_dedup(
    stream_df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same key within the
    watermark horizon (state is bounded by the watermark -- the streaming
    twin of X1 exact dedup; re-deliveries older than the watermark are
    already handled by the idempotent MERGE sink)."""
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def windowed_event_counts(
    stream_df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_duration: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window aggregation (T4 late-data handling for
    windowed aggs): counts + exact decimal value sums per (window, key).

    The batch-equivalent plan (F.window over a static frame) is
    oracle-checked by plans.streaming_queries.t_tumbling_window_hourly.
    """
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_duration), key_col)
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,4)")).cast("decimal(38,4)").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


def rollup_stream(
    stream_df: DataFrame,
    rollup_path: str,
    key_cols: list[str],
    ts_col: str = "ts",
    bucket: str = "1 hour",
    value_col: str = "value",
    checkpoint_dir: str | None = None,
):
    """Continuous-aggregate maintenance (the hypertable pattern, streamed):
    every micro-batch folds into the stored time-bucket rollup via
    operators/maintenance.py incremental_rollup -- O(batch) work plus a
    keyed merge touching only the buckets the batch lands in, never a
    fact-table rescan. Exactly-once note: additive merging needs
    each row delivered once; a file stream + checkpoint guarantees each
    file is processed exactly once, so replay-safety comes from the
    checkpoint (unlike the idempotent MERGE path, which is replay-safe
    by construction)."""
    from ..operators.maintenance import incremental_rollup

    spark = stream_df.sparkSession

    def fold_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        incremental_rollup(
            spark,
            rollup_path,
            batch_df,
            key_cols=key_cols,
            ts_col=ts_col,
            bucket=bucket,
            value_col=value_col,
        )

    writer = stream_df.writeStream.foreachBatch(fold_batch).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()


def fanout_stream(
    stream_df: DataFrame,
    sinks: list,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
):
    """Multi-sink fan-out from ONE stream read: each micro-batch is
    persisted once, then every sink callable ``(batch_df, epoch_id)`` runs
    against the cached batch -- the source is read exactly once per batch
    instead of once per sink (two independent queries would double the
    source read AND could diverge on offsets; foreachBatch keeps one
    offset log for all sinks).

    Sinks must be idempotent per (batch content, epoch_id) -- e.g. MERGE
    by key or epoch-keyed overwrite -- because a crash between sinks
    replays the whole batch for all of them (the standard foreachBatch
    multi-sink contract).
    """

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df.persist()
        try:
            for sink in sinks:
                sink(batch_df, epoch_id)
        finally:
            batch_df.unpersist()

    writer = stream_df.writeStream.foreachBatch(write_batch).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="1 hour")
    return writer.start()


def _epoch_dirs_and_tag(
    index_path: str, checkpoint_dir: str, epoch_id: int
) -> tuple[list[str], str]:
    """Corpus epoch directories + this run's epoch tag.

    Epoch dirs are named ``epoch={tag}-{n}`` where the tag is derived from
    the checkpoint directory: a crash-recovery restart keeps the same
    checkpoint (same tag), so a replayed batch still excludes its own
    crashed write; a DELIBERATE restart with a fresh checkpoint (e.g. to
    rotate the codebook) gets a new tag, so micro-batch numbering starting
    over at 0 neither shadows nor overwrites the previous run's epochs --
    they remain corpus.

    Two safety rules on top. First, EVERY corpus dir must carry Spark's
    ``_SUCCESS`` marker: completed batches always have it (written last),
    while a run that died mid-write leaves partial parquet that must not
    poison future batches. Second, untagged legacy ``epoch=N`` dirs
    (written by the pre-tag scheme, which numbered by batch id under ONE
    checkpoint) are interpreted under that old contract -- as THIS
    stream's -- so a crash-replay straight after upgrading the library
    still excludes its own crashed write. The cost of that safe default:
    a FRESH-checkpoint restart cannot tell a completed legacy index from
    its own history and will not treat legacy epochs >= its batch id as
    corpus; to migrate a legacy index into a new run's corpus, rename its
    dirs to a foreign tag first (``epoch=N`` -> ``epoch=legacy0-N``) --
    misclassifying old corpus as own only loses some dedup coverage,
    while the opposite direction (own crashed write as corpus) silently
    duplicates every pair, so the default errs this way."""
    import hashlib
    import os

    from ..operators.maintenance import compacted_epochs

    tag = hashlib.md5(os.path.abspath(checkpoint_dir).encode()).hexdigest()[:8]
    if os.path.isdir(index_path):
        # Epochs consolidated by compact_epoch_index live on inside a
        # foreign-tagged compacted dir -- corpus, by design. But if one
        # of THIS RUN's epochs numbered >= the current batch was
        # consolidated, the batch being (re)played wrote that epoch and
        # never committed its checkpoint: its own signatures are now
        # corpus and every pair would silently double. Fail loudly.
        for e in compacted_epochs(index_path):
            val = e.split("=", 1)[1] if e.startswith("epoch=") else e
            run_tag, _sep, num = val.rpartition("-")
            try:
                n = int(num)
            except ValueError:
                continue
            if run_tag == tag and n >= epoch_id:
                raise RuntimeError(
                    f"epoch {e!r} of this run (batch id {n}, current "
                    f"batch {epoch_id}) was consolidated by "
                    "compact_epoch_index while its checkpoint commit was "
                    "still pending: the replayed batch's own signatures "
                    "are inside a foreign-tagged compacted epoch and "
                    "would be double-counted as corpus. Restart the "
                    "stream under a fresh checkpoint path (new tag), or "
                    "restore the index from backup."
                )
    prior: list[str] = []
    if os.path.isdir(index_path):
        for e in os.listdir(index_path):
            if not e.startswith("epoch="):
                continue
            full = os.path.join(index_path, e)
            if not os.path.exists(os.path.join(full, "_SUCCESS")):
                continue  # crashed partial write: never corpus
            val = e.split("=", 1)[1]
            run_tag, sep, num = val.rpartition("-")
            try:
                n = int(num)
            except ValueError:
                n = None
            same_run = n is not None and (run_tag == tag or sep == "")
            if same_run and n > epoch_id and run_tag == tag:
                # a TAGGED same-run epoch NUMBERED AHEAD of the current
                # batch can only mean the checkpoint was deleted/reset in
                # place while the index was kept: batch numbering restarted
                # below the old run's epochs, which would now be silently
                # excluded from the corpus yet remain visible to any
                # wholesale spark.read.parquet(index_path) consumer. Fail
                # loudly -- the operator must either clear the index with
                # the checkpoint or move it to a fresh path (new tag).
                # UNTAGGED legacy dirs (sep == "") are exempt: under a
                # deliberately-rotated fresh checkpoint they are merely the
                # docstring's degraded-but-working legacy case (coverage
                # loss, not corruption), and wedging the stream over them
                # would contradict that documented contract.
                raise RuntimeError(
                    f"orphaned future-numbered epoch {e!r} under "
                    f"{index_path} (current batch id {epoch_id}): the "
                    "checkpoint was reset while the index was kept; clear "
                    "the index or restart it under a fresh checkpoint path"
                )
            if same_run and n > epoch_id and sep == "":
                # an UNTAGGED dir ahead of the batch id is ambiguous: a
                # deliberately-rotated fresh checkpoint over a legacy
                # index (sanctioned, mere coverage loss) is byte-identical
                # to a checkpoint reset in place over that legacy index
                # (corruption: duplicate re-indexing + missed pairs).
                # Cannot raise without breaking the documented legacy
                # contract -- but never stay silent either.
                import warnings

                warnings.warn(
                    f"legacy untagged epoch {e!r} is numbered ahead of "
                    f"batch {epoch_id} and will be EXCLUDED from the "
                    "corpus until numbering passes it. If this stream's "
                    "checkpoint was reset in place (not a deliberate "
                    "fresh-checkpoint rotation), the index now mixes "
                    "runs: clear it or migrate legacy dirs to a foreign "
                    "tag (epoch=N -> epoch=legacy0-N).",
                    stacklevel=2,
                )
            if not same_run or n < epoch_id:
                prior.append(full)
    return prior, tag


def neardup_stream(
    stream_docs: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
    min_est_jaccard_ppm: int = 300_000,
    available_now: bool = True,
):
    """Streaming incremental near-dup dedup: every arriving micro-batch of
    documents is MinHash-signed, probed against the signature index built
    from all PRIOR batches (plus itself), discovered near-dup pairs land
    in ``pairs_path``, and the batch's signatures join the index -- the
    streaming twin of ``operators.dedup.incremental_neardup_pairs``.

    State is the parquet signature index, so it is bounded by corpus size
    (one slim row per doc ever seen), not by stream length or watermark.
    Both writes go to ``.../epoch=N`` directories with overwrite, so a
    replayed micro-batch after crash-recovery rewrites its own epoch
    instead of appending duplicates (effectively-once, same posture as
    the MERGE ingest sink).
    """
    import os

    from ..operators.dedup import incremental_neardup_pairs, minhash_signatures
    from ..operators.maintenance import index_write_guard

    num_hashes = bands * rows_per_band

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # Corpus = strictly EARLIER epochs of THIS run plus every other
        # run's epochs. A crash between the epoch write and the checkpoint
        # commit replays batch N; reading this run's epoch back would
        # include the batch's OWN signatures, duplicating every pair and
        # relabeling batch-batch pairs as batch-corpus (F.max(is_corpus)
        # picks the corpus flavor). A fresh-checkpoint restart instead
        # gets a new tag, so pre-existing epochs stay corpus and batch 0
        # cannot overwrite them.
        #
        # index_write_guard: hold the index lock for the whole
        # read-probe-write so compact_epoch_index's rename window
        # serializes against this fold instead of trashing the corpus
        # dirs mid-read (maintenance.py's writer interlock).
        with index_write_guard(index_path):
            prior, tag = _epoch_dirs_and_tag(
                index_path, checkpoint_dir, epoch_id
            )
            if prior:
                corpus_sig = spark.read.option("basePath", index_path).parquet(
                    *prior
                ).select("doc", *[f"mh{i}" for i in range(num_hashes)])
            else:
                corpus_sig = local_frame(
                    spark,
                    [],
                    "doc long, "
                    + ", ".join(f"mh{i} long" for i in range(num_hashes)),
                )
            pairs = incremental_neardup_pairs(
                corpus_sig,
                batch_df,
                id_col,
                text_col,
                n=n,
                bands=bands,
                rows_per_band=rows_per_band,
                min_est_jaccard_ppm=min_est_jaccard_ppm,
            )
            pairs.write.mode("overwrite").parquet(
                f"{pairs_path}/epoch={tag}-{epoch_id}"
            )
            batch_sig = minhash_signatures(
                batch_df, id_col, text_col, n, num_hashes
            )
            batch_sig.write.mode("overwrite").parquet(
                f"{index_path}/epoch={tag}-{epoch_id}"
            )

    writer = (
        stream_docs.writeStream.foreachBatch(fold)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def semantic_dedup_stream(
    stream_vecs: DataFrame,
    centroids: list[list[float]],
    index_path: str,
    pairs_path: str,
    checkpoint_dir: str,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    available_now: bool = True,
):
    """Streaming incremental SEMANTIC dedup: every arriving micro-batch of
    embeddings assigns to the FIXED codebook (streams cannot retrain it;
    refresh the codebook offline and restart the query to rotate), scores
    against the unit-vector index of all PRIOR batches plus itself,
    lands discovered pairs in ``pairs_path``, and appends its own
    assignments to the index -- the embedding-level twin of
    ``neardup_stream``, sharing operators/similarity.py's pair logic
    with the batch path.

    State is the parquet assignment index (one slim row per vector ever
    seen, partitioned by cluster so probes partition-prune). Both writes
    go to ``.../epoch=N`` with overwrite and the corpus read takes
    strictly-earlier epochs only, so a crash-replayed batch rewrites its
    own epoch and never sees its own vectors as corpus (the
    effectively-once posture neardup_stream settled on).
    """
    import os

    from ..operators.maintenance import index_write_guard
    from ..operators.similarity import semantic_pairs_against, unit_assigned

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # persist (NOT localCheckpoint): b feeds the clusters collect, the
        # corpus join, both sides of the self join, and the index write --
        # without it the assignment subtree recomputes four more times per
        # batch. persist is chosen because Dataset.unpersist only releases
        # CacheManager entries; a localCheckpoint'd RDD is persisted
        # underneath the CacheManager and stays pinned until JVM GC, which
        # on a long-running stream accumulates one dead RDD per micro-batch.
        # b is fully consumed inside this batch, so lineage truncation (the
        # other thing localCheckpoint buys) is not needed.
        b = unit_assigned(batch_df, centroids, id_col, vec_col).persist()
        try:
            _fold_body(spark, b, epoch_id)
        finally:
            b.unpersist()

    def _fold_body(spark, b: DataFrame, epoch_id: int) -> None:
        clusters = sorted(
            r.cluster_id for r in b.select("cluster_id").distinct().collect()
        )
        # index_write_guard: serialize the corpus read + epoch write
        # against compact_epoch_index's rename window (see neardup fold)
        with index_write_guard(index_path):
            prior, tag = _epoch_dirs_and_tag(
                index_path, checkpoint_dir, epoch_id
            )
            if prior:
                corpus = (
                    spark.read.option("basePath", index_path)
                    .parquet(*prior)
                    .filter(F.col("cluster_id").isin(clusters))
                    .select(id_col, "cluster_id", "u")
                )
            else:
                corpus = local_frame(
                    spark, [], f"{id_col} long, cluster_id int, u array<double>"
                )
            pairs = semantic_pairs_against(b, corpus, threshold, id_col)
            pairs.write.mode("overwrite").parquet(
                f"{pairs_path}/epoch={tag}-{epoch_id}"
            )
            b.write.partitionBy("cluster_id").mode("overwrite").parquet(
                f"{index_path}/epoch={tag}-{epoch_id}"
            )

    writer = (
        stream_vecs.writeStream.foreachBatch(fold)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
