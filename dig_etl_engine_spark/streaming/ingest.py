"""The streaming ingest job — the reference's etk_worker loop, Spark-native.

Reference (``etk_worker.py``): N worker processes in one Kafka consumer
group poll ``{project}_in`` (C1 fan-out `manager.py:164-182`), commit
per message before processing (C3 at-least-once, `:76-78`), drop docs
without ``doc_id`` (F6 `:93-95`), isolate per-doc failures (C5 `:98-139`),
produce to ``{project}_out``, and exit after 1 h idle (C4 `:146-157`).
Logstash then upserts into ES by doc_id (K2).

Spark mapping (SURVEY §1.2, §3.1):
  * worker pool ⇒ executor task parallelism over source partitions (C1);
  * offset management ⇒ the checkpoint dir; "seek to end / reset" (C2) ⇒
    delete the checkpoint + ``startingOffsets``;
  * per-message commit ⇒ micro-batch checkpointing — upgraded from
    at-least-once to effectively-once because the sink upsert is
    idempotent by (doc_id, offset);
  * idle-timeout drain ⇒ ``trigger(availableNow=True)`` (C4);
  * per-doc error isolation ⇒ invalid rows routed to a quarantine table
    inside the same foreachBatch (C5);
  * graceful kill/status ⇒ ``query.stop()`` / ``query.status`` (C6).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from dig_etl_engine_spark.sinks.kg_table import upsert_partitioned


def kafka_source(spark: SparkSession, *, bootstrap_servers: str,
                 topic: str, value_schema: T.StructType,
                 starting_offsets: str = "earliest",
                 max_offsets_per_trigger: int | None = None) -> DataFrame:
    """S5: the ``{project}_in`` consumer (`etk_worker.py:42-54`) as a
    Structured Streaming source. ``maxOffsetsPerTrigger`` is the
    ``max_poll_records`` analogue (batch size control). Requires the Kafka
    connector jar + a broker — absent here, so this builder is exercised
    only where deployed; the file-stream source below shares every
    downstream stage."""
    reader = (spark.readStream.format("kafka")
              .option("kafka.bootstrap.servers", bootstrap_servers)
              .option("subscribe", topic)
              .option("startingOffsets", starting_offsets))
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger",
                               str(max_offsets_per_trigger))
    raw = reader.load()
    return raw.select(
        F.col("offset").alias("kafka_offset"),
        F.from_json(F.col("value").cast("string"), value_schema).alias("doc"),
    ).select("kafka_offset", "doc.*")


def file_stream_source(spark: SparkSession, path: str,
                       schema: T.StructType) -> DataFrame:
    """File-drop source: landed ``.json``/``.jl`` files become batches of
    docs. Shares everything after the source with the Kafka path, which is
    what makes the pipeline testable without a broker. Rows must carry
    their own ``kafka_offset``-equivalent ordering column.

    Contract the registry's stream queries rely on (pinned by
    ``tests/test_streaming_contract.py``): because this source sets NO
    ``maxFilesPerTrigger``, a ``Trigger.AvailableNow`` drain processes
    every file present at start in ONE micro-batch — so the queries'
    identity oracles are exact regardless of how many files the (fully
    parallel) input write produced, and stateful first-seen == global
    min-order. Set ``maxFilesPerTrigger`` only for real incremental
    ingest, where batch boundaries are the point."""
    return spark.readStream.schema(schema).json(path)


def write_quarantine(invalid: DataFrame, batch_id: int,
                     quarantine_path: str,
                     reason: str = "missing doc_id") -> None:
    """Idempotent quarantine write: rows land in a ``_batch_id=<id>``
    partition via dynamic partition overwrite, so a micro-batch retry
    replaces its own partition instead of appending duplicates."""
    # per-writer option, NOT a session conf set/restore: two streams in
    # one SparkSession run foreachBatch concurrently, and a get/set/
    # restore races — one thread can restore the other's value and leave
    # the session stuck in the wrong overwrite mode for unrelated writes
    (invalid.withColumn("_quarantine_reason", F.lit(reason))
     .withColumn("_batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     # "DYNAMIC" pre-uppercased: Spark resolves this option via a
     # default-locale toUpperCase before the enum lookup, and tr/az
     # JVM locales uppercase 'i' to 'İ' (NoSuchElementException:
     # 'DYNAMİC'); uppercase 'I' is locale-invariant
     .option("partitionOverwriteMode", "DYNAMIC")
     .partitionBy("_batch_id")
     .parquet(quarantine_path))


def run_ingest(source: DataFrame, *, target_path: str,
               quarantine_path: str, checkpoint_dir: str,
               transform: Callable[[DataFrame], DataFrame] | None = None,
               key_col: str = "doc_id", order_col: str = "kafka_offset",
               available_now: bool = True,
               buckets: int = 64) -> StreamingQuery:
    """The full ingest leg: validate → (optional per-batch transform, i.e.
    the module pipeline) → upsert valid docs / quarantine invalid ones.

    One foreachBatch writes BOTH tables, and both writes are idempotent on
    retry: the KG merge is a pure function of (key, order), and the
    quarantine write replaces its own ``_batch_id`` partition.

    Valid docs merge through the hash-bucket-partitioned
    :func:`~dig_etl_engine_spark.sinks.kg_table.upsert_partitioned`
    (one delta dir per batch, merged on read), the KG table's one write
    path.
    ``buckets`` is the bucket count a new table is born with; an
    existing table keeps the count in its manifest.
    """
    def process_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        valid_pred = (F.col(key_col).isNotNull()
                      & (F.length(F.trim(F.col(key_col))) > 0))
        batch = batch.persist()
        try:
            invalid = batch.filter(~valid_pred)
            if invalid.limit(1).count():
                write_quarantine(invalid, batch_id, quarantine_path)
            valid = batch.filter(valid_pred)
            if transform is not None:
                valid = transform(valid)
            upsert_partitioned(spark, target_path, valid,
                               key_col=key_col, order_col=order_col,
                               buckets=buckets)
        finally:
            batch.unpersist()

    writer = (source.writeStream
              .option("checkpointLocation", checkpoint_dir)
              .foreachBatch(process_batch))
    if available_now:
        # C4: drain everything queued, then stop — the worker's
        # idle-timeout exit without the polling loop.
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_dedup_ingest(source: DataFrame, *, target_path: str,
                     quarantine_path: str, checkpoint_dir: str,
                     index_path: str, content_col: str = "text",
                     key_col: str = "doc_id",
                     order_col: str = "kafka_offset",
                     threshold: float = 0.6,
                     max_bucket: int | None = None,
                     buckets: int = 64) -> StreamingQuery:
    """Streaming ingest with online NEAR-dup suppression — the
    first-seen-dedup idea (streaming/stateful.py) upgraded from exact
    fingerprints to minhash similarity, backed by the persisted band
    index instead of the state store (signature state outlives any one
    stream and is shared with batch jobs).

    Per micro-batch: validate → quarantine invalid → dedup the batch
    against the index (all corpus history + every earlier batch) and
    itself → drop flagged docs → upsert survivors → append the batch's
    signatures under ``_ab=<micro-batch id>``. Every write is
    retry-idempotent: quarantine and signature appends replace their own
    batch partition, the dedup excludes its own partition when retried,
    and the KG merge is a pure function of (key, order).

    Drop rule (first-seen semantics): a batch doc matching the index
    (``origin='corpus'``) drops — earlier stream content wins; for
    batch-internal pairs the min-id doc survives. The index records ALL
    batch docs (kept and dropped), so any future doc similar to anything
    ever seen is suppressed. Build the initial index with
    ``materialize_minhash_index`` (empty corpus is fine)."""
    from dig_etl_engine_spark.operators.dedup import incremental_minhash_dedup

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        valid_pred = (F.col(key_col).isNotNull()
                      & (F.length(F.trim(F.col(key_col))) > 0))
        batch = batch.persist()
        try:
            invalid = batch.filter(~valid_pred)
            if invalid.limit(1).count():
                write_quarantine(invalid, batch_id, quarantine_path)
            valid = batch.filter(valid_pred)
            dups = incremental_minhash_dedup(
                valid, index_path, content_col=content_col,
                id_col=key_col, threshold=threshold,
                max_bucket=max_bucket, append=True, batch_id=batch_id)
            drop = (dups.filter(F.col("origin") == "corpus")
                    .select(F.col("doc_a").alias(key_col))
                    .unionByName(
                        dups.filter(F.col("origin") == "batch")
                        .select(F.col("doc_b").alias(key_col)))
                    .distinct())
            survivors = valid.join(drop, key_col, "left_anti")
            upsert_partitioned(spark, target_path, survivors,
                               key_col=key_col, order_col=order_col,
                               buckets=buckets)
        finally:
            batch.unpersist()

    return (source.writeStream
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(process_batch)
            .trigger(availableNow=True).start())


def run_windowed_counts(source: DataFrame, *, target_path: str,
                        checkpoint_dir: str, window: str = "1 day",
                        watermark: str = "1 hour", ts_col: str = "ts",
                        key_col: str = "event_type") -> StreamingQuery:
    """Event-time windowed aggregation with late-data watermarking — the
    Structured Streaming superset the reference lacks (SURVEY §1.2: "no
    watermarks, no event-time windows" in the reference; purely
    incremental ingest). Append mode + parquet sink emits a window only
    once its end passes the watermark — i.e. exactly-once finalized
    aggregates, late events inside the watermark still counted.

    Watermark advancement is per micro-batch (a window closed by batch N's
    data is emitted in batch N+1), so drain-style runs see finalized
    windows one file-drop behind — the test pins this timing.
    """
    agg = (
        source.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), key_col,
                "n_events", "sum_value")
    )
    return (agg.writeStream.outputMode("append").format("parquet")
            .option("path", target_path)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def run_session_windows(source: DataFrame, *, target_path: str,
                        checkpoint_dir: str, gap: str = "30 minutes",
                        watermark: str = "1 hour", ts_col: str = "ts",
                        key_col: str = "user_id",
                        value_col: str | None = "value") -> StreamingQuery:
    """Streaming sessionization — the online form of the batch
    ``sessionize_events`` query, via Spark's native ``session_window``
    (dynamic-gap event-time windows that MERGE as events arrive: two
    sessions bridged by a late event inside the watermark collapse into
    one before finalization — semantics a hand-rolled stateful op gets
    wrong easily, and the reference has nothing like; SURVEY §1.2).

    Scale shape: state is per (key, open session) in the state store,
    partitioned by the groupBy shuffle; a session finalizes (append mode)
    once the watermark passes its end + gap, so state for quiet keys is
    bounded by the watermark horizon, not stream lifetime.
    """
    aggs = [F.count(F.lit(1)).alias("n_events")]
    out = ["n_events"]
    if value_col is not None:      # sources without a metric column skip it
        aggs.append(F.round(F.sum(value_col), 2).alias("sum_value"))
        out.append("sum_value")
    agg = (
        source.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"),
                 F.col(key_col))
        .agg(*aggs)
        .select(F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"), key_col, *out)
    )
    return (agg.writeStream.outputMode("append").format("parquet")
            .option("path", target_path)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def reset_offsets(checkpoint_dir: str) -> None:
    """C2 (`reset_offset.py:25-39`; `manager.py:135-161`): reprocess from
    scratch by discarding stream progress."""
    import shutil
    shutil.rmtree(checkpoint_dir, ignore_errors=True)
