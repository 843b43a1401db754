"""Structured Streaming ingest — the bronze layer re-expressed.

The reference ingests 6 Kafka topics into Bronze Delta
(`spark_jobs/bronze/ingest_stream.py:42-114`): explicit-schema
`from_json` parse, Kafka metadata projection, audit-column stamping,
epoch-ms → `event_date` partition derivation, append sink with
checkpoint. This module keeps those exact semantics but makes the
*source* pluggable: Kafka in production, file streams in tests (the
container has no broker). Also implements the doc-only capabilities
the reference never shipped (SURVEY §2.11): `withWatermark` late-data
handling, tumbling/session window aggregation, streaming dedup, and
foreachBatch→MERGE for streaming-silver.

Scale notes: a file/Kafka stream parallelizes by source partition;
the stateful operators (windows, dedup) shuffle on their keys per
micro-batch and keep state in the state store — watermarks bound that
state, which is what makes 100 TB/day ingest sustainable.
"""

from __future__ import annotations

from functools import reduce as functools_reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Explicit source-of-truth schema for the events stream — the engine
#: never infers streaming schemas (`spark_jobs/utils/schemas.py:24-154`
#: convention: one fixed StructType per topic).
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    max_offsets_per_trigger: int = 50_000,
) -> DataFrame:
    """Kafka streaming source with the reference's options
    (`ingest_stream.py:42-54`): earliest offsets, bounded triggers,
    tolerant of broker data loss. Config-swappable, not test-required
    (no broker in this container)."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
        .option("failOnDataLoss", "false")
        .load()
    )


def read_file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType = EVENTS_SCHEMA,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based streaming source (test/dev stand-in for Kafka).
    Explicit schema — file streams cannot infer. `maxFilesPerTrigger`
    is the file-source backpressure analog of maxOffsetsPerTrigger."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.format(fmt).load(path)


def parse_kafka_payload(raw: DataFrame, schema: T.StructType) -> DataFrame:
    """S2+S3: `from_json(value.cast(string), schema)` flattened to
    `data.*`, raw payload preserved, Kafka metadata as `_kafka_*`
    columns (`ingest_stream.py:57-83`)."""
    return raw.select(
        F.col("key").cast("string").alias("_kafka_key"),
        F.col("topic").alias("_kafka_topic"),
        F.col("partition").alias("_kafka_partition"),
        F.col("offset").alias("_kafka_offset"),
        F.col("timestamp").alias("_kafka_timestamp"),
        F.col("value").cast("string").alias("_raw_payload"),
        F.from_json(F.col("value").cast("string"), schema).alias("data"),
    ).select("_kafka_key", "_kafka_topic", "_kafka_partition", "_kafka_offset",
             "_kafka_timestamp", "_raw_payload", "data.*")


def stamp_bronze(
    df: DataFrame,
    ts_col: str = "ts",
    source_system: str = "events-stream",
    pipeline_version: str = "1.0.0",
) -> DataFrame:
    """S4+S5: audit columns + partition-date derivation
    (`ingest_stream.py:84-96`). ``event_date`` comes from the event
    timestamp (not arrival time) so reprocessing lands rows in the
    same partition — the idempotency property the reference's
    partitioning depends on."""
    return (
        df.withColumn("_bronze_loaded_at", F.current_timestamp())
        .withColumn("_source_system", F.lit(source_system))
        .withColumn("_pipeline_version", F.lit(pipeline_version))
        .withColumn("event_date", F.col(ts_col).cast("date"))
    )


def with_watermark(df: DataFrame, ts_col: str = "ts", delay: str = "10 minutes") -> DataFrame:
    """The documented-but-never-implemented 10-minute watermark
    (`SYSTEM_DESIGN.md:364-371`; SURVEY §2.11 — adopt)."""
    return df.withWatermark(ts_col, delay)


def dedup_stream(df: DataFrame, keys: list[str], within_watermark: bool = True) -> DataFrame:
    """Streaming dedup on event keys — the `(_kafka_topic, offset)`
    analog. `dropDuplicatesWithinWatermark` bounds state by the
    watermark horizon (unbounded key-state is the classic streaming
    OOM at scale)."""
    if within_watermark:
        return df.dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


def tumbling_agg(
    df: DataFrame,
    window_len: str = "1 hour",
    ts_col: str = "ts",
    extra_keys: list[str] | None = None,
    aggs: list[Column] | None = None,
    slide: str | None = None,
) -> DataFrame:
    """Tumbling (or, with ``slide``, sliding/hopping) window aggregate
    (`q_stream_tumbling` / `q_sliding_window` semantics): works
    identically on a batch or streaming DataFrame — the engine's
    batch oracle checks the same plan the stream runs. A sliding
    window expands each row into its window_len/slide covering slots
    in-row (Catalyst generator), never via self-join."""
    win = (
        F.window(F.col(ts_col), window_len, slide)
        if slide
        else F.window(F.col(ts_col), window_len)
    )
    keys = [win.alias("win")] + [F.col(k) for k in (extra_keys or [])]
    aggs = aggs or [F.count(F.lit(1)).alias("n_events")]
    out = df.groupBy(*keys).agg(*aggs)
    return out.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        *[c for c in out.columns if c != "win"],
    )


def session_agg(
    df: DataFrame,
    gap: str = "5 minutes",
    ts_col: str = "ts",
    keys: list[str] | None = None,
    aggs: list[Column] | None = None,
) -> DataFrame:
    """Session-window aggregate (gap-based; SURVEY §2.11 stretch).
    `F.session_window` merges events separated by < gap into one
    session per key — Spark's native stateful session operator."""
    gkeys = [F.session_window(F.col(ts_col), gap).alias("win")] + [
        F.col(k) for k in (keys or [])
    ]
    aggs = aggs or [F.count(F.lit(1)).alias("n_events")]
    out = df.groupBy(*gkeys).agg(*aggs)
    return out.select(
        F.col("win.start").alias("session_start"),
        F.col("win.end").alias("session_end"),
        *[c for c in out.columns if c != "win"],
    )


def start_append_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
    trigger_seconds: int | None = None,
    available_now: bool = False,
):
    """S6: the bronze append sink (`ingest_stream.py:99-114`) —
    checkpointed, partitioned, append-only. Delta in production;
    parquet here. `availableNow` drains all pending input then stops
    (the testable trigger).

    With ``partition_by``, each micro-batch is hash-repartitioned by
    those columns into ``spark.sql.shuffle.partitions`` writer tasks,
    so it writes one file per (micro-batch, partition value) instead
    of one per (scan task, value). All rows of one value go to one
    task, so the writes use every core only when a micro-batch holds
    more values than there are tasks. A micro-batch of a single
    ``event_date`` (live traffic) pays for the shuffle and is written
    by one task; unlike Delta's ``optimizeWrite``, no value is split
    by size (OPTIMIZATION_r18.md has the measured cost). The count is
    explicit because AQE would coalesce a bare ``repartition(*cols)``
    of a small micro-batch into a single writer task. Unpartitioned
    sinks keep their shuffle-free plan."""
    if partition_by:
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        df = df.repartition(n, *partition_by)
    writer = (
        df.writeStream.format(fmt)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .option("path", path)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def start_concurrent_ingest(
    spark: SparkSession,
    sources: dict[str, tuple[DataFrame, str, str]],
    available_now: bool = True,
):
    """S7 — multi-stream concurrency (`ingest_stream.py:126-138`):
    the reference launches one streaming query per Kafka topic from a
    single driver and blocks on ``awaitAnyTermination`` so a crash in
    any stream surfaces immediately. Same shape here: start one
    checkpointed append sink per named source; all queries run
    concurrently on the shared scheduler. Returns ``{name: query}`` —
    pair with :func:`await_streams`.

    ``sources`` maps name → (transformed streaming DataFrame,
    sink path, checkpoint path)."""
    return {
        name: start_append_sink(df, path, ckpt, available_now=available_now)
        for name, (df, path, ckpt) in sources.items()
    }


def await_streams(spark: SparkSession, queries: dict, timeout_seconds: int = 300) -> None:
    """Block until every stream terminates; re-raise the FIRST stream
    failure (awaitAnyTermination semantics — one bad topic fails the
    ingest job loudly instead of silently running degraded)."""
    deadline = __import__("time").time() + timeout_seconds
    for name, q in queries.items():
        remaining = max(1, int(deadline - __import__("time").time()))
        q.awaitTermination(remaining)
        if q.exception() is not None:
            raise RuntimeError(f"stream '{name}' failed") from q.exception()


def start_foreach_batch_merge(
    df: DataFrame,
    spark: SparkSession,
    target_path: str,
    keys: list[str],
    checkpoint: str,
    order_col: str | None = None,
    available_now: bool = False,
):
    """Streaming-silver via foreachBatch→MERGE — the reference's own
    "planned improvement" (`SYSTEM_DESIGN.md:850`). Each micro-batch
    is first deduped to the latest row per key (row_number over
    ``order_col``), then upserted into the target. With delta-spark
    installed this is a real MERGE; the fallback rewrites parquet via
    the engine's anti-join upsert (correct, but full-rewrite — Delta
    is the production path at scale)."""
    import os
    import shutil

    from pyspark.sql import Window

    from real_time_fraud_revenue_intelligence_lakehouse_spark.operators.merge import merge_upsert

    def _process(batch: DataFrame, batch_id: int) -> None:
        if order_col is not None:
            w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
            batch = (
                batch.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        else:
            batch = batch.dropDuplicates(keys)
        try:
            from real_time_fraud_revenue_intelligence_lakehouse_spark.operators.merge import delta_merge_upsert

            delta_merge_upsert(spark, target_path, batch, keys)
            return
        except ImportError:
            pass
        if os.path.exists(target_path):
            target = spark.read.parquet(target_path)
            merged = merge_upsert(target, batch, keys)
        else:
            merged = batch
        # Crash-safe swap: write staged, rename the live table ASIDE,
        # move staged into place, then delete the old copy. A crash at
        # any step leaves either the old or the new table recoverable —
        # never a window where the silver table is simply gone.
        staged = target_path + "._staged"
        old = target_path + "._old"
        merged.write.mode("overwrite").parquet(staged)
        if os.path.exists(old):
            shutil.rmtree(old)  # leftover from a previous crash
        if os.path.exists(target_path):
            os.replace(target_path, old)
        os.replace(staged, target_path)
        if os.path.exists(old):
            shutil.rmtree(old)

    writer = df.writeStream.foreachBatch(_process).option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def split_corrupt(
    parsed: DataFrame,
    required: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Quarantine split for the bronze parse: rows whose payload is a
    Kafka tombstone (null value), failed `from_json`, or parsed but
    lost ANY ``required`` field (a null `ts` alone breaks downstream
    watermarks) route to a dead-letter frame carrying the ORIGINAL
    payload + Kafka metadata for replay; clean rows flow on. The
    reference parses PERMISSIVE and silently ships all-null rows into
    silver (`ingest_stream.py:57-83` has no corrupt branch —
    §2.12-class gap, fixed rather than replicated): one malformed
    producer then poisons every downstream aggregate with nulls. Both
    frames come from ONE predicate over the already-parsed stream —
    no second parse, works identically for batch and streaming inputs
    (streaming sinks attach per-branch checkpoints).

    Corruption predicate (tightened per ADVICE r11 #1): ANY-null over
    the required fields, not ALL-null — a valid JSON missing just one
    required field is still unusable downstream — and a null payload
    quarantines too (its parse is all-null by construction)."""
    required = required or ["event_id", "ts"]
    is_corrupt = F.col("_raw_payload").isNull() | functools_reduce(
        lambda a, b: a | b, [F.col(c).isNull() for c in required]
    )
    clean = parsed.filter(~is_corrupt)
    quarantined = parsed.filter(is_corrupt).select(
        "_kafka_key",
        "_kafka_topic",
        "_kafka_partition",
        "_kafka_offset",
        "_kafka_timestamp",
        "_raw_payload",
        F.current_timestamp().alias("_quarantined_at"),
    )
    return clean, quarantined
