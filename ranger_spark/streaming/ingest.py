"""Structured Streaming ingest & event processing.

The reference's "streaming" is chunked batch ingest (1,000-row JSON batches,
reference server/storage/storage.go:500-528) plus an internal CDC bus
("Astha": SQLite triggers → poll → subscribers, server/astha/). The
Spark-native equivalents:

- ``stream_ingest``      — file-source readStream → per-micro-batch append
  to a catalog table (micro-batch ≈ the reference's ingest chunk; commit
  per batch ≈ its atomic registry update).
- ``windowed_counts``    — watermarked tumbling-window aggregation (the
  streaming twin of queries/analytics.events_hourly_rollup).
- ``streaming_dedup``    — watermark-scoped exact dedup on a fingerprint
  (the streaming twin of operators/dedup.exact_dedup_keep).
- ``cdc_log``            — append-only change feed written by the ingest
  sink; downstream subscribers replay it incrementally by batch_id
  (≈ Astha's __cdc_log + poll loop, without the poll: micro-batch push).

Scale notes: file sources list incrementally (maxFilesPerTrigger bounds a
micro-batch); watermarks bound state size; all operators below are
shuffle-per-micro-batch with map-side combine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ranger_spark.frames import local_frame


def stream_ingest(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    table: str,
    checkpoint_dir: str,
    fmt: str = "json",
    max_files_per_trigger: int = 10,
    cdc_table: str | None = None,
    transform=None,
    engine=None,
) -> StreamingQuery:
    """Ingest files landing in source_dir into `table`, one atomic append
    per micro-batch; optionally record a CDC row per batch.

    ``transform`` (DataFrame → DataFrame, applied to the stream before
    the sink) turns the ingest into a streaming pipeline stage — e.g. a
    Gopher-rule quality gate or PII redaction runs on every micro-batch
    with the same map-only expressions as the batch operators.

    ``engine``: when the target is an engine table, pass the Engine so
    every micro-batch lands as a REAL snapshot commit (manifest
    fast-append under the statement lock, NOT NULL columns enforced)
    instead of a bare file write — the batch becomes visible to time travel, VACUUM's orphan scan, the
    Astha CDC bus, and therefore O(delta) MV auto-maintenance. Without
    it, files land unmanifested: readable (the catalog points at the
    live snapshot dir) but invisible to every consumer of the commit
    chain."""
    stream = (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(source_dir)
    )
    if transform is not None:
        stream = transform(stream)

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        if engine is not None:
            with engine._stmt_lock:  # noqa: SLF001 — same-process composition
                engine._append_commit(table, batch_df)  # noqa: SLF001
        else:
            batch_df.write.mode("append").insertInto(table)
        if cdc_table is not None:
            local_frame(
                batch_df.sparkSession,
                [(batch_id, "INSERT", table, batch_df.count())],
                "batch_id long, op string, table_name string, row_count long",
            ).withColumn("committed_at", F.current_timestamp()).write.mode(
                "append"
            ).saveAsTable(cdc_table)

    return (
        stream.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    keys: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Watermarked tumbling-window counts over a *streaming* DataFrame.
    Late rows beyond the watermark are dropped; state is bounded to
    (watermark / window) windows per key."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), *keys)
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *keys,
            "cnt",
            "sum_value",
        )
    )


def streaming_dedup(
    docs: DataFrame,
    ts_col: str,
    text_col: str = "text",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop rows whose normalized-text fingerprint
    was already seen within the watermark horizon (state = one 16-byte
    digest per doc in the horizon, evicted by watermark)."""
    from ranger_spark.operators.text import fingerprint

    return (
        docs.withColumn("__fp", fingerprint(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__fp"])
        .drop("__fp")
    )


def read_cdc_since(
    spark: SparkSession, cdc_table: str, after_batch_id: int = -1
) -> DataFrame:
    """Astha-style subscriber read: change rows after a given batch id
    (incremental consumers persist their last-seen id, like the
    reference's CDC consumers)."""
    return spark.table(cdc_table).filter(F.col("batch_id") > after_batch_id)
