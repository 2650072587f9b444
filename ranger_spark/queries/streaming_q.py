"""Structured-Streaming registry queries — the reference's chunked-ingest
path (server/query/executor/streaming.go: batches appended as chunks,
consumers read deltas) re-expressed as Spark Structured Streaming, driven
end-to-end: a real ``readStream`` file source, an event-time watermark, a
tumbling-window aggregate, and an ``availableNow`` bounded backfill into a
memory sink.

Determinism: ``availableNow`` drains the full source and terminates, and the
aggregation result (complete mode) is exactly the batch GROUP BY — so the
DuckDB oracle is the plain windowed aggregate. The watermark is live in the
plan (state eviction at scale); it does not drop rows in a bounded backfill,
which is precisely the production semantics of re-running a backfill.

At 100 TB the same plan runs unbounded: the file source becomes a bucket
listing, the memory sink a parquet/Iceberg sink with checkpointing, and the
watermark bounds the window state to (delay / window) windows per key
instead of the full history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ranger_spark.queries import register
from ranger_spark.streaming.ingest import windowed_counts
from ranger_spark.streaming.runtime import drain_scope, source_size
from ranger_spark.tables import (
    _normalize_events_ts,
    parquet_schema,
    read_parquet_file,
)


def _events_bytes(sf_dir: str) -> int:
    import os as _os

    return source_size(_os.path.join(sf_dir, "events.parquet"))


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a streaming source. File streams need a directory
    basePath; pathGlobFilter narrows the listing to the one table so the
    other tables in sf_dir never enter the stream."""
    # Schema must be declared for file streams; read it from the footer
    # under the same TIMESTAMP(NANOS) legacy conf tables.load sets, so
    # the stream and the batch table agree on ts.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = parquet_schema(spark, f"{sf_dir}/events.parquet")
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # Watermarks require TIMESTAMP (with zone); the session zone is pinned
    # to UTC so the NTZ→TZ cast is wall-clock-lossless both ways.
    return _normalize_events_ts(stream).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


_SINK = "stream_windowed_daily_sink"


@register(
    "stream_windowed_daily",
    oracle="""
    SELECT date_trunc('day', ts) AS day, event_type,
           count(*) AS cnt, round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "window", "events"),
)
def stream_windowed_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-day counts over a REAL streaming run: readStream
    → withWatermark → window() agg → availableNow backfill into a memory
    sink. Reference: chunked-ingest consumers aggregate append deltas
    (server/query/executor/streaming.go); here the engine is Spark's
    incremental executor with bounded state."""
    for q in spark.streams.active:
        if q.name == _SINK:  # rerun in a warm session: replace the sink
            q.stop()
    out = windowed_counts(
        _event_stream(spark, sf_dir),
        window="1 day",
        watermark="1 day",
        keys=("event_type",),
    )
    # drain_scope (r15, streaming/runtime.py): state-sized shuffle
    # partitions + tmpfs checkpoint — the per-batch floor levers the
    # r15 profile isolated (state-store commit fsyncs + per-partition
    # fixed cost). Same pattern on every bounded drain below.
    with drain_scope(spark, _events_bytes(sf_dir), "windowed") as ckpt:
        q = (
            out.writeStream.format("memory")
            .queryName(_SINK)
            .option("checkpointLocation", ckpt)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(240)
        finally:
            if q.isActive:
                q.stop()
    return spark.table(_SINK).select(
        F.col("window_start").cast("timestamp_ntz").alias("day"),
        "event_type",
        "cnt",
        F.round("sum_value", 2).alias("sum_value"),
    )


_SESS_SINK = "stream_session_windows_sink"


@register(
    "stream_session_windows",
    oracle="""
    WITH e AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ),
    f AS (
      SELECT user_id, ts,
             CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) >= 14400
                  THEN 1 ELSE 0 END AS new_s
      FROM e
    ),
    g AS (
      SELECT user_id, ts,
             sum(new_s) OVER (
               PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
             ) AS sid
      FROM f
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 4 HOUR AS session_end,
           count(*) AS n_events
    FROM g GROUP BY user_id, sid
    """,
    tags=("streaming", "session", "events"),
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user SESSION windows (4 h inactivity gap) computed by Spark's
    native streaming session_window operator over a real readStream run —
    the stateful merge-on-arrival operator the batch sessionization query
    emulates with lag/cumsum. Windows are half-open [first, last+gap):
    an event exactly `gap` after the last starts a NEW session, hence the
    oracle's >= gap island rule. State at scale: one open session struct
    per active user, evicted by the watermark."""
    for q in spark.streams.active:
        if q.name == _SESS_SINK:
            q.stop()
    agg = (
        _event_stream(spark, sf_dir)
        .withWatermark("ts", "1 day")
        .groupBy(F.session_window("ts", "4 hours").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    with drain_scope(spark, _events_bytes(sf_dir), "sessions") as ckpt:
        q = (
            agg.writeStream.format("memory")
            .queryName(_SESS_SINK)
            .option("checkpointLocation", ckpt)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(240)
        finally:
            if q.isActive:
                q.stop()
    return spark.table(_SESS_SINK).select(
        "user_id",
        F.col("sw.start").cast("timestamp_ntz").alias("session_start"),
        F.col("sw.end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
    )


_DEDUP_SINK = "stream_dedup_keys_sink"


@register(
    "stream_dedup_keys",
    oracle="""
    SELECT DISTINCT user_id, event_type, date_trunc('day', ts) AS day
    FROM events
    """,
    tags=("streaming", "dedup", "events"),
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup — the ingest-side operator that keeps
    a replayed/at-least-once feed from double-counting: watermarked
    ``dropDuplicates`` on (user_id, event_type, day) in APPEND mode, so
    each key is emitted exactly once however many times the source
    repeats it. Keys-only output makes survivor choice moot (any
    duplicate carries the same key), hence a plain DISTINCT oracle.
    State at 100 TB: one entry per key inside the watermark horizon —
    the watermark evicts old days; without it this state grows forever.
    Reference: chunked-ingest consumers dedup on replay
    (server/query/executor/streaming.go); here it is Spark's stateful
    dedup operator with bounded state."""
    for q in spark.streams.active:
        if q.name == _DEDUP_SINK:
            q.stop()
    dd = (
        _event_stream(spark, sf_dir)
        .withWatermark("ts", "1 day")
        .withColumn("day", F.date_trunc("day", "ts"))
        .dropDuplicates(["user_id", "event_type", "day"])
        .select("user_id", "event_type", "day")
    )
    with drain_scope(spark, _events_bytes(sf_dir), "dedupkeys") as ckpt:
        q = (
            dd.writeStream.format("memory")
            .queryName(_DEDUP_SINK)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(240)
        finally:
            if q.isActive:
                q.stop()
    return spark.table(_DEDUP_SINK).select(
        "user_id", "event_type", F.col("day").cast("timestamp_ntz").alias("day")
    )


_SSJOIN_SINK = "stream_stream_join_sink"


@register(
    "stream_stream_join",
    oracle="""
    SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id
    FROM events v, events p
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
      AND v.user_id = p.user_id
      AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL 1 HOUR
    """,
    tags=("streaming", "join", "events"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (view→purchase attribution within one
    hour): two watermarked streams inner-joined on user_id with an
    event-time range predicate — Spark buffers each side's rows only
    until the other side's watermark passes the interval bound, so state
    is O(rate × horizon), not O(history). Append mode emits each matched
    pair exactly once; the batch oracle is the identical interval join.
    This is the streaming shape of the batch as-of/range joins
    (asof_purchase_view, range_join_error_purchase)."""
    for q in spark.streams.active:
        if q.name == _SSJOIN_SINK:
            q.stop()
    src = _event_stream(spark, sf_dir)
    views = (
        src.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    purchases = (
        src.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        F.expr(
            "v_user = p_user AND p_ts >= v_ts "
            "AND p_ts < v_ts + interval 1 hour"
        ),
    ).select("view_id", "purchase_id", F.col("v_user").alias("user_id"))
    with drain_scope(spark, _events_bytes(sf_dir), "ssjoin") as ckpt:
        q = (
            joined.writeStream.format("memory")
            .queryName(_SSJOIN_SINK)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(240)
        finally:
            if q.isActive:
                q.stop()
    return spark.table(_SSJOIN_SINK)


_STATEFUL_SINK = "stream_stateful_user_stats_sink"


@register(
    "stream_stateful_user_stats",
    oracle="""
    SELECT user_id,
           count(*)                 AS cnt,
           round(sum(value), 2)     AS total,
           max(epoch_ns(ts))        AS last_ts_ns
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "stateful", "events"),
)
def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful streaming operator end-to-end: per-user running
    (count, sum, last-seen) kept in ``applyInPandasWithState`` Arrow
    state (streaming/stateful.py) over a real readStream run — the
    escape hatch for incremental per-entity profiles Spark's built-in
    aggregates can't express (e.g. conditional resets, model state).
    Each micro-batch emits the group's updated state; the final state
    per user is selected by its strictly-increasing count, and over a
    full drain it equals the batch GROUP BY — the oracle. State is one
    tuple per user, hash-sharded across executors at cluster scale."""
    from ranger_spark.streaming.stateful import running_user_stats
    from pyspark.sql import Window

    for q in spark.streams.active:
        if q.name == _STATEFUL_SINK:
            q.stop()
    src = _event_stream(spark, sf_dir).select(
        "user_id",
        "value",
        (F.unix_micros(F.col("ts")) * F.lit(1000)).alias("ts_ns"),
    )
    out = running_user_stats(src)
    with drain_scope(spark, _events_bytes(sf_dir), "userstats", floor=8) as ckpt:
        q = (
            out.writeStream.format("memory")
            .queryName(_STATEFUL_SINK)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(240)
        finally:
            if q.isActive:
                q.stop()
    w = Window.partitionBy("user_id").orderBy(F.col("cnt").desc())
    return (
        spark.table(_STATEFUL_SINK)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "cnt",
            F.round("total", 2).alias("total"),
            F.col("last_ts").alias("last_ts_ns"),
        )
    )


@register(
    "stream_merge_upsert_rollup",
    oracle="""
    SELECT date_trunc('hour', ts) AS hr, event_type,
           CAST(count(*) AS BIGINT) AS cnt,
           round(sum(value), 2) AS sum_value
    FROM events
    WHERE event_type IN ('view', 'purchase')
    GROUP BY 1, 2
    """,
    tags=("streaming", "merge", "lakehouse", "events"),
)
def stream_merge_upsert_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming-lakehouse upsert loop end-to-end: readStream →
    watermarked hourly aggregate → ``foreachBatch`` that MERGEs each
    micro-batch's updated groups into a snapshot-versioned ENGINE table
    — so the continuously-maintained rollup is itself time-travelable,
    VACUUM-able, and visible to the Astha CDC bus like any other commit.
    Update-mode aggregation re-emits a group's FULL updated value (not a
    delta), so the MERGE's ``UPDATE SET cnt = s.cnt`` is idempotent
    under micro-batch replay — exactly-once table state from
    at-least-once batch delivery. A fresh checkpoint per call re-drains
    the bounded source, and matched groups converge to the same values,
    so reruns are deterministic; the oracle is the batch GROUP BY.
    At 100 TB: the memoryless part (agg state) is bounded by the
    watermark; each MERGE rewrites only matched-group files of the
    (small) rollup table, not the event history."""
    import hashlib

    from ranger_spark.engine import Engine

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    db, view = f"strmrg_{tag}", f"strmrg_batch_{tag}"
    eng = Engine(spark)
    eng.execute(f"CREATE DATABASE IF NOT EXISTS {db};")
    eng.execute(
        f"CREATE TABLE IF NOT EXISTS {db}.rollup ("
        "hr timestamp, event_type string, cnt int64, sum_value float64);"
    )
    agg = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type").isin("view", "purchase"))
        .withWatermark("ts", "1 day")
        .groupBy(
            F.date_trunc("hour", "ts").alias("hr"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("value").alias("sum_value"),
        )
    )

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch hands a DataFrame of a CLONED batch session; a
        # plain temp view would be invisible to the engine's session.
        # Global temp views live in the shared catalog, and the engine's
        # subquery-source path runs through its own spark.sql — the
        # session bridge.
        batch_df.createOrReplaceGlobalTempView(view)
        eng.execute(
            f"MERGE INTO {db}.rollup t "
            f"USING (SELECT * FROM global_temp.{view}) s "
            "ON t.hr = s.hr AND t.event_type = s.event_type "
            "WHEN MATCHED THEN UPDATE SET cnt = s.cnt, "
            "sum_value = s.sum_value "
            "WHEN NOT MATCHED THEN INSERT (hr, event_type, cnt, sum_value) "
            "VALUES (s.hr, s.event_type, s.cnt, s.sum_value);"
        )

    with drain_scope(spark, _events_bytes(sf_dir), "strmrg") as ckpt:
        q = (
            agg.writeStream.foreachBatch(commit)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(240)
        finally:
            if q.isActive:
                q.stop()
    return spark.table(f"{db}.rollup").select(
        F.col("hr").cast("timestamp_ntz").alias("hr"),
        "event_type",
        "cnt",
        F.round("sum_value", 2).alias("sum_value"),
    )


_TWS_HIST_SINK = "stream_tws_value_histogram_sink"


@register(
    "stream_tws_value_histogram",
    oracle="""
    WITH cents AS (
        SELECT user_id, CAST(round(value * 100, 0) AS BIGINT) AS c
        FROM events
    )
    SELECT user_id,
           c // 1000 AS bucket,
           CAST(count(*) AS BIGINT) AS bucket_count,
           CAST(sum(count(*)) OVER (PARTITION BY user_id) AS BIGINT)
               AS total_count,
           CAST(sum(sum(c)) OVER (PARTITION BY user_id) AS BIGINT)
               AS total_cents
    FROM cents
    GROUP BY user_id, c // 1000
    """,
    tags=("streaming", "stateful", "tws", "events"),
)
def stream_tws_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``transformWithStateInPandas`` end-to-end under the oracle
    gate: per-user value histograms (MapState bucket→count) plus running
    count/sum (ValueState) over a REAL readStream drain — the stateful-
    processor API un-gated by the vendored protobuf runtime
    (ranger_spark/protoshim.py; NOTES round-10 item 12), so this query
    also interop-validates that runtime against the JVM StateServer's
    Java protobuf on every driver round.

    Determinism protocol: the stream carries integer CENTS as doubles
    (≤ 5.6e7 ≪ 2^53 — every add is exact, so the running sum is order-
    independent), bucketing is exact integer floor division on those
    cents (bucket = cents // 1000 ≡ 10-currency-unit buckets), and all
    outputs are integers. MapState never drops buckets, so the emission
    with the key's max total_count is a superset of every earlier one —
    selecting it yields the final state, which over a full drain equals
    the batch GROUP BY the oracle computes.
    """
    from pyspark.sql import Window

    from ranger_spark.streaming.stateful import value_histogram_per_key

    for q in spark.streams.active:
        if q.name == _TWS_HIST_SINK:
            q.stop()
    src = _event_stream(spark, sf_dir).select(
        "user_id",
        F.round(F.col("value") * 100, 0).cast("long").cast("double").alias("value"),
    )
    out = value_histogram_per_key(src, bucket_width=1000.0)
    with drain_scope(spark, _events_bytes(sf_dir), "twshist", floor=8) as ckpt:
        q = (
            out.writeStream.format("memory")
            .queryName(_TWS_HIST_SINK)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(240)
        finally:
            if q.isActive:
                q.stop()
    w = Window.partitionBy("user_id")
    return (
        spark.table(_TWS_HIST_SINK)
        .withColumn("__max_cnt", F.max("total_count").over(w))
        .filter(F.col("total_count") == F.col("__max_cnt"))
        .select(
            "user_id",
            "bucket",
            "bucket_count",
            "total_count",
            F.col("total_sum").cast("long").alias("total_cents"),
        )
    )


_TWS_TOPK_SINK = "stream_tws_topk_seeded_sink"


@register(
    "stream_tws_topk_seeded",
    oracle="""
    WITH cents AS (
        SELECT user_id, CAST(round(value * 100, 0) AS BIGINT) AS c
        FROM events
        UNION ALL
        SELECT user_id, ((user_id * 37) % 5000 + 1) * 100 AS c
        FROM (SELECT DISTINCT user_id FROM events)
    ),
    r AS (
        SELECT user_id, c,
               row_number() OVER (PARTITION BY user_id ORDER BY c DESC)
                   AS rnk
        FROM cents
    )
    SELECT user_id, CAST(rnk AS BIGINT) AS rnk, c AS value_cents
    FROM r WHERE rnk <= 3
    """,
    tags=("streaming", "stateful", "tws", "events"),
)
def stream_tws_topk_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``transformWithStateInPandas`` ListState + INITIAL-STATE warm
    start under the oracle gate (VERDICT r10 item 6): per-user running
    top-3 values over a real readStream drain, with each key's state
    seeded from a batch DataFrame via ``handleInitialState`` — the
    offline-leaderboard-warm-start shape. The seed is synthesized
    deterministically from the user id (one extra "historical" value
    per user), so the oracle is simply top-3 over events ∪ seeds.

    Determinism protocol (the stream_tws_value_histogram pattern):
    integer CENTS ride as doubles (exact adds), and the rank-r value of
    a growing multiset is non-decreasing — so max(value) per (user,
    rank) across all Update-mode emissions IS the final leaderboard,
    independent of micro-batch boundaries.
    """
    from ranger_spark.streaming.stateful import topk_per_key

    for q in spark.streams.active:
        if q.name == _TWS_TOPK_SINK:
            q.stop()
    src = _event_stream(spark, sf_dir).select(
        "user_id",
        F.round(F.col("value") * 100, 0).cast("long").cast("double").alias("value"),
    )
    from ranger_spark.tables import load as _load

    # through tables.load, NOT raw spark.read.parquet: events.parquet is
    # TIMESTAMP(NANOS) and load() owns the nanosAsLong legacy conf — a
    # raw read only works if something else set it first
    seeds = (
        _load(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            "user_id",
            ((F.col("user_id") * 37) % 5000 + 1).cast("double").alias("value"),
        )
        .withColumn("value", F.col("value") * 100)
    )
    out = topk_per_key(src, k=3, initial=seeds)
    with drain_scope(spark, _events_bytes(sf_dir), "twstopk", floor=8) as ckpt:
        q = (
            out.writeStream.format("memory")
            .queryName(_TWS_TOPK_SINK)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(240)
        finally:
            if q.isActive:
                q.stop()
    return (
        spark.table(_TWS_TOPK_SINK)
        .groupBy("user_id", F.col("rank").alias("rnk"))
        .agg(F.max("value").cast("long").alias("value_cents"))
        .select("user_id", "rnk", "value_cents")
    )


def _await_quiescent(q, max_wall: float = 240.0) -> None:
    """Drain an availableNow query that cannot self-terminate: under
    ``timeMode="ProcessingTime"`` with TTL'd state, Spark keeps
    scheduling zero-input maintenance batches ("No new data but
    cleaning up state", ~2 s each, observed unbounded — they would run
    until the TTL actually expires). Output rows only come from
    handleInputRows, so the sink is COMPLETE once the file source is
    exhausted; stop at the first completed zero-input batch with no
    data available instead of burning minutes of cleanup batches.

    Two CONSECUTIVE quiescent observations are required before stopping:
    the file source can transiently report ``isDataAvailable=false``
    between discovery cycles mid-drain, and stopping on a single
    observation would truncate emissions and flake the oracle gate."""
    import time as _time

    t0 = _time.time()
    quiescent_streak = 0
    last_batch = -1
    while q.isActive and _time.time() - t0 < max_wall:
        q.awaitTermination(2)
        p = q.lastProgress
        st = q.status
        if (
            p is not None
            and p.get("numInputRows", 1) == 0
            and not st.get("isDataAvailable", True)
        ):
            # only count distinct completed batches toward the streak —
            # the same lastProgress observed twice is one observation
            if p.get("batchId", -1) != last_batch:
                quiescent_streak += 1
                last_batch = p.get("batchId", -1)
            if quiescent_streak >= 2:
                break
        else:
            quiescent_streak = 0
    if q.isActive:
        q.stop()


_TWS_TTL_SINK = "stream_tws_rolling_total_sink"


@register(
    "stream_tws_rolling_total",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM events
    GROUP BY user_id
    """,
    tags=("streaming", "stateful", "tws", "ttl", "events"),
)
def stream_tws_rolling_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL'd ``ValueState`` under the oracle gate (VERDICT r10 item 6):
    per-user rolling (count, sum-of-cents) in a state variable created
    WITH a TTLConfig — every driver round round-trips the TTL creation
    path (plus ``deleteIfExists`` schema hygiene in init) against the
    JVM StateServer. The TTL is set to one hour: far beyond any drain's
    processing time, so no state ages out mid-run and the final
    emission per key equals the batch GROUP BY the oracle computes
    (the TTL *expiry* behavior itself is pinned by
    tests/test_stateful_streaming.py with a short TTL and a forced
    inter-batch sleep — wall-clock expiry can't be driver-oracled
    deterministically).

    Determinism protocol: integer cents as doubles (exact adds); cnt
    strictly increases per emission, so the max-cnt emission per key is
    the final state regardless of micro-batch boundaries.
    """
    from pyspark.sql import Window

    from ranger_spark.streaming.stateful import rolling_total_with_ttl

    for q in spark.streams.active:
        if q.name == _TWS_TTL_SINK:
            q.stop()
    src = _event_stream(spark, sf_dir).select(
        "user_id",
        F.round(F.col("value") * 100, 0).cast("long").cast("double").alias("value"),
    )
    out = rolling_total_with_ttl(src, ttl_ms=3_600_000)
    with drain_scope(spark, _events_bytes(sf_dir), "twsttl", floor=8) as ckpt:
        q = (
            out.writeStream.format("memory")
            .queryName(_TWS_TTL_SINK)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        try:
            # NOT awaitTermination: TTL + ProcessingTime availableNow
            # queries never self-terminate (see _await_quiescent)
            _await_quiescent(q, 240.0)
        finally:
            if q.isActive:
                q.stop()
    w = Window.partitionBy("user_id")
    return (
        spark.table(_TWS_TTL_SINK)
        .withColumn("__max_cnt", F.max("cnt").over(w))
        .filter(F.col("cnt") == F.col("__max_cnt"))
        .select(
            "user_id",
            "cnt",
            F.col("total").cast("long").alias("total_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Event-time timers under the oracle gate: deterministic wave batching
# ---------------------------------------------------------------------------
_SESS_T0 = 1_700_000_000  # epoch s, wave base
_SESS_DELTA = 3_600  # inter-wave spacing (s) >> gap, so flushes are forced
_SESS_GAP_MS = 60_000


def _tws_session_landing(spark: SparkSession, sf_dir: str) -> str:
    """Content-addressed landing zone of 9 single-parquet 'wave' files
    that make the event-time session query DETERMINISTIC under
    ``maxFilesPerTrigger=1`` (one file = one micro-batch, mtime-ordered):

      slot 0/3/6 — real events, wave = (cents % 3) * 3, event time
        T0 + wave·Δ + cents%10 (all of a user's wave-w rows arrive in
        micro-batch w, so the session content is batch-independent);
      slots 1,2,4,5 — sentinel rows (user −1) at T0 + slot·Δ: two
        watermark advances between real waves, so the PREVIOUS wave's
        timer (end+gap) provably expires before the next wave's input
        arrives (the watermark lags one batch — a single sentinel would
        leave fire-vs-merge dependent on Spark's within-batch ordering
        of expired timers and input rows);
      slots 7,8 — far-future sentinels (T0 + 10Δ / 11Δ) that flush the
        last real wave without relying on a trailing no-data batch.

    The oracle is then a plain GROUP BY (user, wave) over the same
    closed-form synthesis. Built once per (sf_dir, rowcount), published
    atomically (the warc_source_roundtrip pattern)."""
    import hashlib
    import os
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ranger_spark.tables import load

    d = load(spark, sf_dir, "events").select(
        "user_id", F.round(F.col("value") * 100, 0).cast("long").alias("cents")
    )
    # tag from count() only — the full-table driver collect happens
    # exclusively on the build branch, never on a cache hit (this runs
    # per certification AND per bench round)
    tag = hashlib.sha256(
        f"{os.path.abspath(sf_dir)}|{d.count()}|v1".encode()
    ).hexdigest()[:16]
    final = os.path.join(tempfile.gettempdir(), f"ranger_tws_sess_{tag}")
    if os.path.isdir(final):
        return final
    pdf = d.toPandas()
    work = tempfile.mkdtemp(prefix=f"ranger_tws_sess_{tag}_part_")
    pdf["wave"] = (pdf["cents"] % 3) * 3
    pdf["ts_us"] = (
        _SESS_T0 + pdf["wave"] * _SESS_DELTA + pdf["cents"] % 10
    ) * 1_000_000
    sentinel_ts = {1: 1, 2: 2, 4: 4, 5: 5, 7: 10, 8: 11}
    for slot in range(9):
        if slot in (0, 3, 6):
            part = pdf[pdf["wave"] == slot]
            t = pa.table(
                {
                    "user_id": pa.array(part["user_id"], pa.int64()),
                    "value": pa.array(
                        part["cents"].astype("float64"), pa.float64()
                    ),
                    "ts_us": pa.array(part["ts_us"], pa.int64()),
                }
            )
        else:
            ts = (_SESS_T0 + sentinel_ts[slot] * _SESS_DELTA) * 1_000_000
            t = pa.table(
                {
                    "user_id": pa.array([-1], pa.int64()),
                    "value": pa.array([0.0], pa.float64()),
                    "ts_us": pa.array([ts], pa.int64()),
                }
            )
        path = os.path.join(work, f"slot{slot}.parquet")
        pq.write_table(t, path)
        os.utime(path, (1_700_000_000 + slot, 1_700_000_000 + slot))
    try:
        os.rename(work, final)  # atomic: concurrent/crashed runs lose
    except OSError:
        shutil.rmtree(work, ignore_errors=True)
    return final


_TWS_SESS_SINK = "stream_tws_session_flush_sink"


@register(
    "stream_tws_session_flush",
    oracle=f"""
    WITH c AS (
        SELECT user_id, CAST(round(value * 100, 0) AS BIGINT) AS cents
        FROM events
    ),
    s AS (
        SELECT user_id, (cents % 3) * 3 AS wave,
               ({_SESS_T0} + ((cents % 3) * 3) * {_SESS_DELTA}
                + (cents % 10)) * 1000 AS ts_ms,
               cents
        FROM c
    )
    SELECT user_id,
           min(ts_ms) AS session_start_ms,
           max(ts_ms) AS session_end_ms,
           CAST(count(*) AS BIGINT) AS cnt,
           round(CAST(sum(cents) AS DOUBLE) / count(*), 6) AS mean_cents
    FROM s GROUP BY user_id, wave
    """,
    tags=("streaming", "stateful", "tws", "timers", "events"),
)
def stream_tws_session_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-TIME timers under the oracle gate — the last
    transformWithState surface without a driver-certified query
    (VERDICT r10 item 6): custom session windows whose flushes are
    driven by ``registerTimer``/``handleExpiredTimer`` against the
    WATERMARK (TimerRequest.getWatermark on the wire, the path
    ProcessingTime operators never touch).

    Determinism protocol: the landing zone (see _tws_session_landing)
    pins micro-batch boundaries with one file per trigger — each user's
    wave-w events all arrive in batch w, and two sentinel watermark
    advances separate consecutive waves so each wave's timer provably
    fires before the next wave's input. Every session's content, and
    therefore every emission, is then a closed-form function of the
    events table — the plain GROUP BY (user, wave) the oracle runs.
    Cents-as-doubles keep sums exact; the mean is rounded to 6dp on
    both sides (repo invariant)."""
    landing = _tws_session_landing(spark, sf_dir)
    from ranger_spark.streaming.stateful import eventtime_session_flush_per_key

    for q in spark.streams.active:
        if q.name == _TWS_SESS_SINK:
            q.stop()
    stream = (
        spark.readStream.schema("user_id long, value double, ts_us long")
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        .withWatermark("ts", "0 seconds")
        .select("user_id", "ts", "value")
    )
    out = eventtime_session_flush_per_key(stream, gap_ms=_SESS_GAP_MS)
    with drain_scope(spark, source_size(landing), "twssess", floor=8) as ckpt:
        q = (
            out.writeStream.format("memory")
            .queryName(_TWS_SESS_SINK)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            _await_quiescent(q, 240.0)
        finally:
            if q.isActive:
                q.stop()
    return (
        spark.table(_TWS_SESS_SINK)
        .filter(F.col("user_id") >= 0)
        .select(
            "user_id",
            "session_start_ms",
            "session_end_ms",
            "cnt",
            F.round(F.col("mean_value"), 6).alias("mean_cents"),
        )
    )


_NEARDUP_SINK = "stream_neardup_fingerprint_sink"


@register(
    "stream_neardup_fingerprint",
    # keys-only semantics (the stream_dedup_keys convention): every
    # member of a shingle-set identity group carries the SAME
    # (fingerprint, set size), so survivor choice is moot and the
    # oracle is a plain DISTINCT over per-row fingerprints it derives
    # itself — string_agg over the ascending hash list mirrors the
    # expression's array_sort + concat_ws exactly.
    oracle=r"""
    WITH v AS (
      SELECT doc_id * 2     AS row_id, text AS raw FROM documents
      UNION ALL SELECT doc_id * 2 + 1, text || ' ' || text FROM documents
    ),
    s AS (
      SELECT row_id,
             trim(regexp_replace(lower(raw), '[^a-z0-9]+', ' ', 'g')) AS norm
      FROM v
    ),
    toks AS (
      SELECT row_id, regexp_split_to_array(norm, '\s+') AS t FROM s
    ),
    sh AS (
      SELECT DISTINCT row_id,
             CAST(('0x' || substr(md5(concat_ws(' ', t[i], t[i+1])), 1, 8))
                  AS BIGINT) AS h
      FROM toks, LATERAL (
        SELECT unnest(generate_series(1, greatest(1, len(t) - 1))) AS i
      ) g
    ),
    fp AS (
      SELECT row_id,
             md5(string_agg(CAST(h AS VARCHAR), ',' ORDER BY h)) AS sfp,
             CAST(count(*) AS BIGINT) AS n_shingles
      FROM sh GROUP BY row_id
    )
    SELECT DISTINCT sfp, n_shingles FROM fp
    """,
    tags=("streaming", "dedup", "lsh", "documents"),
)
def stream_neardup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-dup dedup at ingest — the streaming counterpart of
    the batch cascade's stage 3 (operators/dedup.lsh_neardup_groups):
    each arriving document is keyed by its shingle-set FINGERPRINT
    (operators/dedup.shingle_set_fingerprint — a pure map-only column,
    so the stream stays stateless until the dedup operator), and
    ``dropDuplicatesWithinWatermark`` keeps the first arrival of each
    identity class (reorderings, repetitions, re-paginations of the
    same content — Jaccard exactly 1.0). The feed doubles every
    document with a re-paginated copy (text twice — different exact
    bytes, identical bigram set), which an exact-fingerprint ingest
    dedup (streaming/ingest.py's md5-of-normalized-text __fp) would
    MISS; this key collapses them at the door. State at 100 TB: one
    16-byte fingerprint per identity class inside the watermark
    horizon — the same bound as exactly-once key dedup, evicted as
    event time advances. Synthetic event times span < 1 day inside a
    2-day watermark, so no duplicate can outlive the horizon and the
    drain is deterministic."""
    for q in spark.streams.active:
        if q.name == _NEARDUP_SINK:
            q.stop()
    from ranger_spark.operators.dedup import shingle_set_hashes

    raw_schema = parquet_schema(spark, f"{sf_dir}/documents.parquet")
    src = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    t = F.col("text")
    feed = src.select(
        F.explode(
            F.array(
                F.struct((F.col("doc_id") * 2).alias("row_id"), t.alias("text")),
                F.struct(
                    (F.col("doc_id") * 2 + 1).alias("row_id"),
                    F.concat(t, F.lit(" "), t).alias("text"),
                ),
            )
        ).alias("v")
    ).select(
        F.col("v.row_id").alias("row_id"),
        F.col("v.text").alias("text"),
        F.timestamp_seconds(
            F.lit(1704067200) + F.pmod(F.col("v.row_id"), F.lit(86000))
        ).alias("ts"),
    )
    # guide §2.5 input skew (r15): the source is ONE parquet file, so
    # without this the whole shingle/md5 chain below ran in the single
    # scan task (measured 62 s of 69 s wall at sf0.1). Hash-repartition
    # on the unique row_id spreads the map work across the executors;
    # the shuffle moves the raw text once, far cheaper than serializing
    # the compute. At cluster scale a many-file source already
    # parallelizes the scan and this exchange coalesces under AQE.
    feed = feed.repartition(
        spark.sparkContext.defaultParallelism, F.col("row_id")
    )
    # materialize the hash array ONCE (Catalyst does not CSE through
    # higher-order-function lambdas — the standing no-CSE convention)
    keyed = (
        feed.withColumn("__shs", shingle_set_hashes(F.col("text")))
        .withColumn(
            "sfp",
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.col("__shs"), lambda x: x.cast("string")
                    ),
                )
            ),
        )
        .withColumn("n_shingles", F.size("__shs").cast("bigint"))
        .withWatermark("ts", "2 days")
        .dropDuplicatesWithinWatermark(["sfp"])
        .select("sfp", "n_shingles")
    )
    with drain_scope(
        spark,
        source_size(f"{sf_dir}/documents.parquet"),
        "neardup",
    ) as ckpt:
        q = (
            keyed.writeStream.format("memory")
            .queryName(_NEARDUP_SINK)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(240)
        finally:
            if q.isActive:
                q.stop()
    return spark.table(_NEARDUP_SINK).select("sfp", "n_shingles")


_CORPUS_GATE_SINK = "stream_corpus_gate_sink"


@register(
    "stream_corpus_gate",
    # Full corpus gate at the ingest door (VERDICT r13 #5): blocklist →
    # URL dedup vs the ingested catalog → token gate → near-dup
    # fingerprint dedup, ONE stream. Output is keys-only (the
    # stream_neardup_fingerprint convention): every member of an
    # identity class carries the same (sfp, n_shingles), so survivor
    # choice is moot and the result set is arrival-order-independent.
    # The oracle derives every stage in CLOSED FORM (blocklist and
    # catalog membership from doc_id arithmetic, the gate from its own
    # token split, fingerprints from its own shingle hashing) and never
    # canonicalizes a URL or runs a dedup — a bug in the Spark
    # canonicalizer, either anti-join, the gate, or the dedup key
    # surfaces as a set mismatch.
    oracle=r"""
    WITH d AS (SELECT doc_id, text FROM documents),
    v AS (
      SELECT doc_id, 0 AS k, doc_id * 5     AS row_id, text AS raw FROM d
      UNION ALL SELECT doc_id, 1, doc_id * 5 + 1, text FROM d
      UNION ALL SELECT doc_id, 2, doc_id * 5 + 2, text FROM d
      UNION ALL SELECT doc_id, 3, doc_id * 5 + 3,
                       text || ' ' || text FROM d
      UNION ALL SELECT doc_id, 4, doc_id * 5 + 4,
                       text || ' ' || text || ' ' || text FROM d
    ),
    live AS (
      SELECT row_id, raw FROM v
      WHERE ('site' || CAST(doc_id % 50 AS VARCHAR))
              NOT IN ('site7', 'site13', 'site21')
        AND NOT (doc_id % 11 = 5)
        AND NOT (doc_id % 7 = 3 AND k IN (0, 1))
    ),
    s AS (
      SELECT row_id,
             trim(regexp_replace(lower(raw), '[^a-z0-9]+', ' ', 'g')) AS norm
      FROM live
    ),
    toks AS (
      SELECT row_id, regexp_split_to_array(norm, '\s+') AS t FROM s
    ),
    gated AS (SELECT row_id, t FROM toks WHERE len(t) >= 40),
    sh AS (
      SELECT DISTINCT row_id,
             CAST(('0x' || substr(md5(concat_ws(' ', t[i], t[i+1])), 1, 8))
                  AS BIGINT) AS h
      FROM gated, LATERAL (
        SELECT unnest(generate_series(1, greatest(1, len(t) - 1))) AS i
      ) g
    ),
    fp AS (
      SELECT row_id,
             md5(string_agg(CAST(h AS VARCHAR), ',' ORDER BY h)) AS sfp,
             CAST(count(*) AS BIGINT) AS n_shingles
      FROM sh GROUP BY row_id
    )
    SELECT DISTINCT sfp, n_shingles FROM fp
    """,
    tags=("streaming", "dedup", "url", "blocklist", "quality", "documents"),
)
def stream_corpus_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION ingest door as one stream (VERDICT r13 #5 — the
    reference gates writes on its ingest path, storage.go:500-528; this
    chain certifies the corpus-build gates at that point):

    1. **Domain blocklist** — host from the REAL URL canonicalizer
       (operators/urls.py), broadcast LEFT ANTI against the blocklist
       table. Map-only.
    2. **URL dedup vs the ingested catalog** — canonical URL anti-joined
       against the catalog of already-ingested URLs (a maintained table
       in production; here the closed-form subset: every variant URL of
       ``doc_id % 11 == 5`` docs, and the primary/mirror canonical URL
       of ``doc_id % 7 == 3`` docs — so some classes vanish entirely
       and others survive only through their re-archived/re-paginated
       variants). Broadcast, map-only: intra-stream URL duplicates need
       no URL state because the fingerprint store downstream subsumes
       them (same canonical URL in this feed ⇒ same text ⇒ same
       fingerprint).
    3. **Token quality gate** — ``token_count(normalize_text) >= 40``
       (the batch chain's _GATE_MIN_TOKENS). Map-only, per variant: a
       class whose original is short can still enter through a
       re-paginated variant — same fingerprint semantics as batch.
    4. **Near-dup fingerprint dedup** — ``dropDuplicatesWithinWatermark``
       on the shingle-set fingerprint: the ONE state store (16 bytes
       per identity class inside the watermark horizon, evicted as
       event time advances).

    Plan shape at 100 TB: scan → map exprs → two BroadcastHashJoin
    anti-joins → filter → one dedup state store. Zero shuffles before
    the state store; no driver collection. Synthetic event times span
    < 1 day inside a 2-day watermark, so the availableNow drain is
    deterministic."""
    for q in spark.streams.active:
        if q.name == _CORPUS_GATE_SINK:
            q.stop()
    from ranger_spark.operators.dedup import shingle_set_hashes
    from ranger_spark.operators.text import normalize_text, token_count
    from ranger_spark.operators.urls import canonicalize_url

    raw_schema = parquet_schema(spark, f"{sf_dir}/documents.parquet")
    src = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    site = (F.col("doc_id") % 50).cast("string")
    did = F.col("doc_id").cast("string")
    t = F.col("text")

    def variants(df):
        vs = [
            (0, F.concat(F.lit("http://site"), site,
                         F.lit(".example.com/doc/"), did), t),
            (1, F.concat(F.lit("HTTPS://www.site"), site,
                         F.lit(".example.com/doc/"), did,
                         F.lit("?utm_medium=mirror")), t),
            (2, F.concat(F.lit("http://site"), site,
                         F.lit(".example.com/rearchived/"), did), t),
            (3, F.concat(F.lit("http://site"), site,
                         F.lit(".example.com/page2x/"), did),
             F.concat(t, F.lit(" "), t)),
            (4, F.concat(F.lit("http://site"), site,
                         F.lit(".example.com/page3x/"), did),
             F.concat(t, F.lit(" "), t, F.lit(" "), t)),
        ]
        return df.select(
            F.explode(
                F.array(*[
                    F.struct(F.lit(k).alias("k"), url.alias("url"),
                             txt.alias("text"))
                    for k, url, txt in vs
                ])
            ).alias("v"),
            F.col("doc_id"),
        ).select(
            (F.col("doc_id") * 5 + F.col("v.k")).alias("row_id"),
            F.col("doc_id"),
            F.col("v.k").alias("k"),
            F.col("v.url").alias("url"),
            F.col("v.text").alias("text"),
        )

    feed = variants(src).withColumn(
        "ts",
        F.timestamp_seconds(
            F.lit(1704067200) + F.pmod(F.col("row_id"), F.lit(86000))
        ),
    )
    # guide §2.5 input skew (r15, same move as stream_neardup_
    # fingerprint): the single-parquet source put the whole
    # canonicalize → gate → shingle/md5 chain in ONE scan task
    # (measured 165 s of 169 s wall at sf0.1). Deterministic hash
    # repartition on the unique row_id parallelizes the map chain;
    # the raw text moves once.
    feed = feed.repartition(
        spark.sparkContext.defaultParallelism, F.col("row_id")
    )
    # static sides (batch reads — the maintained tables of a deployment)
    blocklist = spark.createDataFrame(
        [("site7.example.com",), ("site13.example.com",),
         ("site21.example.com",)],
        ["host"],
    )
    docs_b = read_parquet_file(spark, f"{sf_dir}/documents.parquet")
    cat_all = variants(docs_b.filter(F.col("doc_id") % 11 == 5)).select(
        canonicalize_url(F.col("url")).alias("curl")
    )
    cat_primary = variants(
        docs_b.filter((F.col("doc_id") % 7 == 3))
    ).filter(F.col("k") == 0).select(
        canonicalize_url(F.col("url")).alias("curl")
    )
    catalog = cat_all.unionAll(cat_primary).distinct()

    curl = canonicalize_url(F.col("url"))
    host = F.regexp_extract(curl, r"^[a-z]+://([^/]+)", 1)
    gated = (
        feed.withColumn("curl", curl)
        .withColumn("host", host)
        .join(F.broadcast(blocklist), "host", "left_anti")
        .join(F.broadcast(catalog), "curl", "left_anti")
        .filter(token_count(normalize_text(F.col("text"))) >= 40)
    )
    keyed = (
        gated.withColumn("__shs", shingle_set_hashes(F.col("text")))
        .withColumn(
            "sfp",
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.col("__shs"), lambda x: x.cast("string")
                    ),
                )
            ),
        )
        .withColumn("n_shingles", F.size("__shs").cast("bigint"))
        .withWatermark("ts", "2 days")
        .dropDuplicatesWithinWatermark(["sfp"])
        .select("sfp", "n_shingles")
    )
    with drain_scope(
        spark,
        source_size(f"{sf_dir}/documents.parquet"),
        "corpusgate",
    ) as ckpt:
        q = (
            keyed.writeStream.format("memory")
            .queryName(_CORPUS_GATE_SINK)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(240)
        finally:
            if q.isActive:
                q.stop()
    return spark.table(_CORPUS_GATE_SINK).select("sfp", "n_shingles")
