"""applyInPandasWithState: state must carry across micro-batches."""

from __future__ import annotations

import json
import tempfile
from pathlib import Path

from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("value", DoubleType()),
        StructField("ts_ns", LongType()),
    ]
)


def test_running_stats_across_batches(spark):
    from ranger_spark.streaming.stateful import running_user_stats

    tmp = Path(tempfile.mkdtemp(prefix="stateful_src_"))
    # two files → two micro-batches (maxFilesPerTrigger=1)
    for b, rows in enumerate(
        [
            [(1, 10.0, 100), (1, 5.0, 200), (2, 1.0, 150)],
            [(1, 2.0, 300), (2, 3.0, 250)],
        ]
    ):
        with open(tmp / f"b{b}.json", "w") as f:
            for u, v, t in rows:
                f.write(json.dumps({"user_id": u, "value": v, "ts_ns": t}) + "\n")
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp))
    )
    out = running_user_stats(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("running_stats")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(90)
    rows = spark.table("running_stats").collect()
    # last update per user reflects cumulative state across both batches
    final = {}
    for r in rows:
        if r.user_id not in final or r.cnt > final[r.user_id].cnt:
            final[r.user_id] = r
    assert final[1].cnt == 3 and final[1].total == 17.0 and final[1].last_ts == 300
    assert final[2].cnt == 2 and final[2].total == 4.0 and final[2].last_ts == 250

def test_topk_per_key_transform_with_state(spark):
    from ranger_spark.streaming.stateful import topk_per_key

    tmp = Path(tempfile.mkdtemp(prefix="tws_src_"))
    for b, rows in enumerate(
        [
            [(1, 10.0, 1), (1, 5.0, 2), (1, 7.0, 3), (2, 1.0, 4)],
            [(1, 9.0, 5), (1, 1.0, 6), (2, 8.0, 7)],
        ]
    ):
        with open(tmp / f"b{b}.json", "w") as f:
            for u, v, t in rows:
                f.write(json.dumps({"user_id": u, "value": v, "ts_ns": t}) + "\n")
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp))
    )
    out = topk_per_key(stream, k=3)
    try:
        import google.protobuf  # noqa: F401

        has_protobuf = True
    except ImportError:
        has_protobuf = False

    from pyspark.errors.exceptions.captured import StreamingQueryException

    q = (
        out.writeStream.format("memory")
        .queryName("tws_topk")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    if not has_protobuf:
        # Unreachable since ranger_spark.protoshim: get_spark activates
        # the vendored protobuf runtime when no real one exists, so
        # google.protobuf always imports here. Kept for runtimes that
        # bypass get_spark AND lack protobuf: assert the documented gate.
        try:
            q.awaitTermination(120)
            raise AssertionError("expected the protobuf capability gate")
        except StreamingQueryException as e:
            assert "driver worker exited" in str(e) or "protobuf" in str(e)
        return
    q.awaitTermination(120)
    rows = spark.table("tws_topk").collect()
    # final update per (user, rank) reflects state across both batches:
    # user 1 saw 10,5,7 then 9,1 → top-3 = 10,9,7
    latest = {}
    for r in rows:
        latest[(r.user_id, r.rank)] = r.value  # memory sink appends in order
    assert latest[(1, 1)] == 10.0
    assert latest[(1, 2)] == 9.0
    assert latest[(1, 3)] == 7.0
    assert latest[(2, 1)] == 8.0


def test_value_histogram_per_key_tws(spark):
    from ranger_spark.streaming.stateful import value_histogram_per_key

    tmp = Path(tempfile.mkdtemp(prefix="tws_hist_"))
    for b, rows in enumerate(
        [
            [(1, 2.0, 1), (1, 7.0, 2), (1, 3.0, 3), (2, 12.0, 4)],
            [(1, 8.0, 5), (2, 1.0, 6), (2, 14.0, 7)],
        ]
    ):
        with open(tmp / f"b{b}.json", "w") as f:
            for u, v, t in rows:
                f.write(json.dumps({"user_id": u, "value": v, "ts_ns": t}) + "\n")
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp))
    )
    out = value_histogram_per_key(stream, bucket_width=5.0)
    q = (
        out.writeStream.format("memory")
        .queryName("tws_hist")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("tws_hist").collect()
    # memory sink appends per batch; keep the LAST emission per (user, bucket)
    latest = {}
    for r in rows:
        latest[(r.user_id, r.bucket)] = r
    # user 1 values 2,7,3,8 → buckets: 0 (2,3) ×2, 1 (7,8) ×2; cnt 4 sum 20
    assert latest[(1, 0)].bucket_count == 2
    assert latest[(1, 1)].bucket_count == 2
    assert latest[(1, 1)].total_count == 4
    assert latest[(1, 1)].total_sum == 20.0
    # user 2 values 12,1,14 → bucket 2 (12,14) ×2, bucket 0 (1) ×1; cnt 3 sum 27
    assert latest[(2, 2)].bucket_count == 2
    assert latest[(2, 0)].bucket_count == 1
    assert latest[(2, 0)].total_count == 3
    assert latest[(2, 0)].total_sum == 27.0


def test_value_histogram_per_key_skips_nan_and_null(spark):
    from ranger_spark.streaming.stateful import value_histogram_per_key

    tmp = Path(tempfile.mkdtemp(prefix="tws_hist_nan_"))
    with open(tmp / "b0.json", "w") as f:
        for u, v, t in [(1, 2.0, 1), (1, float("nan"), 2), (1, 7.0, 3),
                        (1, None, 4)]:
            # json.dumps writes NaN, which Spark's reader accepts
            f.write(json.dumps({"user_id": u, "value": v, "ts_ns": t}) + "\n")
    stream = spark.readStream.schema(SCHEMA).json(str(tmp))
    out = value_histogram_per_key(stream, bucket_width=5.0)
    q = (
        out.writeStream.format("memory")
        .queryName("tws_hist_nan")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    rows = {
        r.bucket: (r.bucket_count, r.total_count, r.total_sum)
        for r in spark.table("tws_hist_nan").collect()
    }
    assert rows == {0: (1, 2, 9.0), 1: (1, 2, 9.0)}


def test_inactivity_flush_per_key_tws(spark):
    import time

    from ranger_spark.streaming.stateful import inactivity_flush_per_key

    tmp = Path(tempfile.mkdtemp(prefix="tws_flush_"))
    with open(tmp / "b0.json", "w") as f:
        for u, v, t in [(1, 10.0, 1), (1, 5.0, 2), (2, 1.0, 3)]:
            f.write(json.dumps({"user_id": u, "value": v, "ts_ns": t}) + "\n")
    stream = spark.readStream.schema(SCHEMA).json(str(tmp))
    out = inactivity_flush_per_key(stream, idle_ms=1500)
    q = (
        out.writeStream.format("memory")
        .queryName("tws_flush")
        .outputMode("update")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        # processing-time timers fire on a LATER batch whose clock passes
        # the deadline; late data for key 2 re-arms its timer, so key 1
        # flushes first. Poll for the flush rows.
        deadline = time.time() + 60
        time.sleep(2.5)
        with open(tmp / "b1.json", "w") as f:
            f.write(json.dumps({"user_id": 2, "value": 4.0, "ts_ns": 9}) + "\n")
        def totals():
            agg = {}
            for r in spark.table("tws_flush").collect():
                c, t = agg.get(r.user_id, (0, 0.0))
                agg[r.user_id] = (c + r.cnt, t + r.total)
            return agg

        agg = totals()
        while time.time() < deadline and (
            agg.get(1, (0, 0.0))[1] < 15.0 or agg.get(2, (0, 0.0))[1] < 5.0
        ):
            time.sleep(1.0)
            agg = totals()
    finally:
        q.stop()
    # every input row is flushed exactly once (state clears on flush);
    # key 2 may flush once (late row beat the timer) or twice — the
    # cumulative totals are timing-independent
    assert agg[1] == (2, 15.0)
    assert agg[2] == (2, 5.0)
    assert all(r.flushed_at_ms > 0 for r in spark.table("tws_flush").collect())


def test_eventtime_session_flush_per_key_tws(spark):
    from pyspark.sql import functions as F

    from ranger_spark.streaming.stateful import eventtime_session_flush_per_key

    tmp = Path(tempfile.mkdtemp(prefix="tws_etsess_"))
    # batch 0: user 1 has a tight session at t=100..160s; user 2 at 130s
    with open(tmp / "b0.json", "w") as f:
        for u, v, t in [(1, 10.0, 100), (1, 20.0, 160), (2, 5.0, 130)]:
            f.write(json.dumps({"user_id": u, "value": v, "ts_s": t}) + "\n")
    # batch 1: a much later event (t=10000s) advances the watermark far
    # past every session's end+gap → deterministic event-time expiry
    with open(tmp / "b1.json", "w") as f:
        f.write(json.dumps({"user_id": 3, "value": 1.0, "ts_s": 10_000}) + "\n")
    schema = "user_id long, value double, ts_s long"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp))
        .withColumn("ts", F.col("ts_s").cast("timestamp"))
        .withWatermark("ts", "0 seconds")
        .select("user_id", "ts", "value")
    )
    out = eventtime_session_flush_per_key(stream, gap_ms=60_000)
    q = (
        out.writeStream.format("memory")
        .queryName("tws_etsess")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r.user_id: r for r in spark.table("tws_etsess").collect()}
    # users 1 and 2 flushed by the watermark advance; user 3's session
    # is still open when the drain ends (no later watermark) → absent
    assert set(rows) == {1, 2}
    assert rows[1].session_start_ms == 100_000
    assert rows[1].session_end_ms == 160_000
    assert rows[1].cnt == 2 and rows[1].mean_value == 15.0
    assert rows[2].cnt == 1 and rows[2].mean_value == 5.0
    assert rows[2].session_start_ms == rows[2].session_end_ms == 130_000


def test_topk_initial_state_warm_start(spark):
    from ranger_spark.streaming.stateful import topk_per_key

    tmp = Path(tempfile.mkdtemp(prefix="tws_init_"))
    with open(tmp / "b0.json", "w") as f:
        for u, v, t in [(1, 10.0, 1), (1, 60.0, 2), (3, 2.0, 3)]:
            f.write(json.dumps({"user_id": u, "value": v, "ts_ns": t}) + "\n")
    stream = spark.readStream.schema(SCHEMA).json(str(tmp))
    # offline leaderboard: user 1 historically saw 100 and 50; user 2
    # exists ONLY in the initial state (no stream input)
    initial = spark.createDataFrame(
        [(1, 100.0), (1, 50.0), (2, 7.0)], "user_id long, value double"
    )
    out = topk_per_key(stream, k=3, initial=initial)
    q = (
        out.writeStream.format("memory")
        .queryName("tws_init")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    latest = {}
    for r in spark.table("tws_init").collect():
        latest[(r.user_id, r.rank)] = r.value
    # user 1: initial [100, 50] merged with stream [10, 60] → 100, 60, 50
    assert latest[(1, 1)] == 100.0
    assert latest[(1, 2)] == 60.0
    assert latest[(1, 3)] == 50.0
    # user 3 has no initial state: stream-only
    assert latest[(3, 1)] == 2.0
    # user 2 emits nothing in Update mode (state seeded, no input) but
    # its seeded state must not corrupt others — covered by the above


def test_rolling_total_with_ttl_expires(spark):
    import time

    from ranger_spark.streaming.stateful import rolling_total_with_ttl

    tmp = Path(tempfile.mkdtemp(prefix="tws_ttl_"))
    with open(tmp / "b0.json", "w") as f:
        for u, v, t in [(1, 10.0, 1), (1, 5.0, 2)]:
            f.write(json.dumps({"user_id": u, "value": v, "ts_ns": t}) + "\n")
    stream = spark.readStream.schema(SCHEMA).json(str(tmp))
    out = rolling_total_with_ttl(stream, ttl_ms=2000)
    q = (
        out.writeStream.format("memory")
        .queryName("tws_ttl")
        .outputMode("update")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        rows = []
        while time.time() < deadline and not rows:
            rows = spark.table("tws_ttl").collect()
            time.sleep(0.5)
        assert rows and rows[0].cnt == 2 and rows[0].total == 15.0
        # let the state age past its TTL (measured from the update we
        # just OBSERVED, so >= 4s > 2s has provably elapsed on arrival)
        time.sleep(4.0)
        with open(tmp / "b1.json", "w") as f:
            f.write(json.dumps({"user_id": 1, "value": 1.0, "ts_ns": 9}) + "\n")
        final = None
        while time.time() < deadline and final is None:
            for r in spark.table("tws_ttl").collect():
                if r.total == 1.0 or r.total == 16.0:
                    final = r
            time.sleep(0.5)
    finally:
        q.stop()
    # TTL'd state must have been forgotten: the second batch restarts
    # the counter instead of accumulating to (3, 16.0)
    assert final is not None and final.cnt == 1 and final.total == 1.0


class _FakeDrainQuery:
    """Scripted StreamingQuery stand-in for _await_quiescent: each entry
    is (numInputRows, isDataAvailable, batchId)."""

    def __init__(self, script):
        self._script = list(script)
        self._i = -1
        self.stopped = False

    @property
    def isActive(self):
        return not self.stopped

    def awaitTermination(self, _timeout):
        if self._i < len(self._script) - 1:
            self._i += 1

    @property
    def lastProgress(self):
        if self._i < 0:
            return None
        rows, _avail, batch = self._script[self._i]
        return {"numInputRows": rows, "batchId": batch}

    @property
    def status(self):
        if self._i < 0:
            return {"isDataAvailable": True}
        return {"isDataAvailable": self._script[self._i][1]}

    def stop(self):
        self.stopped = True


def test_await_quiescent_requires_two_distinct_quiescent_batches():
    # r11 advice: a single transient isDataAvailable=false between file
    # discovery cycles must NOT stop the drain — data arriving after it
    # resets the streak, and only two DISTINCT completed zero-input
    # batches end the wait
    from ranger_spark.queries.streaming_q import _await_quiescent

    q = _FakeDrainQuery(
        [
            (10, True, 0),
            (0, False, 1),   # transient quiescence (one observation)
            (5, True, 2),    # late data: streak must reset
            (0, False, 3),
            (0, False, 3),   # same batch seen twice: still one observation
            (0, False, 4),   # second distinct quiescent batch -> stop
            (7, True, 5),    # must never be reached
        ]
    )
    _await_quiescent(q, max_wall=30.0)
    assert q.stopped
    assert q._i == 5, "drain should stop on the 2nd distinct quiescent batch"
