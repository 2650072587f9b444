"""Custom stateful streaming operators via ``applyInPandasWithState`` —
the escape hatch for streaming semantics Spark's built-in operators can't
express (the reference has no streaming at all; SURVEY §2.6).

``running_user_stats`` keeps one small state row per key (count, sum,
last-seen timestamp) and emits the updated aggregate every micro-batch —
the canonical shape for incremental per-entity counters/profiles. State is
O(distinct keys); Arrow batches keep the Python hop amortized; keys are
hash-partitioned so a 1000-executor cluster shards state horizontally.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ranger_spark.protoshim import ensure_protobuf_on_workers
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

STATE_SCHEMA = StructType(
    [
        StructField("cnt", LongType()),
        StructField("total", DoubleType()),
        StructField("last_ts", LongType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("cnt", LongType()),
        StructField("total", DoubleType()),
        StructField("last_ts", LongType()),
    ]
)


def _update(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.exists:
        cnt, total, last_ts = state.get
    else:
        cnt, total, last_ts = 0, 0.0, 0
    for pdf in pdfs:
        cnt += len(pdf)
        total += float(pdf["value"].sum())
        if len(pdf):
            last_ts = max(last_ts, int(pdf["ts_ns"].max()))
    state.update((cnt, total, last_ts))
    yield pd.DataFrame(
        [{"user_id": key[0], "cnt": cnt, "total": total, "last_ts": last_ts}]
    )


def running_user_stats(events: DataFrame) -> DataFrame:
    """Streaming per-user running (count, sum, last-seen) — expects columns
    user_id, value, ts_ns on a streaming DataFrame."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# transformWithStateInPandas (Spark 4 stateful-processor API)
# ---------------------------------------------------------------------------


def _tws_available() -> bool:
    try:
        from pyspark.sql.streaming.stateful_processor import (  # noqa: F401
            StatefulProcessor,
        )
        return True
    except ImportError:
        return False


def _prepare_tws_session() -> None:
    """Session prep shared by every transformWithState operator:

    - transformWithState keeps each state variable in its own column
      family, which the default HDFSBackedStateStoreProvider cannot do
      (queries fail at first batch with
      STATE_STORE_MULTIPLE_COLUMN_FAMILIES). RocksDB is also the right
      provider at scale (off-heap, incremental snapshot upload).
      Flipping the session conf only affects queries STARTED afterwards.
    - ships the vendored protobuf runtime to Python workers when no real
      one exists (no-op otherwise / once shipped) — required for
      sessions whose JVM started before ranger_spark imported.
    """
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is None:
        return
    active.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    # Changelog checkpointing (r15): commit uploads the batch's write
    # delta instead of a full RocksDB snapshot per store per batch —
    # the r15 drain profile measured snapshot-style commits at 1.8-4.5 s
    # per partition-commit on KB-scale state (commitTimeMs, tools/
    # profile_streaming.py). Snapshots still happen, asynchronously, at
    # the maintenance cadence. Format-only: results and state semantics
    # are unchanged.
    active.conf.set(
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled",
        "true",
    )
    ensure_protobuf_on_workers(active)


def topk_per_key(
    events: DataFrame, k: int = 3, initial: DataFrame | None = None
) -> DataFrame:
    """Streaming per-key running top-k values via Spark 4's
    ``transformWithStateInPandas`` — typed ListState instead of the
    single-row tuple state of ``applyInPandasWithState``, the operator
    shape for per-entity leaderboards / best-k retrieval caches. Emits
    the updated top-k rows (key, rank, value) every micro-batch. State
    is O(keys × k); keys hash-shard across executors.

    ``initial`` (optional) warm-starts the state from a BATCH
    DataFrame with the same (user_id, value) columns — e.g. the
    historical leaderboard computed offline — via the API's
    ``initialState`` / ``handleInitialState`` path: each key's initial
    rows seed its ListState in the first micro-batch, before any
    stream input for that key.

    Expects columns ``user_id`` (long) and ``value`` (double). Raises a
    clear capability error on runtimes without the API.

    Environment note: the API's Python workers import
    ``google.protobuf`` (StateMessage proto). On runtimes without a
    protobuf distribution, ``ranger_spark.protoshim`` activates the
    vendored pure-Python runtime subset before the JVM starts (see
    ranger_spark/session.py), so this operator runs END-TO-END either
    way — the JVM StateServer (real Java protobuf) round-trips the
    shim's bytes, making every run an interop validation. State is kept
    in RocksDB (transformWithState needs column families; the conf flip
    below). ``applyInPandasWithState`` (``running_user_stats``) remains
    the protobuf-free stateful path.
    """
    if not _tws_available():  # pragma: no cover - gated by runtime
        raise NotImplementedError(
            "transformWithStateInPandas requires pyspark >= 4.0"
        )
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    _prepare_tws_session()

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("rank", LongType()),
            StructField("value", DoubleType()),
        ]
    )
    state_schema = StructType([StructField("value", DoubleType())])

    class TopK(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._top = handle.getListState("top", state_schema)

        def handleInitialState(self, key, initialState, timerValues):
            vals = sorted(
                (float(v) for v in initialState["value"]), reverse=True
            )[:k]
            self._top.put([(v,) for v in vals])

        def handleInputRows(self, key, rows, timerValues):
            vals = [float(r) for (r,) in self._top.get()]
            for pdf in rows:
                vals.extend(float(v) for v in pdf["value"])
            vals = sorted(vals, reverse=True)[:k]
            self._top.put([(v,) for v in vals])
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(vals),
                    "rank": list(range(1, len(vals) + 1)),
                    "value": vals,
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=TopK(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
        initialState=initial.groupBy("user_id") if initial is not None else None,
    )


def value_histogram_per_key(events: DataFrame, bucket_width: float = 5.0) -> DataFrame:
    """Streaming per-key value histogram + running moments via
    ``transformWithStateInPandas`` with BOTH a ``ValueState`` (count /
    sum — the scalar profile) and a ``MapState`` (bucket → count — the
    unbounded-cardinality part a single state row can't hold). The
    operator shape for per-entity distribution sketches: state is
    O(keys × occupied buckets), keys hash-shard across executors, and
    each micro-batch emits one row per (key, occupied bucket) plus the
    scalar profile columns denormalized onto every row.

    Exercises the full MapState protocol surface (getValue /
    containsKey / updateValue / iterator) and ValueState exists / get /
    update against the JVM StateServer — which makes it the widest
    interop gate for the vendored protobuf runtime
    (ranger_spark/protoshim.py) after ``topk_per_key``'s ListState.

    Expects columns ``user_id`` (long) and ``value`` (double). Each
    batch is summed as one pandas vector, which equals a row-by-row sum
    bit for bit only for integer-valued doubles; fractional values may
    differ in the last place. NaN and null values are skipped, as SQL
    aggregates skip NULL: they add to no count, sum or bucket.
    """
    if not _tws_available():  # pragma: no cover - gated by runtime
        raise NotImplementedError(
            "transformWithStateInPandas requires pyspark >= 4.0"
        )
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    _prepare_tws_session()

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("bucket", LongType()),
            StructField("bucket_count", LongType()),
            StructField("total_count", LongType()),
            StructField("total_sum", DoubleType()),
        ]
    )

    class Hist(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._profile = handle.getValueState(
                "profile", "cnt long, total double"
            )
            self._buckets = handle.getMapState(
                "buckets", "bucket long", "cnt long"
            )

        def handleInputRows(self, key, rows, timerValues):
            # r15 (guide §4.2/§4.5 at the StateServer shim boundary):
            # the row loop paid containsKey+getValue+updateValue — three
            # socket round-trips — PER ROW. Aggregate each batch in
            # pandas first (integer-valued doubles: the vectorized sum
            # and floor-div are bit-identical to the row loop), then
            # touch each OCCUPIED bucket once. Round-trips drop from
            # 3×rows to 3×distinct-buckets per key per batch; the
            # protocol gate still drives every MapState surface
            # (containsKey / getValue / updateValue / iterator).
            if self._profile.exists():
                cnt, total = self._profile.get()
            else:
                cnt, total = 0, 0.0
            batch_counts: dict[int, int] = {}
            for pdf in rows:
                if not len(pdf):
                    continue
                v = pdf["value"].astype("float64").dropna()
                cnt += len(v)
                total += float(v.sum())
                for b, c in (v // bucket_width).astype("int64").value_counts().items():
                    b = int(b)
                    batch_counts[b] = batch_counts.get(b, 0) + int(c)
            for b, c in batch_counts.items():
                if self._buckets.containsKey((b,)):
                    (old,) = self._buckets.getValue((b,))
                else:
                    old = 0
                self._buckets.updateValue((b,), (old + c,))
            self._profile.update((cnt, float(total)))
            out = sorted(
                (int(bk[0]), int(bc[0]))
                for bk, bc in self._buckets.iterator()
            )
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(out),
                    "bucket": [b for b, _ in out],
                    "bucket_count": [c for _, c in out],
                    "total_count": [cnt] * len(out),
                    "total_sum": [float(total)] * len(out),
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=Hist(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def inactivity_flush_per_key(events: DataFrame, idle_ms: int = 2000) -> DataFrame:
    """Streaming per-key session flush on inactivity via
    ``transformWithStateInPandas`` processing-time TIMERS — the operator
    shape for "emit the accumulated profile when a key goes quiet"
    (session windows over open-ended activity, cache eviction, abandoned
    -cart style triggers). Each input batch extends the key's aggregate
    (count / sum in a ``ValueState``) and re-arms a single timer
    ``idle_ms`` past the batch's processing time (prior timers are
    enumerated with ``listTimers`` and deleted — exactly one live timer
    per key). When the timer fires, ``handleExpiredTimer`` emits the
    flushed row and clears state, so state is O(active keys).

    Protocol note: this exercises the remaining timer surface of the
    StateMessage protocol — RegisterTimer / DeleteTimer / ListTimers
    iterators, TimerRequest.getProcessingTimer, and the expired-timer
    sweep whose TimerInfo carries the proto3-optional key bytes — all
    round-tripped against the JVM StateServer (see
    ranger_spark/protoshim.py for why that doubles as an interop gate).

    Expects columns ``user_id`` (long) and ``value`` (double). Output:
    (user_id, cnt, total, flushed_at_ms) rows, one per flushed session.
    """
    if not _tws_available():  # pragma: no cover - gated by runtime
        raise NotImplementedError(
            "transformWithStateInPandas requires pyspark >= 4.0"
        )
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    _prepare_tws_session()

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("cnt", LongType()),
            StructField("total", DoubleType()),
            StructField("flushed_at_ms", LongType()),
        ]
    )

    class Flush(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._agg = handle.getValueState("agg", "cnt long, total double")

        def handleInputRows(self, key, rows, timerValues):
            if self._agg.exists():
                cnt, total = self._agg.get()
            else:
                cnt, total = 0, 0.0
            for pdf in rows:
                cnt += len(pdf)
                total += float(pdf["value"].sum())
            self._agg.update((cnt, float(total)))
            # single live timer per key: sweep stale ones, re-arm
            for t in list(self._handle.listTimers()):
                self._handle.deleteTimer(t)
            now = timerValues.getCurrentProcessingTimeInMs()
            self._handle.registerTimer(now + idle_ms)
            return iter([])

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            if self._agg.exists():
                cnt, total = self._agg.get()
                self._agg.clear()
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "cnt": [cnt],
                        "total": [float(total)],
                        "flushed_at_ms": [expiredTimerInfo.getExpiryTimeInMs()],
                    }
                )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=Flush(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="ProcessingTime",
    )


def eventtime_session_flush_per_key(
    events: DataFrame, gap_ms: int = 60_000
) -> DataFrame:
    """Custom event-time session windows via ``transformWithStateInPandas``
    EVENT-TIME timers: a per-key session (start/end/count/sum in a
    ``ValueState``) extends with each event; a timer re-armed at
    ``session_end + gap_ms`` fires when the WATERMARK passes it —
    deterministic, data-driven expiry (unlike the processing-time flush
    ``inactivity_flush_per_key``). The custom-operator shape exists for
    session semantics the built-in ``session_window`` can't express —
    here each flushed session carries its event-time bounds AND a
    value-weighted mean only computable inside the session's state.

    Protocol note: completes the timer matrix for the vendored protobuf
    runtime — ``timeMode="EventTime"`` drives
    ``TimerRequest.getWatermark`` (the one surface the ProcessingTime
    operators never touch) against the JVM StateServer.

    Expects a STREAMING DataFrame with columns ``user_id`` (long),
    ``ts`` (timestamp, watermarked by the caller) and ``value``
    (double). Output: one row per closed session
    (user_id, session_start_ms, session_end_ms, cnt, mean_value). Each
    batch's values are summed as one pandas vector, which equals a
    row-by-row sum bit for bit only for integer-valued doubles.
    """
    if not _tws_available():  # pragma: no cover - gated by runtime
        raise NotImplementedError(
            "transformWithStateInPandas requires pyspark >= 4.0"
        )
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    _prepare_tws_session()

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start_ms", LongType()),
            StructField("session_end_ms", LongType()),
            StructField("cnt", LongType()),
            StructField("mean_value", DoubleType()),
        ]
    )

    class Sessions(StatefulProcessor):
        # r15 hot-path notes (guide §4.2/§4.5 applied to the StateServer
        # shim boundary — every state op is one synchronous socket
        # round-trip through the protobuf runtime):
        # - per-batch vectorized min/max/count/sum instead of the
        #   row-at-a-time Python loop (sums are integer-valued doubles
        #   ≪ 2^53, so the pandas sum is bit-identical to the row loop);
        # - the armed timer's expiry rides IN the value state, so
        #   re-arming is get→deleteTimer(prev)→registerTimer instead of
        #   a listTimers iterator sweep, and get() doubles as the
        #   exists() probe (None ⇔ absent) — 5-6 round-trips per key per
        #   batch down to 3-4. listTimers coverage for the protocol gate
        #   lives in inactivity_flush_per_key, which is unchanged.
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._sess = handle.getValueState(
                "sess",
                "start_ms long, end_ms long, cnt long, total double, "
                "timer_ms long",
            )

        def handleInputRows(self, key, rows, timerValues):
            # rows below the watermark were already dropped by Spark;
            # getCurrentWatermarkInMs() is the session-closing clock
            cur = self._sess.get()
            if cur is None:
                start, end, cnt, total, timer = None, None, 0, 0.0, None
            else:
                start, end, cnt, total, timer = cur
            for pdf in rows:
                if not len(pdf):
                    continue
                ts_ms = pdf["ts"].astype("int64") // 1_000_000
                lo, hi = int(ts_ms.min()), int(ts_ms.max())
                start = lo if start is None else min(start, lo)
                end = hi if end is None else max(end, hi)
                cnt += len(pdf)
                total += float(pdf["value"].sum())
            if cnt:
                new_timer = end + gap_ms
                if timer != new_timer:
                    if timer is not None:
                        self._handle.deleteTimer(timer)
                    self._handle.registerTimer(new_timer)
                self._sess.update((start, end, cnt, float(total), new_timer))
            return iter([])

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            cur = self._sess.get()
            if cur is not None:
                start, end, cnt, total, _timer = cur
                self._sess.clear()
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "session_start_ms": [start],
                        "session_end_ms": [end],
                        "cnt": [cnt],
                        "mean_value": [total / cnt],
                    }
                )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=Sessions(),
        outputStructType=out_schema,
        outputMode="Append",
        timeMode="EventTime",
    )


def rolling_total_with_ttl(events: DataFrame, ttl_ms: int = 30_000) -> DataFrame:
    """Per-key rolling (count, sum) in a TTL'd ``ValueState``: state the
    key hasn't refreshed within ``ttl_ms`` of processing time is expired
    by the store itself — the operator shape for decaying per-entity
    counters (rate limiting, freshness-bounded feature caches) where
    forgetting is a STORE property instead of timer bookkeeping
    (contrast ``inactivity_flush_per_key``, which needs explicit timers
    because it must EMIT on expiry; TTL forgets silently).

    Protocol note: exercises the StateMessage ``TTLConfig`` submessage
    (state-variable creation carries the duration), completing the
    vendored protobuf runtime's surface coverage against the JVM
    StateServer.

    Expects columns ``user_id`` (long) and ``value`` (double). Emits
    (user_id, cnt, total) per key per batch — totals restart from zero
    for keys whose state aged out between batches.
    """
    if not _tws_available():  # pragma: no cover - gated by runtime
        raise NotImplementedError(
            "transformWithStateInPandas requires pyspark >= 4.0"
        )
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    _prepare_tws_session()

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("cnt", LongType()),
            StructField("total", DoubleType()),
        ]
    )

    class Rolling(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            # schema-evolution hygiene: drop the pre-TTL variable name a
            # prior operator version persisted under (state variables
            # don't rename in place — the migration pattern is delete-
            # old + create-new). Also the one StateMessage call path
            # (StatefulProcessorCall.deleteIfExists) nothing else drives.
            handle.deleteIfExists("agg_v1")
            self._agg = handle.getValueState(
                "agg", "cnt long, total double", ttlDurationMs=ttl_ms
            )

        def handleInputRows(self, key, rows, timerValues):
            # get() doubles as the exists() probe (None ⇔ absent) — one
            # StateServer round-trip per key per batch instead of two
            # (r15, guide §4.5 at the shim boundary)
            cur = self._agg.get()
            cnt, total = cur if cur is not None else (0, 0.0)
            for pdf in rows:
                cnt += len(pdf)
                total += float(pdf["value"].sum())
            self._agg.update((cnt, float(total)))
            yield pd.DataFrame(
                {"user_id": [key[0]], "cnt": [cnt], "total": [total]}
            )

        def close(self) -> None:
            pass

    # TTL ages against the batch's processing-time clock — with
    # timeMode="None" there is no clock and state never expires
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=Rolling(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="ProcessingTime",
    )
