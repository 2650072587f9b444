"""Runtime scaffolding for bounded streaming drains: checkpoint
placement and state-store partitioning.

Both knobs exist because Structured Streaming's per-micro-batch floor is
NOT the operators — the r15 per-batch profile (durationMs/stateOperators
via tools/profile_streaming.py) decomposed the drain walls into:

- **state-store commit** (`commitTimeMs`): every state partition writes
  its delta/snapshot plus CRC to the checkpoint location and fsyncs,
  every micro-batch. With temp checkpoints defaulting to java.io.tmpdir
  (/tmp — disk-backed ext4 here) that is an ext4-journal fsync per
  partition per batch: measured 0.5–4.5 s *per partition-commit* on
  KB-scale state (stream_stream_join commit sum 376 s over 64
  partition-commits; tws rolling-TTL 437 s over 96).
- **per-partition fixed cost**: each stateful operator schedules one
  task and opens/commits one store instance per `spark.sql.shuffle.
  partitions` at query start — a number FROZEN into the checkpoint for
  the life of the query (AQE never coalesces stateful exchanges). The
  session default (local core count) means 32 store instances for
  drains whose whole state is a few thousand keys: 1-row sentinel
  micro-batches measured 2–9 s each, all scheduling + store open/commit.

The fixes, both parameterised (conf first, env fallback, derived
default) so cluster deployments retune without code changes:

- ``checkpoint_dir()`` puts per-run checkpoints on tmpfs when available
  (cluster analog: the job's fast local tier / a DFS with cheap
  renames — a deployment knob, not a plan change). Dirs are fresh per
  run — identical semantics to Spark's own temp checkpoints; nothing is
  reused across runs.
- ``state_partitions()`` sizes the stateful shuffle to the INPUT VOLUME
  (~one store per 64 MB of source, floor 4) instead of the core count:
  state-store count should track state size. At 100 TB the same rule
  yields thousands of partitions; locally it stops 32 stores being
  opened, committed and fsynced per batch to hold 2 MB of events.

``drain_scope`` bundles them for the bounded availableNow drains: set
partitions, yield a fresh checkpoint dir, restore the session conf and
remove the checkpoint tree afterwards.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile

_PARTITIONS_CONF = "spark.ranger.stream.statePartitions"
_PARTITIONS_ENV = "RANGER_STREAM_STATE_PARTITIONS"
_BYTES_PER_PARTITION = 64 << 20


def checkpoint_dir(prefix: str = "ranger_ckpt_") -> str:
    """A fresh per-run streaming checkpoint dir on the fastest local
    tier (override base with $RANGER_STREAM_CKPT_BASE)."""
    base = os.environ.get("RANGER_STREAM_CKPT_BASE")
    if not base:
        base = "/dev/shm" if os.access("/dev/shm", os.W_OK) else None
    return tempfile.mkdtemp(prefix=prefix, dir=base)


def state_partitions(
    spark, source_bytes: int | None = None, floor: int = 4
) -> int:
    """Stateful-operator shuffle partition count for a streaming query.

    Priority: session conf ``spark.ranger.stream.statePartitions`` >
    env ``RANGER_STREAM_STATE_PARTITIONS`` > derived: one partition per
    64 MB of source input, clamped to [floor, 32 × defaultParallelism]
    (the cap only matters at cluster scale; the floor keeps local
    drains parallel enough to overlap store commits).

    ``floor`` defaults to 4; operators whose per-key work crosses the
    Python boundary (transformWithStateInPandas / applyInPandasWithState
    — one worker per state partition) pass 8: the r15 sweep measured
    the JVM-state drains flat from 4 up but the Python-state drains
    U-shaped (histogram warm 15 s @ 4, 6-8 s @ 8, 5.6-6.6 s @ 16,
    17 s @ 32; rolling-TTL 6.8 @ 8 vs 10.8 @ 32) — partitions are the
    Python parallelism, but each still costs a store commit per batch."""
    conf = spark.conf.get(_PARTITIONS_CONF, "")
    if conf:
        return max(1, int(conf))
    env = os.environ.get(_PARTITIONS_ENV, "")
    if env:
        return max(1, int(env))
    if source_bytes is None:
        source_bytes = 0
    derived = max(floor, -(-source_bytes // _BYTES_PER_PARTITION))
    return min(derived, 32 * spark.sparkContext.defaultParallelism)


def source_size(path: str) -> int:
    """Bytes of a source file or directory (driver-side stat only)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            with contextlib.suppress(OSError):
                total += os.path.getsize(os.path.join(root, f))
    return total


@contextlib.contextmanager
def drain_scope(
    spark,
    source_bytes: int | None = None,
    name: str = "drain",
    floor: int = 4,
):
    """Scope a bounded drain: state-sized shuffle partitions + a fresh
    tmpfs checkpoint dir, both undone afterwards. Yields the checkpoint
    dir to pass as the query's ``checkpointLocation``.

    The partition count is set on the session-wide
    ``spark.sql.shuffle.partitions`` for the whole drain, so every job
    the session plans meanwhile runs at the small state-sized count —
    ``foreachBatch`` work such as a MERGE included, on purpose. The
    scope must not run alongside other work on the same session: other
    threads would plan with the drain's count, and two overlapping
    scopes would restore each other's value."""
    ckpt = checkpoint_dir(f"ranger_{name}_")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(state_partitions(spark, source_bytes, floor)),
    )
    try:
        yield ckpt
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(ckpt, ignore_errors=True)
