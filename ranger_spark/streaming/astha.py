"""Astha — the reference's CDC scheduler (server/astha/: SQLite
triggers → __cdc_log → poll → event store → scheduler → subscribers),
re-expressed over THIS engine's change log: the snapshot-manifest chain
(sources/snapshots.VersionedTable) that every committed write already
appends to. No triggers needed — the commit log IS the CDC log.

Shapes mirror the reference:

- ``Event`` (types.go:9-16: id, table, operation, data, timestamps)
- ``Subscriber`` protocol (types.go:19-28: on_event / on_health /
  on_refresh)
- ``ComponentInfo`` (types.go:39-45: name, version, status, last_seen,
  subscriptions)
- ``MemoryEventStore`` (event_store.go: store / get / mark-processed /
  cleanup / per-table counts)
- ``Scheduler`` (scheduler.go: registration, per-table fan-out,
  component health transitions on delivery failure, stats)
- ``Astha`` facade (astha.go: Config, Start/Stop, register/unregister,
  GetSchedulerStats, GetTableSubscribers, GetMonitoredTables)

Delivery is at-least-once: an event is marked processed only after
every subscriber's ``on_event`` returned; a failing subscriber is moved
to status 'error' (scheduler.go:275-330) and the event stays queued for
the next pass.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from ranger_spark.sources.snapshots import VersionedTable


@dataclass
class Event:
    id: int
    table: str
    operation: str  # INSERT, UPDATE, DELETE (commit operations map below)
    data: Any
    timestamp: float
    created_at: float


@dataclass
class ComponentInfo:
    name: str
    version: str
    subscriptions: list[str]
    status: str = "active"
    last_seen: float = 0.0


class MemoryEventStore:
    """event_store.go MemoryEventStore: per-table FIFO with processed
    marks and cleanup."""

    def __init__(self):
        self._events: dict[str, list[Event]] = {}
        self._processed: set[int] = set()
        self._mu = threading.Lock()
        self._next_id = 1

    def store_event(self, table: str, operation: str, data: Any) -> Event:
        with self._mu:
            ev = Event(
                id=self._next_id,
                table=table,
                operation=operation,
                data=data,
                timestamp=time.time(),
                created_at=time.time(),
            )
            self._next_id += 1
            self._events.setdefault(table, []).append(ev)
            return ev

    def get_events(self, table: str, limit: int = 256) -> list[Event]:
        with self._mu:
            return [
                e
                for e in self._events.get(table, [])
                if e.id not in self._processed
            ][:limit]

    def mark_event_processed(self, event_id: int) -> None:
        with self._mu:
            self._processed.add(event_id)

    def cleanup_processed_events(self) -> int:
        """Immediate cleanup of processed events (the reference's design
        point: processed CDC rows are deleted, not archived)."""
        with self._mu:
            removed = 0
            for table, evs in self._events.items():
                keep = [e for e in evs if e.id not in self._processed]
                removed += len(evs) - len(keep)
                # Drop the removed ids from the processed set too — ids are
                # monotonically assigned and never reused, so once the event
                # is deleted its id can never reappear; keeping it would
                # leak the set without bound in a long-running loop.
                for e in evs:
                    if e.id in self._processed:
                        self._processed.discard(e.id)
                self._events[table] = keep
            return removed

    def get_event_count(self) -> dict[str, int]:
        with self._mu:
            return {
                t: sum(1 for e in evs if e.id not in self._processed)
                for t, evs in self._events.items()
            }

    def get_processed_count(self) -> int:
        with self._mu:
            return len(self._processed)


# snapshot-manifest operations → CDC operations (cdc_consumer.go maps
# sqlite ops; here the commit log's operation field is the source)
_OP_MAP = {
    "append": "INSERT",
    "create": "INSERT",
    "replace": "UPDATE",
    "update": "UPDATE",
    "merge": "UPDATE",
    "delete": "DELETE",
    "expire": "DELETE",
}


class CDCConsumer:
    """cdc_consumer.go over the engine's manifest chain: each poll diffs
    every monitored table's current snapshot version against the last
    version seen and emits one event per new commit, carrying the
    commit's manifest (added files, operation, version) as Event.data."""

    def __init__(self, engine, store: MemoryEventStore):
        self.engine = engine
        self.store = store
        self._last_seen: dict[str, int] = {}

    def _durable_tables(self) -> dict:
        """The manifest as persisted by the catalog store — read fresh
        each poll so commits from OTHER engines/processes sharing the
        warehouse are seen (the reference's trigger-based CDC likewise
        watches the shared SQLite registry, not one process's memory).
        Read-only: the engine's in-memory ``_manifest`` is not touched
        here — adopting foreign state is the schema-cache subscriber's
        job, under the statement lock."""
        try:
            return self.engine.catalog_store.load()["tables"]
        except Exception:  # store unreadable mid-write → retry next poll
            return dict(self.engine._manifest["tables"])

    def monitored_tables(self) -> list[str]:
        return sorted(self._durable_tables())

    def poll_once(self) -> int:
        """One CDC pass; returns the number of events produced."""
        produced = 0
        for name, entry in list(self._durable_tables().items()):
            if not entry.get("versioned"):
                continue
            vt = VersionedTable(entry["location"])
            cur = vt.current_version()
            # tables first seen mid-flight replay from v1 (their CREATE
            # is itself a change this consumer should surface)
            last = self._last_seen.get(name, 0)
            for v in range(last + 1, cur + 1):
                m = vt._load(v)
                op = _OP_MAP.get(str(m.get("operation", "")).lower(), "UPDATE")
                self.store.store_event(name, op, m)
                produced += 1
            self._last_seen[name] = cur
        return produced

    def start_from_now(self) -> None:
        """Begin at the current head — existing history is not replayed
        (the reference's trigger-based log also only sees new writes)."""
        for name, entry in self._durable_tables().items():
            if entry.get("versioned"):
                self._last_seen[name] = VersionedTable(
                    entry["location"]
                ).current_version()


class Scheduler:
    """scheduler.go: registration + per-table fan-out + health."""

    def __init__(self, store: MemoryEventStore, consumer: CDCConsumer):
        self.store = store
        self.consumer = consumer
        self._components: dict[str, ComponentInfo] = {}
        self._instances: dict[str, Any] = {}
        self._mu = threading.Lock()
        self.stats = {"distributed": 0, "failed": 0, "cleaned": 0}

    def register_component(self, info: ComponentInfo, instance: Any) -> None:
        with self._mu:
            info.last_seen = time.time()
            self._components[info.name] = info
            self._instances[info.name] = instance

    def unregister_component(self, name: str) -> None:
        with self._mu:
            self._components.pop(name, None)
            self._instances.pop(name, None)

    def table_subscribers(self, table: str) -> list[str]:
        # "*" subscribes to every monitored table (the schema cache's
        # shape — it must track tables that did not exist when it
        # registered)
        with self._mu:
            return sorted(
                n
                for n, c in self._components.items()
                if ("*" in c.subscriptions or table in c.subscriptions)
                and c.status == "active"
            )

    def update_component_health(self, name: str, status: str) -> None:
        with self._mu:
            if name in self._components:
                self._components[name].status = status
                self._components[name].last_seen = time.time()

    def distribute_events(self) -> int:
        """One distribution pass: deliver each pending event to every
        active subscriber of its table; mark processed only when ALL
        deliveries succeeded (at-least-once), flip a failing component
        to 'error' (scheduler.go:275-330)."""
        delivered = 0
        for table in list(self.store.get_event_count()):
            subs = self.table_subscribers(table)
            for ev in self.store.get_events(table):
                ok = True
                for name in subs:
                    inst = self._instances.get(name)
                    try:
                        inst.on_event(ev)
                        self.update_component_health(name, "active")
                    except Exception:
                        self.update_component_health(name, "error")
                        self.stats["failed"] += 1
                        ok = False
                if ok:
                    self.store.mark_event_processed(ev.id)
                    delivered += 1
        self.stats["distributed"] += delivered
        self.stats["cleaned"] += self.store.cleanup_processed_events()
        return delivered

    def component_info(self, name: str) -> ComponentInfo | None:
        with self._mu:
            return self._components.get(name)

    def all_components(self) -> list[ComponentInfo]:
        with self._mu:
            return list(self._components.values())


@dataclass
class Config:
    """astha.go Config (README: BatchSize=256, PollInterval=100 ms)."""

    batch_size: int = 256
    poll_interval_s: float = 0.1


class Astha:
    """astha.go facade: lifecycle + registration + stats."""

    def __init__(self, engine, config: Config | None = None):
        self.config = config or Config()
        self.store = MemoryEventStore()
        self.consumer = CDCConsumer(engine, self.store)
        self.scheduler = Scheduler(self.store, self.consumer)
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def start(self) -> "Astha":
        self.consumer.start_from_now()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread:
            self._thread.join(timeout=5)
            self._thread = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            try:
                self.consumer.poll_once()
                self.scheduler.distribute_events()
            except Exception:
                pass  # the loop must survive subscriber/engine hiccups
            self._stop.wait(self.config.poll_interval_s)

    # one synchronous pass, for deterministic tests and batch callers
    def pump(self) -> int:
        self.consumer.poll_once()
        return self.scheduler.distribute_events()

    def register_component(
        self,
        name: str,
        version: str,
        subscriptions: list[str],
        on_event: Callable[[Event], None],
    ) -> None:
        handler = on_event  # the def below shadows the name in class scope

        class _Sub:
            def on_event(self, ev):
                handler(ev)

            def on_health(self):
                return None

            def on_refresh(self):
                return None

        self.scheduler.register_component(
            ComponentInfo(name=name, version=version, subscriptions=subscriptions),
            _Sub(),
        )

    def unregister_component(self, name: str) -> None:
        self.scheduler.unregister_component(name)

    def get_scheduler_stats(self) -> dict:
        return {
            **self.scheduler.stats,
            "pending": self.store.get_event_count(),
            "processed": self.store.get_processed_count(),
        }

    def get_table_subscribers(self, table: str) -> list[str]:
        return self.scheduler.table_subscribers(table)

    def get_monitored_tables(self) -> list[str]:
        return self.consumer.monitored_tables()


def register_schema_cache(astha: "Astha", engine) -> None:
    """Wire the engine's per-session schema/plan caches into Astha — the
    reference's schema cache is an Astha subscriber, not an ad-hoc
    refresh at each write site (server/storage/schema/
    astha_subscriber.go:58-166). On every CDC event the engine re-reads
    the durable manifest and re-points its catalog registration at the
    table's current snapshot, so a commit from ANY writer (another
    protocol server, another engine over the same warehouse, a
    storage-level ingest job) invalidates this session's cached plans
    event-driven — zero manual refresh. The engine's own commits are
    skipped: it registered their snapshot as it committed them."""

    def on_event(ev) -> None:
        version = ev.data.get("version") if isinstance(ev.data, dict) else None
        if not engine.is_own_commit(ev.table, version):
            engine.refresh_table_registration(ev.table)

    astha.register_component("schema-cache", "1.0", ["*"], on_event)


def register_mview_maintenance(astha: "Astha", engine) -> None:
    """Event-driven materialized-view maintenance: every MV whose source
    table committed becomes a REFRESH on the spot — the reference's Astha
    component model (subscribe → react per table event) applied to MV
    upkeep. Appends take the O(delta) incremental path; rewrites fall
    back to a full recompute inside the same statement surface. MV-over-
    MV chains cascade naturally (the refresh commit is itself an event).
    Failures never poison the bus: the event is still acked, and the
    next source commit retries the refresh (REFRESH is idempotent —
    state is keyed by the source's snapshot version)."""

    def on_event(ev) -> None:
        for name, meta in list(engine._manifest.get("mviews", {}).items()):
            if meta.get("src") == ev.table:
                try:
                    engine.execute(f"REFRESH MATERIALIZED VIEW {name};")
                except Exception:  # next commit retries; bus stays healthy
                    pass

    astha.register_component("mview-maintenance", "1.0", ["*"], on_event)
