"""Astha CDC scheduler over the snapshot-manifest chain — the
reference's server/astha/ (event store, per-table fan-out,
at-least-once delivery, component health transitions), driven by real
engine commits instead of SQLite triggers."""

from __future__ import annotations

import uuid

from ranger_spark.sources.snapshots import VersionedTable
from ranger_spark.streaming.astha import (
    Astha,
    Config,
    MemoryEventStore,
    register_schema_cache,
)


def test_event_store_roundtrip():
    st = MemoryEventStore()
    e1 = st.store_event("db.t", "INSERT", {"v": 1})
    st.store_event("db.t", "UPDATE", {"v": 2})
    st.store_event("db.u", "DELETE", {"v": 3})
    assert st.get_event_count() == {"db.t": 2, "db.u": 1}
    st.mark_event_processed(e1.id)
    assert [e.operation for e in st.get_events("db.t")] == ["UPDATE"]
    assert st.cleanup_processed_events() == 1
    # cleanup drops the event AND its id from the processed set (ids are
    # monotone, never reused — keeping them would leak memory without
    # bound in a long-running loop; ADVICE r6)
    assert st.get_processed_count() == 0


def test_processed_set_does_not_leak():
    st = MemoryEventStore()
    for i in range(100):
        e = st.store_event("db.t", "INSERT", {"v": i})
        st.mark_event_processed(e.id)
        st.cleanup_processed_events()
    assert st.get_event_count() == {"db.t": 0}
    assert st.get_processed_count() == 0


def test_cdc_events_from_engine_commits(engine):
    engine.execute("CREATE DATABASE IF NOT EXISTS ast;")
    engine.execute("DROP TABLE IF EXISTS ast.t;")
    engine.execute("CREATE TABLE ast.t (id int32);")
    a = Astha(engine, Config(poll_interval_s=0.05))
    a.consumer.start_from_now()  # synchronous pump; no background thread
    got: list = []
    failing_calls: list = []

    a.register_component(
        "iceberg_updater", "1.0.0", [engine._qualify("ast.t")],
        on_event=got.append,
    )
    assert a.get_table_subscribers(engine._qualify("ast.t")) == [
        "iceberg_updater"
    ]
    assert engine._qualify("ast.t") in a.get_monitored_tables()
    # two commits → two events, in commit order, with manifest payloads
    engine.execute("INSERT INTO ast.t (id) VALUES (1);")
    engine.execute("UPDATE ast.t SET id = 2 WHERE id = 1;")
    delivered = a.pump()
    assert delivered == 2
    assert [e.operation for e in got] == ["INSERT", "UPDATE"]
    assert all(e.table == engine._qualify("ast.t") for e in got)
    assert got[0].data["operation"] == "append"
    assert got[1].data["operation"] in ("update", "replace")
    # at-least-once: a failing subscriber keeps the event queued and
    # flips to 'error' (scheduler.go:275-330); the event re-delivers
    # after the component recovers
    def flaky(ev):
        failing_calls.append(ev)
        if len(failing_calls) == 1:
            raise RuntimeError("subscriber down")

    a.register_component(
        "flaky", "0.1", [engine._qualify("ast.t")], on_event=flaky
    )
    engine.execute("INSERT INTO ast.t (id) VALUES (3);")
    assert a.pump() == 0  # delivery failed → not marked processed
    assert a.scheduler.component_info("flaky").status == "error"
    a.scheduler.update_component_health("flaky", "active")
    assert a.pump() == 1  # redelivered
    assert a.scheduler.component_info("flaky").status == "active"
    stats = a.get_scheduler_stats()
    assert stats["distributed"] == 3 and stats["failed"] == 1
    a.unregister_component("flaky")
    assert a.get_table_subscribers(engine._qualify("ast.t")) == [
        "iceberg_updater"
    ]
    engine.spark.sql("DROP DATABASE ast CASCADE")


def test_astha_background_loop(engine):
    engine.execute("CREATE DATABASE IF NOT EXISTS ast2;")
    engine.execute("DROP TABLE IF EXISTS ast2.t;")
    engine.execute("CREATE TABLE ast2.t (id int32);")
    import threading

    seen = threading.Event()
    a = Astha(engine, Config(poll_interval_s=0.05)).start()
    try:
        a.register_component(
            "watcher", "1.0", [engine._qualify("ast2.t")],
            on_event=lambda ev: seen.set(),
        )
        engine.execute("INSERT INTO ast2.t (id) VALUES (9);")
        assert seen.wait(timeout=10)
    finally:
        a.stop()
        engine.spark.sql("DROP DATABASE ast2 CASCADE")


def test_astha_incremental_dedup_subscriber(engine, spark):
    """The full CDC-driven ingest-dedup shape: an Astha subscriber
    receives each commit event, reads ONLY the commit's added files
    (Event.data carries the snapshot manifest), and probes the persisted
    MinHash signature store — O(delta) end-to-end, the base corpus is
    never rescanned (dedup.py build_minhash_store's design note made
    executable)."""
    from ranger_spark.operators.dedup import (
        build_minhash_store,
        incremental_minhash_dedup,
    )
    from ranger_spark.streaming.astha import Astha, Config

    engine.execute("CREATE DATABASE IF NOT EXISTS ing;")
    engine.execute("DROP TABLE IF EXISTS ing.docs;")
    engine.execute("CREATE TABLE ing.docs (doc_id int64, text string);")
    engine.execute(
        "INSERT INTO ing.docs (doc_id, text) VALUES "
        "(1, 'the quick brown fox jumps over the lazy dog'), "
        "(2, 'completely unrelated text about spark planning');"
    )
    store = {
        # persist the store AS OF build time (production writes these to
        # parquet); a lazy frame over the live table would re-scan the
        # corpus after every ingest and see the delta as "stored"
        k: v.localCheckpoint()
        for k, v in build_minhash_store(
            spark.table(engine._qualify("ing.docs")), "doc_id", "text"
        ).items()
    }
    found: list = []
    a = Astha(engine, Config(poll_interval_s=0.05))
    a.consumer.start_from_now()

    def on_commit(ev):
        added = ev.data.get("added_files") or []
        if not added:
            return
        delta = spark.read.parquet(*added)  # ONLY the commit's new files
        pairs = incremental_minhash_dedup(store, delta, "doc_id", "text")
        found.extend(
            (r.id_a, r.id_b, round(r.jaccard, 2)) for r in pairs.collect()
        )

    a.register_component(
        "dedup_subscriber", "1.0", [engine._qualify("ing.docs")], on_commit
    )
    # a near-dup of doc 1 and a fresh doc arrive in one ingest commit
    engine.execute(
        "INSERT INTO ing.docs (doc_id, text) VALUES "
        "(10, 'the quick brown fox jumps over the lazy cat'), "
        "(11, 'nothing like anything stored before at all');"
    )
    assert a.pump() == 1
    assert any(ia == 1 and ib == 10 for ia, ib, _ in found), found
    assert not any(11 in (ia, ib) for ia, ib, _ in found)
    engine.spark.sql("DROP DATABASE ing CASCADE")


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted by a job group of its own."""
    sc = spark.sparkContext
    group = f"astha-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group, True)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_schema_cache_skips_own_commits(engine, spark):
    """The schema-cache subscriber reloads the catalog and runs DESC
    FORMATTED for a commit; for this engine's own INSERT it does nothing,
    so delivering that event runs no Spark job. A commit it did not make
    is still refreshed."""
    engine.execute("CREATE DATABASE IF NOT EXISTS asown;")
    engine.execute("DROP TABLE IF EXISTS asown.t;")
    engine.execute("CREATE TABLE asown.t (id int32, name string);")
    a = Astha(engine, Config(poll_interval_s=0.05))
    a.consumer.start_from_now()
    register_schema_cache(a, engine)
    refreshed = []
    real = engine.refresh_table_registration
    engine.refresh_table_registration = lambda n: refreshed.append(n) or real(n)
    try:
        engine.execute("INSERT INTO asown.t (id, name) VALUES (1, 'a');")
        n = []
        assert _jobs(spark, lambda: n.append(a.pump())) == 0
        assert n == [1] and refreshed == []
        # a commit from elsewhere (same table, no engine call) is refreshed
        entry = engine.catalog_store.load()["tables"]["asown.t"]
        vt = VersionedTable(entry["location"])
        vt.commit(files=None, data_dir=vt.snapshot_dir(), operation="append",
                  added=[])
        assert a.pump() == 1 and refreshed == ["asown.t"]
    finally:
        del engine.refresh_table_registration
        engine.execute("DROP DATABASE asown CASCADE;")
