"""The SELECT result cache: a hit is served from the snapshot manifests
alone (no Spark plan, no job), and the cache never answers what the
plan-and-fetch path would not."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, settings
from hypothesis import strategies as hst
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    rule,
    run_state_machine_as_test,
)

from ranger_spark.engine import Engine
from ranger_spark.errors import RangerError


def _answer(engine: Engine, sql: str, database: str | None = None):
    """Columns and sorted rows, or the error a statement raised."""
    try:
        r = engine.execute(sql + ";", database=database)
    except RangerError as e:
        return ("error", str(e))
    except Exception as e:  # Spark's own analysis errors
        return ("error", type(e).__name__)
    return r.columns, sorted(r.rows, key=repr)


# ------------------------------------------------------------ model test
DB = "rcm"
TABLES = ("a", "b")
READS = (
    "SELECT count(*) AS n, sum(k) AS s, max(v) AS m FROM rcm.{t}",
    "SELECT * FROM rcm.{t}",
    "SELECT a.k, b.v FROM rcm.a a JOIN rcm.b b ON a.k = b.k",
)


class ResultCacheModel(RuleBasedStateMachine):
    """Writes, renames, re-creations and expiry on two tables, with each
    read answered twice by a caching engine (the second answer is
    usually a hit) and compared with a ``result_cache=False`` engine
    over the same warehouse. After every change the newest reads are
    asked again, so a result cached before it is tried after it."""

    RECHECK = 6  # newest distinct reads asked again after each change

    engine: Engine
    ref: Engine

    @initialize()
    def tables(self):
        self.engine._result_cache.clear()  # examples start alike
        self.engine.execute(f"CREATE DATABASE IF NOT EXISTS {DB};")
        self.keys = 0
        self.added = {t: 0 for t in TABLES}
        self.seen: list[tuple[str, str | None]] = []
        for t in TABLES:
            self.engine.execute(f"DROP TABLE IF EXISTS {DB}.{t};")
            self._create(t)

    def _create(self, t: str) -> None:
        self.engine.execute(f"CREATE TABLE {DB}.{t} (k int64, v int64);")
        self.added[t] = 0
        self.insert(t, 3)

    def _same(self, sql: str, database: str | None = None) -> None:
        self.ref._load_manifest()  # adopt the durable catalog
        want = _answer(self.ref, sql, database)
        for _ in range(2):
            assert _answer(self.engine, sql, database) == want, sql
        read = (sql, database)
        if read in self.seen:
            self.seen.remove(read)
        self.seen.append(read)

    def _changed(self) -> None:
        for read in self.seen[-self.RECHECK :]:
            self._same(*read)

    # ---------------------------------------------------------- writes
    @rule(t=hst.sampled_from(TABLES), n=hst.integers(1, 4))
    def insert(self, t, n):
        rows = []
        for _ in range(n):
            self.keys += 1
            rows.append(f"({self.keys % 7}, {self.keys})")
        self.engine.execute(
            f"INSERT INTO {DB}.{t} (k, v) VALUES {', '.join(rows)};"
        )
        self._changed()

    @rule(t=hst.sampled_from(TABLES), r=hst.integers(0, 2))
    def update(self, t, r):
        self.engine.execute(f"UPDATE {DB}.{t} SET v = v + 100 WHERE k % 3 = {r};")
        self._changed()

    @rule(t=hst.sampled_from(TABLES), r=hst.integers(0, 3))
    def delete(self, t, r):
        self.engine.execute(f"DELETE FROM {DB}.{t} WHERE k % 4 = {r};")
        self._changed()

    @rule(t=hst.sampled_from(TABLES))
    def add_column(self, t):
        if self.added[t] < 2:
            self.added[t] += 1
            self.engine.execute(
                f"ALTER TABLE {DB}.{t} ADD COLUMN c{self.added[t]} int64;"
            )
            self._changed()

    @rule(t=hst.sampled_from(TABLES))
    def rename_and_back(self, t):
        self.engine.execute(f"ALTER TABLE {DB}.{t} RENAME TO {DB}.{t}_moved;")
        self._changed()
        self._same(READS[0].format(t=f"{t}_moved"))
        self.engine.execute(f"ALTER TABLE {DB}.{t}_moved RENAME TO {DB}.{t};")
        self._changed()

    @rule(t=hst.sampled_from(TABLES))
    def drop_and_create(self, t):
        self.engine.execute(f"DROP TABLE {DB}.{t};")
        self._changed()
        self._create(t)
        self._changed()

    @rule(t=hst.sampled_from(TABLES))
    def optimize(self, t):
        self.engine.execute(f"OPTIMIZE {DB}.{t};")
        self._changed()

    @rule(t=hst.sampled_from(TABLES), keep=hst.integers(1, 3))
    def expire(self, t, keep):
        self.engine.execute(f"EXPIRE SNAPSHOTS {DB}.{t} KEEP {keep};")
        self._changed()

    # ----------------------------------------------------------- reads
    @rule(t=hst.sampled_from(TABLES), i=hst.integers(0, len(READS) - 1))
    def read(self, t, i):
        self._same(READS[i].format(t=t))

    @rule(t=hst.sampled_from(TABLES))
    def read_unqualified(self, t):
        self._same(f"SELECT count(*) AS n, sum(v) AS s FROM {t}", database=DB)

    @rule(t=hst.sampled_from(TABLES), v=hst.integers(1, 5))
    def read_version(self, t, v):
        self._same(
            f"SELECT count(*) AS n, sum(v) AS s FROM {DB}.{t} VERSION AS OF {v}"
        )

    @rule(t=hst.sampled_from(TABLES), v=hst.integers(0, 4))
    def read_changes(self, t, v):
        self._same(
            f"SELECT count(*) AS n, sum(v) AS s FROM {DB}.{t} "
            f"CHANGES SINCE VERSION {v}"
        )


def test_cached_answers_match_an_uncached_engine(spark, engine):
    ref = Engine(spark, result_cache=False)
    ResultCacheModel.engine = engine
    ResultCacheModel.ref = ref
    hits = engine._result_cache_hits
    try:
        run_state_machine_as_test(
            ResultCacheModel,
            settings=settings(
                max_examples=6,
                stateful_step_count=14,
                deadline=None,
                derandomize=True,
                database=None,
                suppress_health_check=list(HealthCheck),
            ),
        )
    finally:
        engine.execute(f"DROP DATABASE IF EXISTS {DB} CASCADE;")
    assert engine._result_cache_hits > hits  # the second answers did hit


# ------------------------------------------------------------ guards
@pytest.fixture
def rc_db(engine):
    engine.execute("CREATE DATABASE IF NOT EXISTS rcg;")
    engine.execute("DROP TABLE IF EXISTS rcg.t;")
    engine.execute("CREATE TABLE rcg.t (k int64, v string);")
    engine.execute("INSERT INTO rcg.t (k, v) VALUES (1, 'a'), (2, 'b');")
    engine.execute("INSERT INTO rcg.t (k, v) VALUES (3, 'c');")
    yield engine
    engine.execute("DROP DATABASE rcg CASCADE;")


def test_hit_plans_nothing_and_starts_no_job(rc_db, monkeypatch):
    """A hit runs no Spark parse, analysis or job, and a repeated
    time-travel read builds no temp view."""
    import pyspark.sql

    engine = rc_db
    tracker = engine.spark.sparkContext.statusTracker()
    sqls = [
        "SELECT count(*) AS n FROM rcg.t;",
        "SELECT k, v FROM rcg.t VERSION AS OF 2 ORDER BY k;",
        "SELECT count(*) AS n FROM rcg.t CHANGES SINCE VERSION 2;",
    ]
    misses = [engine.execute(q) for q in sqls]
    assert [r.result_cache for r in misses] == ["miss"] * 3
    assert all(tracker.getJobIdsForGroup(r.query_id) for r in misses)

    def refuse(*args, **kwargs):
        raise AssertionError("a cache hit reached Spark")

    monkeypatch.setattr(pyspark.sql.SparkSession, "sql", refuse)
    monkeypatch.setattr(pyspark.sql.DataFrame, "inputFiles", refuse)
    monkeypatch.setattr(Engine, "_time_travel_view", refuse)
    monkeypatch.setattr(Engine, "_changes_view", refuse)
    ungrouped = tracker.getJobIdsForGroup(None)
    for q, miss in zip(sqls, misses):
        hit = engine.execute(q)
        assert hit.result_cache == "hit"
        assert hit.rows == miss.rows and hit.columns == miss.columns
        assert tracker.getJobIdsForGroup(hit.query_id) == []
    assert tracker.getJobIdsForGroup(None) == ungrouped


def test_excluded_shapes_never_hit(rc_db, tmp_path):
    """Views, system tables, non-deterministic SQL and reads of a path
    are never kept, however often they run."""
    engine = rc_db
    path = str(tmp_path / "x.parquet")
    engine.spark.range(5).write.parquet(path)
    engine.execute("CREATE VIEW rcg.tv AS SELECT k FROM rcg.t;")
    sqls = [
        "SELECT count(*) AS n FROM rcg.tv;",
        "SELECT count(*) AS n FROM system.tables;",
        "SELECT k, rand() AS r FROM rcg.t;",
        f"SELECT count(*) AS n FROM parquet.`{path}`;",
        f"SELECT count(*) AS n FROM rcg.t JOIN parquet.`{path}` p ON p.id = t.k;",
    ]
    hits = engine._result_cache_hits
    try:
        for q in sqls:
            for _ in range(2):
                assert engine.execute(q).result_cache is None, q
    finally:
        engine.execute("DROP VIEW rcg.tv;")
    assert engine._result_cache_hits == hits
    assert not any(k[0] + ";" in sqls for k in engine._result_cache)


def test_recreated_table_at_the_same_version_misses(rc_db):
    """DROP + CREATE under the same name reuses the location and counts
    versions from 1 again; the commit time tells the two apart."""
    engine = rc_db
    q = "SELECT count(*) AS n FROM rcg.t;"
    assert engine.execute(q).rows == [(3,)]
    assert engine.execute(q).result_cache == "hit"
    engine.execute("DROP TABLE rcg.t;")
    engine.execute("CREATE TABLE rcg.t (k int64, v string);")
    engine.execute("INSERT INTO rcg.t (k, v) VALUES (1, 'a');")
    engine.execute("INSERT INTO rcg.t (k, v) VALUES (2, 'b'), (3, 'c'), (4, 'd');")
    r = engine.execute(q)
    assert (r.rows, r.result_cache) == ([(4,)], "miss")


def test_expired_pinned_version_is_not_served(rc_db):
    engine = rc_db
    q = "SELECT count(*) AS n FROM rcg.t VERSION AS OF 2;"
    assert engine.execute(q).rows == [(2,)]
    assert engine.execute(q).result_cache == "hit"
    engine.execute("INSERT INTO rcg.t (k, v) VALUES (4, 'd');")
    assert engine.execute(q).result_cache == "hit"  # pinned: still v2
    engine.execute("EXPIRE SNAPSHOTS rcg.t KEEP 1;")
    with pytest.raises(RangerError, match="expired"):
        engine.execute(q)


def test_empty_joined_table_is_a_dependency(rc_db):
    """A table the plan reads no file of still invalidates the result."""
    engine = rc_db
    engine.execute("CREATE TABLE rcg.e (k int64);")
    q = "SELECT count(*) AS n FROM rcg.t JOIN rcg.e ON t.k = e.k;"
    assert engine.execute(q).rows == [(0,)]
    assert engine.execute(q).result_cache == "hit"
    engine.execute("INSERT INTO rcg.e (k) VALUES (1), (3);")
    r = engine.execute(q)
    assert (r.rows, r.result_cache) == ([(2,)], "miss")


def test_tag_move_is_a_dependency(rc_db):
    engine = rc_db
    engine.execute("ALTER TABLE rcg.t CREATE TAG gold;")
    q = "SELECT count(*) AS n FROM rcg.t VERSION AS OF 'gold';"
    assert engine.execute(q).rows == [(3,)]
    assert engine.execute(q).result_cache == "hit"
    engine.execute("ALTER TABLE rcg.t DROP TAG gold;")
    engine.execute("ALTER TABLE rcg.t CREATE TAG gold AS OF VERSION 2;")
    r = engine.execute(q)
    assert (r.rows, r.result_cache) == ([(2,)], "miss")
