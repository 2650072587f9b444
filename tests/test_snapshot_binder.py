"""One binder for snapshot relations (``Engine.read_frame``): ``VERSION AS
OF``, ``CHANGES SINCE VERSION`` and the materialized-view pins read through
one reader wherever a query reaches Spark — reads, CTAS, INSERT … SELECT,
MERGE … USING and materialized views — keep a partitioned table's
partition values in their declared types, and leave no temp view behind."""

from __future__ import annotations

import ast
import pathlib
import uuid

import pytest

from ranger_spark.errors import RangerError

ENGINE = pathlib.Path(__file__).resolve().parents[1] / "ranger_spark" / "engine.py"


@pytest.fixture()
def bdb(engine):
    db = "bind_" + uuid.uuid4().hex[:6]
    engine.execute(f"CREATE DATABASE {db};")
    engine.execute(f"USE {db};")
    yield db
    engine.spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def _twins(engine):
    """``pt``, partitioned by a string column, and ``plain``, its
    unpartitioned CTAS copy, given the same writes so both have the same
    versions: v2 the first rows (one a zero-padded number), v3 an append,
    v4 a copy-on-write UPDATE (a second snapshot dir), v5 an append."""
    engine.execute("CREATE TABLE pt (id int32, p string) PARTITION BY (p);")
    engine.execute("INSERT INTO pt (id, p) VALUES (1, 'a'), (2, '007');")
    engine.execute("CREATE TABLE plain AS SELECT * FROM pt;")
    for t in ("pt", "plain"):
        engine.execute(f"INSERT INTO {t} (id, p) VALUES (3, 'b');")
        engine.execute(f"UPDATE {t} SET id = 20 WHERE id = 2;")
        engine.execute(f"INSERT INTO {t} (id, p) VALUES (4, 'b');")


def _result(engine, sql: str):
    r = engine.execute(sql)
    return r.columns, [f.dataType for f in r.schema.fields], r.rows


def _same(engine, sql: str):
    """``sql`` over ``pt`` and over ``plain``: the same columns, types and
    rows; returns the rows."""
    on_pt = _result(engine, sql.format(t="pt"))
    assert on_pt == _result(engine, sql.format(t="plain")), sql
    return on_pt[2]


def _temp_views(engine) -> set[str]:
    return {t.name for t in engine.spark.catalog.listTables() if t.isTemporary}


def test_snapshot_reads_of_a_partitioned_table_match_a_plain_copy(engine, bdb):
    _twins(engine)
    assert _same(engine, "SELECT * FROM {t} VERSION AS OF 2 ORDER BY id;") == [
        (1, "a"), (2, "007"),
    ]
    assert _same(engine, "SELECT * FROM {t} VERSION AS OF 4 ORDER BY id;") == [
        (1, "a"), (3, "b"), (20, "007"),
    ]
    # v3..v5 span the pre-UPDATE dir (v3) and the rewritten one (v4, v5)
    assert _same(
        engine, "SELECT * FROM {t} CHANGES SINCE VERSION 2 ORDER BY id, p;"
    ) == [(1, "a"), (3, "b"), (3, "b"), (4, "b"), (20, "007")]
    assert _same(
        engine,
        "SELECT p, COUNT(*) AS n FROM {t} CHANGES SINCE VERSION 4 "
        "GROUP BY p ORDER BY p;",
    ) == [("b", 1)]
    assert _same(
        engine,
        "SELECT p, SUM(id) AS s FROM {t} VERSION AS OF 3 WHERE p <> 'b' "
        "GROUP BY p ORDER BY p;",
    ) == [("007", 2), ("a", 1)]


def test_mv_on_a_partitioned_table_matches_a_plain_copy(engine, bdb):
    _twins(engine)
    for t in ("pt", "plain"):
        r = engine.execute(
            f"CREATE MATERIALIZED VIEW mv_{t} AS "
            f"SELECT p, SUM(id) AS s FROM {t} GROUP BY p;"
        )
        assert "incremental-capable" in r.message
    sel = "SELECT * FROM mv_{t} ORDER BY p;"
    assert _same(engine, sel) == [("007", 20), ("a", 1), ("b", 7)]
    for t in ("pt", "plain"):
        engine.execute(f"INSERT INTO {t} (id, p) VALUES (10, 'a'), (5, '007');")
        r = engine.execute(f"REFRESH MATERIALIZED VIEW mv_{t};")
        assert "incrementally" in r.message, r.message
    assert _same(engine, sel) == [("007", 25), ("a", 11), ("b", 7)]
    for t in ("pt", "plain"):
        engine.execute(f"DELETE FROM {t} WHERE id = 3;")
        r = engine.execute(f"REFRESH MATERIALIZED VIEW mv_{t};")
        assert "(full)" in r.message, r.message
    assert _same(engine, sel) == [("007", 25), ("a", 11), ("b", 4)]


def test_writes_read_snapshot_relations(engine, bdb):
    _twins(engine)
    engine.execute("CREATE TABLE c AS SELECT * FROM pt VERSION AS OF 2;")
    engine.execute("CREATE TABLE d AS SELECT * FROM pt CHANGES SINCE VERSION 4;")
    assert engine.execute("SELECT * FROM c ORDER BY id;").rows == [
        (1, "a"), (2, "007"),
    ]
    assert engine.execute("SELECT * FROM d;").rows == [(4, "b")]

    engine.execute("INSERT INTO c SELECT * FROM pt CHANGES SINCE VERSION 4;")
    engine.execute(
        "INSERT INTO d (p, id) SELECT p, id FROM pt VERSION AS OF 3 "
        "WHERE id = 3;"
    )
    assert engine.execute("SELECT * FROM c ORDER BY id;").rows == [
        (1, "a"), (2, "007"), (4, "b"),
    ]
    assert engine.execute("SELECT * FROM d ORDER BY id;").rows == [
        (3, "b"), (4, "b"),
    ]

    r = engine.execute(
        "MERGE INTO c t USING (SELECT * FROM pt VERSION AS OF 5) s "
        "ON t.id = s.id WHEN NOT MATCHED THEN INSERT *;"
    )
    assert "2 inserted" in r.message, r.message
    engine.execute(
        "MERGE INTO d t USING (SELECT * FROM plain CHANGES SINCE VERSION 4) s "
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET p = 'x';"
    )
    assert engine.execute("SELECT * FROM c ORDER BY id;").rows == [
        (1, "a"), (2, "007"), (3, "b"), (4, "b"), (20, "007"),
    ]
    assert engine.execute("SELECT * FROM d ORDER BY id;").rows == [
        (3, "b"), (4, "x"),
    ]

    engine.execute(
        "CREATE MATERIALIZED VIEW m1 AS "
        "SELECT p, COUNT(*) AS n FROM pt VERSION AS OF 2 GROUP BY p;"
    )
    engine.execute(
        "CREATE MATERIALIZED VIEW m2 AS "
        "SELECT p, COUNT(*) AS n FROM pt CHANGES SINCE VERSION 3 GROUP BY p;"
    )
    assert engine.execute("SELECT * FROM m1 ORDER BY p;").rows == [
        ("007", 1), ("a", 1),
    ]
    assert engine.execute("SELECT * FROM m2 ORDER BY p;").rows == [
        ("007", 1), ("a", 1), ("b", 2),
    ]
    # a refresh re-reads the pinned snapshot: the new commit is not in m1
    engine.execute("INSERT INTO pt (id, p) VALUES (9, 'a');")
    engine.execute("REFRESH MATERIALIZED VIEW m1;")
    assert engine.execute("SELECT * FROM m1 ORDER BY p;").rows == [
        ("007", 1), ("a", 1),
    ]


def test_mv_with_dotted_generated_names(engine, bdb):
    _twins(engine)
    engine.execute(
        "CREATE MATERIALIZED VIEW mf AS SELECT p, SUM(id) * 1.5 FROM pt GROUP BY p;"
    )
    r = engine.execute("SELECT * FROM mf ORDER BY p;")
    assert r.columns == ["p", "(sum(id) * 1.5)"]
    assert [(p, float(v)) for p, v in r.rows] == [
        ("007", 30.0), ("a", 1.5), ("b", 10.5),
    ]
    engine.execute("INSERT INTO pt (id, p) VALUES (2, 'a');")
    engine.execute("REFRESH MATERIALIZED VIEW mf;")
    r = engine.execute("SELECT * FROM mf WHERE p = 'a';")
    assert [(p, float(v)) for p, v in r.rows] == [("a", 4.5)]

    # an incremental MV grouped by a generated name with a dot in it
    r = engine.execute(
        "CREATE MATERIALIZED VIEW mi AS "
        "SELECT p || '.x', SUM(id) AS s FROM pt GROUP BY p || '.x';"
    )
    assert "incremental-capable" in r.message
    engine.execute("INSERT INTO pt (id, p) VALUES (100, 'b');")
    r = engine.execute("REFRESH MATERIALIZED VIEW mi;")
    assert "incrementally" in r.message, r.message
    assert engine.execute("SELECT * FROM mi ORDER BY s;").rows == [
        ("a.x", 3), ("007.x", 20), ("b.x", 107),
    ]


def test_failed_mv_build_leaves_no_table(engine, bdb):
    _twins(engine)
    # the body analyzes, so the table is created, but its write fails
    bad = "CREATE MATERIALIZED VIEW mb AS SELECT id, CAST(p AS INT) AS n FROM plain;"
    with pytest.raises(Exception):
        engine.execute(bad)
    assert "mb" not in [t for _, t in engine.execute("SHOW TABLES;").rows]
    assert f"{bdb}.mb" not in engine._manifest["tables"]
    engine.execute(
        "CREATE MATERIALIZED VIEW mb AS SELECT id, p FROM plain WHERE id < 4;"
    )
    assert engine.execute("SELECT * FROM mb ORDER BY id;").rows == [
        (1, "a"), (3, "b"),
    ]
    engine.execute("DROP MATERIALIZED VIEW mb;")
    assert f"{bdb}.mb" not in engine._manifest["tables"]
    # CTAS shares the write and its clean-up
    with pytest.raises(Exception):
        engine.execute("CREATE TABLE cb AS SELECT CAST(p AS INT) AS n FROM plain;")
    engine.execute("CREATE TABLE cb AS SELECT id FROM plain VERSION AS OF 2;")
    assert sorted(engine.execute("SELECT * FROM cb;").rows) == [(1,), (2,)]


def test_no_statement_leaves_a_temp_view(engine, bdb, tmp_path):
    _twins(engine)
    before = _temp_views(engine)
    engine.execute("SELECT * FROM pt VERSION AS OF 2;")
    engine.execute("SELECT * FROM pt CHANGES SINCE VERSION 3;")
    engine.execute(
        "CREATE MATERIALIZED VIEW mv AS SELECT p, SUM(id) AS s FROM pt GROUP BY p;"
    )
    engine.execute("INSERT INTO pt (id, p) VALUES (7, 'c');")
    engine.execute("REFRESH MATERIALIZED VIEW mv;")
    engine.execute("UPDATE pt SET id = 8 WHERE id = 7;")
    engine.execute("REFRESH MATERIALIZED VIEW mv;")
    out = tmp_path / "out"
    engine.execute(f"COPY plain TO '{out}' (FORMAT PARQUET);")
    engine.execute(f"COPY plain FROM '{out}' (FORMAT PARQUET);")
    failing = [
        "SELECT * FROM pt VERSION AS OF 99;",
        "SELECT nope FROM pt VERSION AS OF 2;",
        "SELECT * FROM pt VERSION AS OF 2 JOIN pt CHANGES SINCE VERSION 99 ON true;",
        "SELECT nope FROM pt CHANGES SINCE VERSION 3;",
        "CREATE MATERIALIZED VIEW bad AS "
        "SELECT nope, COUNT(*) AS n FROM pt GROUP BY nope;",
        "CREATE MATERIALIZED VIEW bad AS SELECT CAST(p AS INT) AS n FROM plain;",
    ]
    for sql in failing:
        with pytest.raises(Exception):
            engine.execute(sql)
    left = _temp_views(engine) - before
    assert not {v for v in left if v.startswith("__")}, left
    assert not (left - {v for v in left if v.startswith("system_")}), left


def test_a_snapshot_read_error_is_a_ranger_error(engine, bdb):
    _twins(engine)
    with pytest.raises(RangerError, match="does not exist"):
        engine.execute("INSERT INTO plain SELECT * FROM pt CHANGES SINCE VERSION 9;")
    with pytest.raises(RangerError, match="does not exist"):
        engine.execute("CREATE TABLE e AS SELECT * FROM pt VERSION AS OF 9;")
    assert f"{bdb}.e" not in engine._manifest["tables"]


_TEMP_VIEW_CALLS = {"createOrReplaceTempView", "dropTempView"}
# the binder that owns a statement's temp views, and the system views
_TEMP_VIEW_OWNERS = {"read_frame", "_bind_relations", "refresh_system_views"}


def temp_view_calls(path: pathlib.Path) -> list[str]:
    """``function:line`` of every temp-view create or drop in ``path``,
    by the top-level function or method it is in."""
    tree = ast.parse(path.read_text())
    tops = [
        fn
        for node in tree.body
        for fn in (node.body if isinstance(node, ast.ClassDef) else [node])
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    return sorted(
        f"{fn.name}:{call.lineno}"
        for fn in tops
        for call in ast.walk(fn)
        if isinstance(call, ast.Call)
        and isinstance(call.func, ast.Attribute)
        and call.func.attr in _TEMP_VIEW_CALLS
    )


def test_temp_views_are_owned_by_the_binder():
    """A statement's temp views are made and dropped by ``read_frame``'s
    binder only, so no other path can leave one in the session."""
    calls = temp_view_calls(ENGINE)
    assert {c.split(":")[0] for c in calls} <= _TEMP_VIEW_OWNERS, calls
    assert any(c.startswith("_bind_relations:") for c in calls)
