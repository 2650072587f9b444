"""One statement gate: ``router.route`` alone classifies a statement,
and every client query body reaches ``spark.sql`` through
``Engine.read_frame``. Spark runs commands eagerly, so a write hidden in
a query body would land in the table's live snapshot dir with no
snapshot commit; each regression test below sends one such shape and
checks that the table's rows and snapshot history did not move. A guard
keeps a second classifier or an ungated ``spark.sql`` from coming back."""

from __future__ import annotations

import ast
import pathlib
import re
import uuid

import pytest

from ranger_spark.errors import RangerError
from ranger_spark.router import READ_KINDS, StmtKind, route


@pytest.fixture()
def db(engine):
    name = "gate_" + uuid.uuid4().hex[:6]
    engine.execute(f"CREATE DATABASE {name};")
    for t in ("a", "b"):
        engine.execute(f"CREATE TABLE {name}.{t} (id int64);")
        engine.execute(f"INSERT INTO {name}.{t} (id) VALUES (1);")
    yield name
    engine.spark.sql(f"DROP DATABASE IF EXISTS {name} CASCADE")


def _state(engine, db: str) -> dict:
    return {
        t: (
            sorted(engine.execute(f"SELECT id FROM {db}.{t};").rows),
            engine.execute(f"SHOW SNAPSHOTS FROM {db}.{t};").rows,
        )
        for t in ("a", "b")
    }


_CTE_INSERT = "WITH x AS (SELECT 9 AS id) INSERT INTO {db}.b SELECT id FROM x"


@pytest.mark.parametrize(
    "sql",
    [
        "EXPLAIN ANALYZE INSERT INTO {db}.b SELECT 9 AS id;",
        "INSERT INTO {db}.a " + _CTE_INSERT + ";",
        "CREATE TABLE {db}.c AS " + _CTE_INSERT + ";",
        "MERGE INTO {db}.a USING (" + _CTE_INSERT + ") s ON a.id = s.id "
        "WHEN MATCHED THEN DELETE;",
        "WITH x AS (SELECT 9 AS id) FROM x INSERT INTO {db}.b SELECT id;",
    ],
    ids=["explain_analyze", "insert_select", "ctas", "merge_using", "cte_from"],
)
def test_write_inside_a_query_body_is_rejected(engine, db, sql):
    before = _state(engine, db)
    with pytest.raises(RangerError):
        engine.execute(sql.format(db=db))
    assert _state(engine, db) == before
    assert not engine._table_exists(f"{db}.c")


def test_pgwire_describe_of_cte_dml_does_not_run_it(engine, db):
    from ranger_spark.sources.pgwire_server import serve
    from tests.test_pgwire_server import _connect, _ext, _parse_pkt, _read_messages

    before = _state(engine, db)
    srv = serve(engine)
    s = _connect(srv.port)
    try:
        s.sendall(_parse_pkt("st", _CTE_INSERT.format(db=db)))
        s.sendall(_ext(b"D", b"S" + b"st\x00"))
        s.sendall(_ext(b"S", b""))
        tags = [t for t, _ in _read_messages(s)]
        assert b"n" in tags and b"T" not in tags  # NoData
    finally:
        s.close()
        srv.shutdown()
    assert _state(engine, db) == before


def test_native_readonly_explain_analyze_insert_is_refused(engine, db):
    from ranger_spark.sources import native_server as ns

    before = _state(engine, db)
    srv = ns.NativeServer(engine, require_auth=True).start()
    try:
        ro = ns.NativeClient(
            "127.0.0.1", srv.port, database="default",
            user="readonly", password="readonly123",
        )
        with pytest.raises(RuntimeError, match="insufficient_permissions"):
            ro.query(f"EXPLAIN ANALYZE INSERT INTO {db}.b SELECT 9 AS id;")
        ro.close()
    finally:
        srv.shutdown()
    assert _state(engine, db) == before


def test_route_classifies_reads():
    for sql in (
        "SELECT 1;",
        "WITH x AS (SELECT 1) SELECT * FROM x;",
        "EXPLAIN ANALYZE SELECT 1;",
        "EXPLAIN INSERT INTO t SELECT 1;",  # planned, never run
        "SHOW TABLES;",
        "DESC t;",
    ):
        assert route(sql).kind in READ_KINDS, sql
    for sql in ("INSERT INTO t SELECT 1;", "MERGE INTO t USING s ON a = b;"):
        assert route(sql).kind not in READ_KINDS
    # a backquoted identifier is not a keyword; a bare one is
    assert route("WITH x AS (SELECT 1 AS `insert`) SELECT * FROM x;").kind == (
        StmtKind.WITH_SELECT
    )
    with pytest.raises(RangerError, match="CTE-DML"):
        route("WITH x AS (SELECT 1 AS insert) SELECT * FROM x;")
    with pytest.raises(RangerError, match="EXPLAIN ANALYZE"):
        route("EXPLAIN ANALYZE DELETE FROM t;")


def test_validate_script_strict_reports_whole_kind_rejections():
    from ranger_spark.router import validate_script

    errs = validate_script("SELECT 1;\nOPTIMIZE t;\nMERGE INTO t USING s ON x;", True)
    assert [e.message.split(": ", 1)[1] for e in errs] == [
        "unsupported statement type: OPTIMIZE",
        "unsupported statement type: MERGE",
    ]
    assert [e.line for e in errs] == [2, 3]


# ------------------------------------------------- COPY boolean spellings
def _copy_text(port: int, table: str, lines: list[str]) -> list:
    from tests.test_pgwire_server import _connect, _ext, _query_packet, _read_messages

    s = _connect(port)
    try:
        s.sendall(_query_packet(f"COPY {table} (id, flag) FROM STDIN"))
        assert _read_messages(s, until_tag=b"G")[-1][0] == b"G"
        s.sendall(_ext(b"d", "".join(lines).encode()))
        s.sendall(_ext(b"c", b""))
        return _read_messages(s)
    finally:
        s.close()


@pytest.mark.parametrize("n", [3, 10_001], ids=["rendered", "dataframe"])
def test_copy_text_booleans_at_both_sizes(engine, db, n):
    from ranger_spark.sources.pgwire_server import serve

    engine.execute(f"CREATE TABLE {db}.f (id int64, flag boolean);")
    spellings = ["t", "f", "1", "0", "TRUE", " no "]
    lines = [f"{i}\t{spellings[i % len(spellings)]}\n" for i in range(n)]
    srv = serve(engine)
    try:
        msgs = _copy_text(srv.port, f"{db}.f", lines)
    finally:
        srv.shutdown()
    assert (b"C", f"COPY {n}\x00".encode()) in msgs
    got = engine.execute(
        f"SELECT flag, count(*) FROM {db}.f GROUP BY flag ORDER BY flag;"
    ).rows
    trues = sum(1 for i in range(n) if i % len(spellings) in (0, 2, 4))
    assert got == [(False, n - trues), (True, trues)]


# ----------------------------------------------------------------- guard
_GATE = "read_frame"
# router.py classifies; security.py replicates the reference's opt-in,
# caller-configurable validateQuery allow-list verbatim (a policy over the
# raw text, quirks included), not a second routing decision
_EXEMPT = ("router.py", "security.py")
_PREFIX_TUPLE = re.compile(
    r"""(?:\(|^)\s*(["'])(SELECT|WITH|SHOW|INSERT|EXPLAIN|DESCRIBE|DESC)\1\s*,"""
)
_DML_REGEX = re.compile(r"INSERT\|UPDATE|UPDATE\|DELETE|DELETE\|MERGE")


def _classifier_offenders(root: pathlib.Path) -> list[str]:
    """Sites outside router.py that classify a statement themselves (a
    statement-prefix tuple or a DML-keyword regex), and calls of
    ``_rewrite_system`` outside the gate (its output goes to spark.sql)."""
    out = []
    for path in sorted(root.rglob("*.py")):
        if "vendor" in path.parts or path.name in _EXEMPT:
            continue
        text = path.read_text()
        rel = path.relative_to(root)
        out += [
            f"{rel}:{n}"
            for n, line in enumerate(text.splitlines(), 1)
            if _PREFIX_TUPLE.search(line) or _DML_REGEX.search(line)
        ]
        for fn in ast.walk(ast.parse(text)):
            if not isinstance(fn, ast.FunctionDef) or fn.name == _GATE:
                continue
            out += [
                f"{rel}:{c.lineno}"
                for c in ast.walk(fn)
                if isinstance(c, ast.Call)
                and isinstance(c.func, ast.Attribute)
                and c.func.attr == "_rewrite_system"
            ]
    return sorted(set(out))


def test_route_is_the_only_statement_classifier():
    root = pathlib.Path(__file__).resolve().parent.parent / "ranger_spark"
    assert _classifier_offenders(root) == []
