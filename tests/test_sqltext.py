"""The one SQL lexer and quoter (ranger_spark/sqltext.py): Spark itself
is the oracle for where literals and comments end, how a value is quoted
and where a script splits; regression tests pin the statements that the
hand-rolled scanners it replaced got wrong; a guard keeps a second
scanner or quoter from coming back."""

from __future__ import annotations

import pathlib
import re
import uuid

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ranger_spark import sqltext
from ranger_spark.errors import RangerError
from ranger_spark.sqltext import quote, split_statements, unquote

_ORACLE = settings(max_examples=40, deadline=None)
# strings Spark can hold: any code point but lone UTF-16 surrogates
_values = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=24
)


def _spark_value(spark, literal: str):
    """Spark's value of one literal, or None when Spark rejects it."""
    try:
        return spark.sql(f"SELECT {literal} AS v").first()[0]
    except Exception:
        return None


def _spark_semicolons(spark, script: str) -> list[int]:
    """Offsets of the ';' tokens Spark's own lexer finds in ``script``."""
    jvm = spark._jvm
    lexer_class = jvm.org.apache.spark.sql.catalyst.parser.SqlBaseLexer
    lexer = lexer_class(jvm.org.antlr.v4.runtime.CharStreams.fromString(script))
    semi = lexer_class.SEMICOLON
    out = []
    while True:
        tok = lexer.nextToken()
        if tok.getType() == -1:
            return out
        if tok.getType() == semi:
            out.append(tok.getStartIndex())


# ------------------------------------------------------------ Spark oracle
@_ORACLE
@given(st.lists(_values, min_size=1, max_size=5))
def test_quote_round_trips_through_spark(spark, values):
    for v in values:
        assert unquote(quote(v)) == v
    got = spark.sql(
        "SELECT " + ", ".join(quote(v) for v in values)
    ).first()
    assert list(got) == values


_SQ_FRAGMENTS = [
    "''", "\\'", "\\\\", "\\n", "\\t", "\\r", "\\b", "\\0", "\\Z", "\\%",
    "\\_", "\\u0041", "\\u00e9", "\\uD83D\\uDE00", "\\U0001F600", "\\101",
    "\\012", "\\18", "\\377", "\\x41", "\\q", "\\u12", '"', '""', "a",
    " ", ";", "--", "/*", "é",
]


@_ORACLE
@given(
    st.lists(st.sampled_from(_SQ_FRAGMENTS), max_size=8),
    st.sampled_from(["'", '"', "R'", 'r"']),
)
def test_unquote_matches_spark(spark, fragments, opener):
    body = "".join(fragments)
    close = opener[-1]
    if opener[0] in "rR":
        body = body.replace(close, "")  # a raw string ends at its quote
    elif close == '"':
        body = body.replace('"', '""')
    literal = opener + body + close
    one_literal = sqltext.spans(literal) == [
        (sqltext.STRING, 0, len(literal), True)
    ]
    theirs = _spark_value(spark, literal)
    assert (theirs is not None) == one_literal, literal
    if one_literal:
        assert unquote(literal) == theirs, literal


_LEXEMES = st.one_of(
    st.text(alphabet="abc 123=<>(),.", min_size=1, max_size=6),
    _values.map(quote),
    st.text(alphabet="ab;'\" -/*\\", max_size=6).map(
        lambda s: '"' + s.replace("\\", "").replace('"', '""') + '"'
    ),
    st.text(alphabet="ab;' -/*", max_size=6).map(lambda s: f"`{s}`"),
    st.text(alphabet="ab;'\"` /*", max_size=6).map(lambda s: f"--{s}\n"),
    st.text(alphabet="ab;'\"` -", max_size=6).map(lambda s: f"/*{s}*/"),
    st.just("/* a /* ; */ b */"),
    st.just("-- c \\\n d;\n"),
)


@_ORACLE
@given(st.lists(st.lists(_LEXEMES, max_size=5), min_size=1, max_size=4))
def test_statement_split_matches_spark(spark, statements):
    script = ";".join(" ".join(["SELECT 1 AS x", *s]) for s in statements)
    script += ";"
    code = sqltext.blank(script)
    ours = [i for i, ch in enumerate(code) if ch == ";"]
    assert ours == _spark_semicolons(spark, script), script
    pieces = split_statements(script)
    assert len(pieces) == len(statements)


# ------------------------------------------------------------ lexer units
def test_spans_cover_every_region_kind():
    sql = (
        "SELECT 'it''s', \"a\"\"b\", `x``y`, R'a\\' -- c;\n"
        "/* /* ; */ */ ar'q' /*+ HINT */ 1"
    )
    kinds = [
        (s.kind, sql[s.start : s.end])
        for s in sqltext.spans(sql)
        if s.kind != sqltext.CODE
    ]
    assert kinds == [
        ("string", "'it''s'"),
        ("string", '"a""b"'),
        ("identifier", "`x``y`"),
        ("string", "R'a\\'"),
        ("comment", "-- c;\n"),
        ("comment", "/* /* ; */ */"),
        ("string", "'q'"),  # ar'q' is an identifier, then a string
    ]
    assert "".join(sql[s.start : s.end] for s in sqltext.spans(sql)) == sql


def test_unterminated_regions_are_flagged_and_run_to_the_end():
    for sql, kind in [
        ("SELECT 'abc; x", sqltext.STRING),
        ("SELECT /* a /* b */ c", sqltext.COMMENT),
        ("SELECT `id", sqltext.IDENT),
    ]:
        last = sqltext.spans(sql)[-1]
        assert (last.kind, last.end, last.closed) == (kind, len(sql), False)


def test_split_nests_angle_brackets_only_when_asked():
    assert sqltext.split("flag = v > 3, w = 1") == ["flag = v > 3", " w = 1"]
    assert sqltext.split("map<a,b>,c", angle=True) == ["map<a,b>", "c"]
    assert sqltext.split("x, ')', f(1, 2)") == ["x", " ')'", " f(1, 2)"]
    with pytest.raises(ValueError):
        sqltext.split("(a, b")


def test_placeholders_and_bind_skip_literals_and_comments():
    sql = "SELECT $1, '$2', \"$3\", `$4` -- $5\n, $2"
    assert [n for _, _, n in sqltext.placeholders(sql)] == [1, 2]
    assert sqltext.bind(sql, ["'a'", "'$1'"]) == (
        "SELECT 'a', '$2', \"$3\", `$4` -- $5\n, '$1'"
    )


def test_route_reads_the_statement_between_its_comments():
    from ranger_spark.router import StmtKind, route

    for sql in ("-- a\nSELECT 1;", "/* a */ SELECT 1 /* b */;", "SELECT 1; -- c",
                "SELECT 1 -- c;"):
        r = route(sql)
        assert (r.kind, r.sql) == (StmtKind.SELECT, "SELECT 1"), sql
    assert route("COPY t TO 'from.csv';").kind == StmtKind.COPY_TO
    with pytest.raises(RangerError, match="empty statement"):
        route("-- nothing;")


# ------------------------------------------------ the five disagreements
def test_split_statements_honours_double_quotes_and_comments():
    assert split_statements('SELECT "a;b" AS x; SELECT 1 -- c;d\n;') == [
        'SELECT "a;b" AS x',
        "SELECT 1 -- c;d",
    ]


@pytest.fixture()
def db(engine):
    name = "lex_" + uuid.uuid4().hex[:6]
    engine.execute(f"CREATE DATABASE {name};")
    yield name
    engine.spark.sql(f"DROP DATABASE IF EXISTS {name} CASCADE")


@pytest.mark.parametrize(
    "sql",
    [
        "WITH x AS (SELECT 8 AS id) /* c */ INSERT INTO {db}.t SELECT id FROM x;",
        "WITH x AS (SELECT 8 AS id) -- c\nINSERT INTO {db}.t SELECT id FROM x;",
        "WITH x AS (SELECT '\\'' AS a) INSERT INTO {db}.t SELECT 42 AS id --';",
    ],
)
def test_cte_dml_behind_a_comment_or_escape_is_rejected(engine, db, sql):
    engine.execute(f"CREATE TABLE {db}.t (id int64);")
    engine.execute(f"INSERT INTO {db}.t (id) VALUES (1);")
    snaps = engine.execute(f"SHOW SNAPSHOTS FROM {db}.t;").rows
    with pytest.raises(RangerError, match="CTE-DML"):
        engine.execute(sql.format(db=db))
    assert engine.execute(f"SELECT id FROM {db}.t;").rows == [(1,)]
    assert engine.execute(f"SHOW SNAPSHOTS FROM {db}.t;").rows == snaps


def test_escaped_quote_cte_dml_is_not_read_only():
    from ranger_spark.sources.native_server import _is_read_only_sql

    assert not _is_read_only_sql(
        "WITH x AS (SELECT '\\'' AS a) INSERT INTO c.t SELECT 42 AS id --'"
    )
    assert _is_read_only_sql("-- note\nSELECT ';INSERT' AS s")


def test_update_and_mv_with_comparisons_in_expressions(engine, db):
    engine.execute(f"CREATE TABLE {db}.u (id int32, v int32, flag boolean, w int32);")
    engine.execute(
        f"INSERT INTO {db}.u (id, v, flag, w) VALUES "
        "(1, 2, NULL, 0), (2, 5, NULL, 0);"
    )
    engine.execute(f"UPDATE {db}.u SET flag = v > 3, w = 1;")
    assert sorted(engine.execute(f"SELECT id, flag, w FROM {db}.u;").rows) == [
        (1, False, 1),
        (2, True, 1),
    ]
    engine.execute(f"UPDATE {db}.u SET flag = (v < 3), w = 2 WHERE id = 1;")
    assert sorted(engine.execute(f"SELECT id, flag, w FROM {db}.u;").rows) == [
        (1, True, 2),
        (2, True, 1),
    ]
    engine.execute(
        f"CREATE MATERIALIZED VIEW {db}.mv AS SELECT id, "
        f"SUM(CASE WHEN v > 3 THEN 1 ELSE 0 END) AS big FROM {db}.u "
        "GROUP BY id;"
    )
    assert sorted(engine.execute(f"SELECT * FROM {db}.mv;").rows) == [
        (1, 0),
        (2, 1),
    ]


def test_insert_values_use_spark_escapes(engine, db):
    engine.execute(f"CREATE TABLE {db}.s (id int32, s string);")
    engine.execute(
        f"INSERT INTO {db}.s (id, s) VALUES "
        "(1, 'a\\nb'), (2, 'it''s'), (3, 'it\\'s'), (4, R'c:\\dir'), "
        "(5, \"q\"\"q\");"
    )
    got = dict(engine.execute(f"SELECT id, s FROM {db}.s;").rows)
    want = {1: "a\nb", 2: "it's", 3: "it's", 4: "c:\\dir", 5: 'q"q'}
    assert got == want
    # a SELECT of the same literals reads the same values
    sel = engine.spark.sql(
        "SELECT 'a\\nb', 'it''s', 'it\\'s', R'c:\\dir', \"q\"\"q\""
    ).first()
    assert list(sel) == [want[i] for i in range(1, 6)]


# ------------------------------------------------------------------ guard
def test_no_second_sql_quoter_or_literal_scanner():
    root = pathlib.Path(__file__).resolve().parent.parent / "ranger_spark"
    banned = re.compile(
        r"""\.replace\(\s*(?:"'"|'\\'')\s*,\s*(?:"''"|'\\'\\'')\s*\)"""
        r"""|\(\?:\[\^'\]\|''\)"""
    )
    offenders = [
        f"{path.relative_to(root)}:{n}"
        for path in root.rglob("*.py")
        if path.name != "sqltext.py" and "vendor" not in path.parts
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert offenders == []
