"""One Spark registration per table, built from its manifest entry
(Engine._register_table): CREATE, recover(), RENAME, ALTER and the
copy-on-write repoint all declare the same columns, layout, write
OPTIONS, TBLPROPERTIES and cache pin, so no path loses a table property.
A guard keeps a second registration or a session-conf write from coming
back."""

from __future__ import annotations

import ast
import glob
import os
import pathlib
import re

import pytest

from ranger_spark.engine import Engine
from ranger_spark.errors import VALIDATION_FAILED, RangerError


def _footer(spark, path: str) -> tuple[frozenset[str], bool]:
    """(codecs of the file's column chunks, whether its first column has a
    bloom filter), read by parquet-mr: pyarrow does not expose bloom
    offsets, and parquet-mr writes none for a fully dictionary-encoded
    chunk such as the low-cardinality ``k`` below."""
    jvm = spark._jvm
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path(path), spark._jsc.hadoopConfiguration()
        )
    )
    try:
        chunks = [c for b in reader.getFooter().getBlocks() for c in b.getColumns()]
        return (
            frozenset(c.getCodec().name() for c in chunks),
            chunks[0].getBloomFilterOffset() >= 0,
        )
    finally:
        reader.close()


def _live_files(engine, name: str) -> list[str]:
    return sorted(glob.glob(os.path.join(engine._catalog_location(name), "*.parquet")))


def _desc(spark, name: str) -> dict[str, str]:
    return {
        str(r[0]).strip(): str(r[1]).strip()
        for r in spark.sql(f"DESC FORMATTED {name}").collect()
    }


def _rows(n: int, start: int = 0) -> str:
    return ", ".join(f"({i}, 'k{i % 7}')" for i in range(start, start + n))


def test_settings_are_table_options_and_optimize_keeps_blooms(engine, spark):
    engine.execute("CREATE DATABASE IF NOT EXISTS treg;")
    engine.execute(
        "CREATE TABLE treg.opt (id int64, k string) SETTINGS "
        "compression = 'zstd', max_records_per_file = '10', bloom_filter = 'true';"
    )
    engine.execute(f"INSERT INTO treg.opt (id, k) VALUES {_rows(40)};")
    files = _live_files(engine, "treg.opt")
    assert len(files) == 4
    assert {_footer(spark, p) for p in files} == {(frozenset({"ZSTD"}), True)}

    engine.execute("OPTIMIZE treg.opt;")
    files = _live_files(engine, "treg.opt")
    assert len(files) == 1  # compaction escapes the rotation cap …
    # … and keeps the codec and the bloom filters
    assert _footer(spark, files[0]) == (frozenset({"ZSTD"}), True)
    assert engine.execute("SELECT count(*) FROM treg.opt;").rows == [(40,)]
    # the settings are the table's Spark OPTIONS
    storage = _desc(spark, "treg.opt")["Storage Properties"]
    assert "compression=zstd" in storage and "maxRecordsPerFile=10" in storage
    spark.sql("DROP DATABASE treg CASCADE")


def test_rename_keeps_the_bucket_spec(engine, spark):
    engine.execute("CREATE DATABASE IF NOT EXISTS treg;")
    engine.execute(
        "CREATE TABLE treg.bk (id int64, k string) "
        "SETTINGS clustered_by = 'id', buckets = 4;"
    )
    engine.execute(f"INSERT INTO treg.bk (id, k) VALUES {_rows(20)};")
    engine.execute("ALTER TABLE treg.bk RENAME TO treg.bk2;")
    desc = _desc(spark, "treg.bk2")
    assert desc["Num Buckets"] == "4"
    assert desc["Bucket Columns"] == "[`id`]"
    before = set(_live_files(engine, "treg.bk2"))
    engine.execute(f"INSERT INTO treg.bk2 (id, k) VALUES {_rows(20, 20)};")
    added = set(_live_files(engine, "treg.bk2")) - before
    assert added
    # Spark names a bucketed write's files <task>_<bucket id>.c<n>
    assert all(re.search(r"_\d{5}\.c\d{3}", os.path.basename(f)) for f in added)
    assert engine.execute("SELECT count(*) FROM treg.bk2;").rows == [(40,)]
    spark.sql("DROP DATABASE treg CASCADE")


def test_recover_rebuilds_the_whole_registration(engine, spark):
    engine.execute("CREATE DATABASE IF NOT EXISTS trec;")
    engine.execute("CREATE TABLE trec.mem (id int32, v string) STORAGE memory;")
    engine.execute(
        "CREATE TABLE trec.nn (id int64 NOT NULL, ts int64, v string) "
        "ORDER BY (ts, id);"
    )
    engine.execute(
        "CREATE TABLE trec.ws (id int64, k string) SETTINGS "
        "compression = 'zstd', max_records_per_file = '10', bloom_filter = 'true';"
    )
    engine.execute("INSERT INTO trec.mem (id, v) VALUES (1, 'a'), (2, 'b');")
    for t in ("mem", "nn", "ws"):
        spark.sql(f"DROP TABLE trec.{t}")  # catalog loss; files survive

    fresh = Engine(spark)
    assert fresh.recover() == 3
    plan = spark.table("trec.mem")._jdf.queryExecution().withCachedData()
    assert "InMemoryRelation" in plan.toString()
    assert fresh.execute("SELECT count(*) FROM trec.mem;").rows == [(2,)]
    # Spark's session catalog keeps datasource columns nullable whatever
    # the DDL says; NOT NULL lives in the manifest and gates every insert
    cols = fresh.execute("SHOW COLUMNS FROM trec.nn;").rows
    assert [(c, n) for c, _, n, _ in cols] == [("id", False), ("ts", True), ("v", True)]
    with pytest.raises(RangerError) as ei:
        fresh.execute("INSERT INTO trec.nn (id, ts, v) VALUES (NULL, 1, 'a');")
    assert ei.value.code == VALIDATION_FAILED
    props = {
        r["key"]: r["value"]
        for r in spark.sql("SHOW TBLPROPERTIES trec.nn").collect()
    }
    assert props["ranger.write_order"] == "ts,id"
    assert "ORDER BY (ts, id)" in fresh.execute(
        "SHOW CREATE TABLE trec.nn;"
    ).rows[0][0]

    fresh.execute(f"INSERT INTO trec.ws (id, k) VALUES {_rows(30)};")
    files = _live_files(fresh, "trec.ws")
    assert len(files) == 3
    assert {_footer(spark, p) for p in files} == {(frozenset({"ZSTD"}), True)}
    spark.sql("DROP DATABASE trec CASCADE")


def test_alter_follows_renamed_order_by_columns(engine, spark):
    engine.execute("CREATE DATABASE IF NOT EXISTS treg;")
    engine.execute(
        "CREATE TABLE treg.al (id int64, ts int64) ORDER BY (ts, id) "
        "SETTINGS compression = 'gzip';"
    )
    engine.execute("INSERT INTO treg.al (id, ts) VALUES (1, 10), (2, 20);")
    engine.execute("ALTER TABLE treg.al RENAME COLUMN ts TO t;")
    engine.execute("ALTER TABLE treg.al DROP COLUMN id;")
    assert engine._manifest["tables"]["treg.al"]["order_by"] == ["t"]
    assert "compression=gzip" in _desc(spark, "treg.al")["Storage Properties"]
    engine.execute("INSERT INTO treg.al (t) VALUES (30);")
    files = _live_files(engine, "treg.al")
    assert {_footer(spark, p)[0] for p in files} == {frozenset({"GZIP"})}
    assert engine.execute("SELECT t FROM treg.al ORDER BY t;").rows == [
        (10,), (20,), (30,)
    ]
    spark.sql("DROP DATABASE treg CASCADE")


def test_scoped_statement_after_its_saved_database_was_dropped(engine, spark):
    engine.execute("CREATE DATABASE IF NOT EXISTS gone_db;")
    engine.execute("USE gone_db;")
    spark.sql("DROP DATABASE gone_db CASCADE")  # behind the engine's back
    try:
        for _ in range(2):
            assert engine.execute("SELECT 1 AS x;", database="default").rows == [
                (1,)
            ]
        assert spark.catalog.currentDatabase() == "default"
    finally:
        spark.catalog.setCurrentDatabase("default")


def test_scope_on_the_current_database_makes_one_catalog_call(
    engine, spark, monkeypatch
):
    engine.execute("CREATE DATABASE IF NOT EXISTS scope_db;")
    engine.execute("USE default;")
    calls: list[str] = []
    for fn in ("currentDatabase", "setCurrentDatabase", "databaseExists"):
        orig = getattr(spark.catalog, fn)
        monkeypatch.setattr(
            spark.catalog,
            fn,
            lambda *a, _fn=fn, _orig=orig: calls.append(_fn) or _orig(*a),
        )
    try:
        with engine.statement_scope("default"):
            pass
        assert calls == ["currentDatabase"]
        calls.clear()
        with engine.statement_scope("scope_db"):
            assert spark.catalog.currentDatabase() == "scope_db"
        assert spark.catalog.currentDatabase() == "default"
        assert calls.count("setCurrentDatabase") == 2
        # a USE inside a scope on the current database stays statement-local
        engine.execute("USE scope_db;", database="default")
        assert spark.catalog.currentDatabase() == "default"
    finally:
        monkeypatch.undo()
        spark.catalog.setCurrentDatabase("default")
        engine.execute("DROP DATABASE scope_db CASCADE;")


# ------------------------------------------------------------------ guard
# a session or Hadoop conf write; the Hadoop configuration may only be
# passed straight into a call (getFileSystem), never held to set keys on
_CONF_WRITE = re.compile(r"\.conf\.(?:set|unset)\(|hadoopConfiguration\(\)(?!\))")
_CREATE_PARQUET = re.compile(r"(?is)\bCREATE\s+TABLE\b.*\bUSING\s+parquet\b")


def _strings_by_function(node, fn=None):
    """(enclosing function, text) of every string and f-string."""
    for child in ast.iter_child_nodes(node):
        inner = child.name if isinstance(child, ast.FunctionDef) else fn
        if isinstance(child, ast.JoinedStr):
            yield inner, ast.unparse(child)
        elif isinstance(child, ast.Constant) and isinstance(child.value, str):
            yield inner, child.value
        yield from _strings_by_function(child, inner)


def registration_offenders(source: str) -> list[str]:
    """What in an engine source writes a session or Hadoop conf, or builds
    a CREATE TABLE … USING parquet outside _register_table."""
    return [
        f"{n}: {line.strip()}"
        for n, line in enumerate(source.splitlines(), 1)
        if _CONF_WRITE.search(line)
    ] + [
        f"{fn}: {text}"
        for fn, text in _strings_by_function(ast.parse(source))
        if _CREATE_PARQUET.search(text) and fn != "_register_table"
    ]


def test_one_registration_and_no_session_conf_writes():
    path = pathlib.Path(__file__).resolve().parent.parent / "ranger_spark" / "engine.py"
    assert registration_offenders(path.read_text()) == []
