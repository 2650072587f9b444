"""Parquet schemas come from the file footer on the driver
(tables.parquet_schema), so reading a known file runs no Spark job for
schema inference. The helper must give exactly the schema Spark infers;
a table load must run no job, and time travel no more jobs than the live
read. A guard keeps a schema-less ``read.parquet`` from coming back."""

from __future__ import annotations

import ast
import datetime as dt
import pathlib
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ranger_spark.queries import load_all
from ranger_spark.sources.replicate import build_replicated
from ranger_spark.tables import TABLES, load, parquet_schema, read_parquet_file

ROOT = pathlib.Path(__file__).resolve().parent.parent / "ranger_spark"


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted by a job group of its own."""
    sc = spark.sparkContext
    group = f"footer-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group, True)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_equals_inferred_schema_of_every_table(spark, sf):
    # events' TIMESTAMP(NANOS) generations need the conf tables.load sets
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for name in TABLES:
        path = f"/root/testdata/{sf}/{name}.parquet"
        assert parquet_schema(spark, path) == spark.read.parquet(path).schema, name


def test_footer_schema_of_spark_written_nested_types(spark, tmp_path):
    out = str(tmp_path / "nested")
    spark.sql(
        "SELECT CAST(1.25 AS DECIMAL(12, 3)) AS d, array(1, 2) AS a, "
        "map('k', 1.5D) AS m, named_struct('x', 1L, 'y', 'b') AS s, "
        "TIMESTAMP '2024-01-02 03:04:05' AS ts, "
        "TIMESTAMP_NTZ '2024-01-02 03:04:05' AS ntz"
    ).coalesce(1).write.parquet(out)
    (path,) = (str(p) for p in pathlib.Path(out).glob("*.parquet"))
    schema = parquet_schema(spark, path)
    assert schema == spark.read.parquet(path).schema
    assert [f.dataType.simpleString() for f in schema.fields] == [
        "decimal(12,3)",
        "array<int>",
        "map<string,double>",
        "struct<x:bigint,y:string>",
        "timestamp",
        "timestamp_ntz",
    ]


def test_footer_schema_of_nanos_timestamps_follows_nanos_as_long(spark, tmp_path):
    path = str(tmp_path / "nanos.parquet")
    pq.write_table(
        pa.table(
            {
                "ts": pa.array([dt.datetime(2024, 1, 2, 3, 4, 5)], pa.timestamp("ns")),
                "v": pa.array([1], pa.int32()),
            }
        ),
        path,
        coerce_timestamps=None,
        version="2.6",
    )
    assert str(pq.read_schema(path).field("ts").type) == "timestamp[ns]"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = parquet_schema(spark, path)
    assert schema == spark.read.parquet(path).schema
    assert schema["ts"].dataType.simpleString() == "bigint"


def test_table_load_reads_spark_written_directories(spark, tmp_path):
    # a replica writes every table as a Spark output directory
    # (x.parquet/part-*.parquet plus _SUCCESS and .crc files)
    src, out = "/root/testdata/sf0.001", str(tmp_path / "x2")
    build_replicated(spark, src, out, 2)
    for name in TABLES:
        path = f"{out}/{name}.parquet"
        assert parquet_schema(spark, path) == spark.read.parquet(path).schema, name
    assert load(spark, out, "lineitem").count() == 2 * load(
        spark, src, "lineitem"
    ).count()
    q1 = load_all()["q1_pricing_summary"].builder
    base = {r[0:2]: r for r in q1(spark, src).collect()}
    replica = {r[0:2]: r for r in q1(spark, out).collect()}
    assert replica.keys() == base.keys()
    assert all(replica[k]["count_order"] == 2 * base[k]["count_order"] for k in base)


def test_footer_schema_of_a_partitioned_directory(spark, tmp_path):
    out = str(tmp_path / "part")
    spark.sql(
        "SELECT id, id % 3 AS k, CAST(id AS STRING) AS s FROM range(9)"
    ).write.partitionBy("k").parquet(out)
    # the footer holds the data columns; the reader appends k from the paths
    assert parquet_schema(spark, out).names == ["id", "s"]
    df = read_parquet_file(spark, out)
    assert df.schema == spark.read.parquet(out).schema
    assert df.count() == 9
    empty = tmp_path / "empty"
    (empty / "_temporary").mkdir(parents=True)
    (empty / "_SUCCESS").touch()
    (empty / ".part-0.parquet.crc").touch()
    with pytest.raises(FileNotFoundError):
        parquet_schema(spark, str(empty))


def test_table_load_runs_no_job_and_time_travel_no_extra_job(spark, engine, tmp_path):
    fresh = str(tmp_path / "sf")
    shutil.copytree("/root/testdata/sf0.001", fresh)
    assert _jobs(spark, lambda: [load(spark, fresh, t) for t in TABLES]) == 0

    engine.execute("CREATE DATABASE IF NOT EXISTS fschema;")
    engine.execute("DROP TABLE IF EXISTS fschema.tt;")
    engine.execute("CREATE TABLE fschema.tt (id int64, v string);")
    engine.execute("INSERT INTO fschema.tt (id, v) VALUES (1, 'a'), (2, 'b');")
    engine.execute("INSERT INTO fschema.tt (id, v) VALUES (3, 'c');")
    tracker = spark.sparkContext.statusTracker()
    live = engine.execute("SELECT count(*) AS n FROM fschema.tt;")
    past = engine.execute("SELECT count(*) AS n FROM fschema.tt VERSION AS OF 3;")
    assert live.rows == past.rows == [(3,)]
    assert len(tracker.getJobIdsForGroup(past.query_id)) == len(
        tracker.getJobIdsForGroup(live.query_id)
    )
    engine.execute("DROP DATABASE fschema CASCADE;")


def test_changes_since_reads_through_the_newest_schema_across_alter(engine):
    engine.execute("CREATE DATABASE IF NOT EXISTS fschema2;")
    engine.execute("DROP TABLE IF EXISTS fschema2.ren;")
    engine.execute("CREATE TABLE fschema2.ren (id int64, name string);")  # v1
    engine.execute(
        "INSERT INTO fschema2.ren (id, name) VALUES (1, 'a'), (2, 'b');"
    )  # v2
    engine.execute("ALTER TABLE fschema2.ren RENAME COLUMN name TO label;")  # v3
    engine.execute("INSERT INTO fschema2.ren (id, label) VALUES (3, 'c');")  # v4
    r = engine.execute("SELECT * FROM fschema2.ren CHANGES SINCE VERSION 1;")
    assert r.columns == ["id", "label"]
    # v2's file still says `name`, so its rows read NULL under `label`;
    # v3 rewrote them under the new name
    assert sorted(r.rows, key=repr) == sorted(
        [(1, None), (2, None), (1, "a"), (2, "b"), (3, "c")], key=repr
    )
    old = engine.execute("SELECT * FROM fschema2.ren VERSION AS OF 2;")
    assert old.columns == ["id", "name"]
    assert sorted(old.rows) == [(1, "a"), (2, "b")]
    engine.execute("DROP DATABASE fschema2 CASCADE;")


# ------------------------------------------------------------------ guard
_ENDS = ("read", "readStream", "write", "writeStream")


def _chain(node: ast.AST, bound: dict[str, ast.AST]) -> list[str]:
    """Attribute and variable names along a call chain's receivers,
    following a variable to the value it was assigned."""
    names: list[str] = []
    while True:
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        elif isinstance(node, ast.Name) and node.id in bound:
            names.append(node.id)
            node = bound.pop(node.id)
        else:
            return names


def schema_less_parquet_reads(root: pathlib.Path) -> list[str]:
    """``file:function:line`` of every batch or stream ``.parquet(`` read
    under ``root`` with no ``.schema(`` in its chain."""
    found: set[str] = set()
    for path in root.rglob("*.py"):
        if "vendor" in path.parts:
            continue
        tree = ast.parse(path.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            assigned = {
                t.id: a.value
                for a in ast.walk(fn)
                if isinstance(a, ast.Assign)
                for t in a.targets
                if isinstance(t, ast.Name)
            }
            for call in ast.walk(fn):
                if not (
                    isinstance(call, ast.Call)
                    and isinstance(call.func, ast.Attribute)
                    and call.func.attr == "parquet"
                ):
                    continue
                names = _chain(call.func.value, dict(assigned))
                # the reader or writer nearest the call is the one it is on
                ends = [n for n in names if n in _ENDS]
                if ends and ends[0].startswith("read"):
                    if "schema" not in names[: names.index(ends[0])]:
                        found.add(
                            f"{path.relative_to(root)}:{fn.name}:{call.lineno}"
                        )
    return sorted(found)


def test_no_schema_less_parquet_read_of_a_known_file():
    assert schema_less_parquet_reads(ROOT) == []
