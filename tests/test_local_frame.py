"""Driver-side rows reach Spark through one Arrow helper
(``ranger_spark.frames.local_frame``): INSERT VALUES, large COPY loads,
the system views and the CDC row. Round trips are pinned, and a small
append commits exactly one data file."""

from __future__ import annotations

import datetime as dt
import decimal
import os
import subprocess
import sys

import pytest

from ranger_spark.errors import VALIDATION_FAILED, RangerError

ROUND_TRIP_DDL = (
    "CREATE TABLE lf_types.t (i int32, l int64, f float64, d decimal(10,2), "
    "s string, b binary, o boolean, dt date, tm time, ts timestamp, "
    "tz timestamptz, u uuid, li list<int64>, m map<string,float64>, "
    "st struct<a:int32,b:string>);"
)
ROUND_TRIP_INSERT = (
    "INSERT INTO lf_types.t (i, l, f, d, s, b, o, dt, tm, ts, tz, u) VALUES "
    "(-2147483648, 9007199254740993, 2.5, 12345678.555, 'it''s', 'bin', "
    "TRUE, '2024-02-29', 45296123456, '2024-03-10 12:34:56.123456', "
    "'2024-03-10 12:34:56.123456', '123e4567-e89b-12d3-a456-426614174000'), "
    "(2147483647, -1, -0.125, -0.005, '', '', FALSE, '1969-12-31', 0, "
    "'1970-01-01 00:00:00', '1999-12-31 23:59:59.999999', "
    "'00000000-0000-0000-0000-000000000000'), "
    "(NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL);"
)
# decimals round half up to the column scale; nested columns left out
# of the column list are NULL
ROUND_TRIP_ROWS = [
    (
        -2147483648, 9007199254740993, 2.5, decimal.Decimal("12345678.56"),
        "it's", b"bin", True, dt.date(2024, 2, 29), 45296123456,
        dt.datetime(2024, 3, 10, 12, 34, 56, 123456),
        dt.datetime(2024, 3, 10, 12, 34, 56, 123456),
        "123e4567-e89b-12d3-a456-426614174000", None, None, None,
    ),
    (
        2147483647, -1, -0.125, decimal.Decimal("-0.01"), "", b"", False,
        dt.date(1969, 12, 31), 0, dt.datetime(1970, 1, 1),
        dt.datetime(1999, 12, 31, 23, 59, 59, 999999),
        "00000000-0000-0000-0000-000000000000", None, None, None,
    ),
    (None,) * 15,
]


def _canon(rows):
    return sorted(
        (tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
         for r in rows),
        key=lambda r: (r[0] is None, r[0] or 0),
    )


def _added_per_commit(engine, table):
    return [
        r[1]
        for r in engine.execute(
            "SELECT operation, num_added FROM system.snapshots "
            f"WHERE table_name = '{table}' ORDER BY version;"
        ).rows
    ]


def test_insert_round_trip_every_column_type(engine):
    engine.execute("CREATE DATABASE IF NOT EXISTS lf_types;")
    engine.execute("DROP TABLE IF EXISTS lf_types.t;")
    engine.execute(ROUND_TRIP_DDL)
    try:
        assert engine.execute(ROUND_TRIP_INSERT).row_count == 3
        got = engine.execute("SELECT * FROM lf_types.t;").rows
        assert _canon(got) == _canon(ROUND_TRIP_ROWS)
        # the three rows are one append of one file
        assert _added_per_commit(engine, "lf_types.t")[-1] == 1
    finally:
        engine.spark.sql("DROP DATABASE lf_types CASCADE")


def test_insert_round_trip_in_a_non_utc_zone():
    """The same pinned round trip in a process whose local zone is not
    UTC: a naive timestamp comes back as written."""
    here = os.path.abspath(__file__)
    env = {**os.environ, "TZ": "Asia/Kolkata"}
    r = subprocess.run(
        [sys.executable, "-m", "pytest", "-q", "-p", "no:cacheprovider",
         f"{here}::test_insert_round_trip_every_column_type"],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stdout[-3000:] + r.stderr[-3000:]
    assert "1 passed" in r.stdout


def test_decimal_out_of_range_is_a_typed_rejection(engine):
    engine.execute("CREATE DATABASE IF NOT EXISTS lf_dec;")
    engine.execute("CREATE TABLE lf_dec.t (d decimal(4,2));")
    try:
        # 99.999 rounds half up to 100.00, which needs 5 digits
        with pytest.raises(RangerError, match=r"decimal\(4,2\) out of range"):
            engine.execute("INSERT INTO lf_dec.t (d) VALUES (1.5), (99.999);")
        assert engine.execute("SELECT count(*) FROM lf_dec.t;").rows == [(0,)]
        engine.execute("INSERT INTO lf_dec.t (d) VALUES (99.994), (-1.555);")
        assert sorted(engine.execute("SELECT d FROM lf_dec.t;").rows) == [
            (decimal.Decimal("-1.56"),), (decimal.Decimal("99.99"),)
        ]
        # wide columns need more digits than the default decimal context's 28
        engine.execute(
            "CREATE TABLE lf_dec.w (a decimal(38,18), b decimal(38,0), "
            "c decimal(10,2));"
        )
        engine.execute(
            "INSERT INTO lf_dec.w (a, b) VALUES "
            "(12345678901.5, 1000000000000000000000000000000);"
        )
        assert engine.execute("SELECT a, b FROM lf_dec.w;").rows == [
            (decimal.Decimal("12345678901.500000000000000000"),
             decimal.Decimal(10**30))
        ]
        # 1e400 parses to float inf; 10**38 needs 39 digits
        for col, lit in (("c", "1e400"), ("b", "1" + "0" * 38)):
            with pytest.raises(RangerError, match=r"out of range") as ei:
                engine.execute(f"INSERT INTO lf_dec.w ({col}) VALUES ({lit});")
            assert ei.value.code == VALIDATION_FAILED
        assert engine.execute("SELECT count(*) FROM lf_dec.w;").rows == [(1,)]
    finally:
        engine.spark.sql("DROP DATABASE lf_dec CASCADE")


def test_small_insert_commits_one_file(engine):
    engine.execute("CREATE DATABASE IF NOT EXISTS lf_one;")
    engine.execute("CREATE TABLE lf_one.t (id int64, v string);")
    try:
        values = ", ".join(f"({k}, 'v{k}')" for k in range(200))
        for _ in range(2):
            engine.execute(f"INSERT INTO lf_one.t (id, v) VALUES {values};")
        assert _added_per_commit(engine, "lf_one.t") == [0, 1, 1]
        n_files = engine.execute(
            "SELECT count(*) FROM system.files WHERE table_name = 'lf_one.t';"
        ).rows
        assert n_files == [(2,)]
        assert engine.execute(
            "SELECT count(*), sum(id) FROM lf_one.t;"
        ).rows == [(400, 2 * sum(range(200)))]
    finally:
        engine.spark.sql("DROP DATABASE lf_one CASCADE")


def test_local_frame_is_a_local_scan(spark):
    from ranger_spark.frames import local_frame

    df = local_frame(spark, [(1, "a"), (2, None)], "id long, v string")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert df.rdd.getNumPartitions() == 1
    assert df.collect() == [(1, "a"), (2, None)]
    empty = local_frame(spark, [], "id long, v string")
    assert empty.count() == 0 and empty.columns == ["id", "v"]


def test_local_frame_above_open_cost_spreads_over_every_core(spark):
    """Partitions follow Spark's file-scan split size: a batch larger than
    ``openCostInBytes`` is split ``defaultParallelism`` ways, not kept as
    one task."""
    from ranger_spark.frames import local_frame

    rows = [(k, f"v{k}") for k in range(10_000)]
    assert local_frame(spark, rows, "id long, v string").rdd.getNumPartitions() == 1
    key = "spark.sql.files.openCostInBytes"
    spark.conf.set(key, "1024")
    try:
        df = local_frame(spark, rows, "id long, v string")
        assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
        assert df.count() == 10_000
    finally:
        spark.conf.unset(key)


def test_local_frame_keeps_a_large_batch_as_arrow(spark):
    """Above the 4 MB Arrow local-relation threshold that ``get_spark``
    sets, the batch is not held as driver-side rows."""
    from ranger_spark.frames import local_frame

    rows = [(k, f"{k:064d}") for k in range(100_000)]  # ~7 MB of Arrow
    df = local_frame(spark, rows, "id long, v string")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in plan
    assert df.rdd.getNumPartitions() == 2  # ceil(7 MB / 4 MB open cost)
    assert df.selectExpr("count(*)", "sum(id)").first() == (
        100_000, sum(range(100_000))
    )


def test_large_copy_is_one_file_and_rejects_whole(engine):
    """A COPY above INSERT_CHUNK_ROWS lands as one typed append of one
    file; one value the declared type cannot hold rejects all of it."""
    from ranger_spark.sources.native_server import (
        INSERT_CHUNK_ROWS,
        insert_string_block,
    )

    engine.execute("CREATE DATABASE IF NOT EXISTS lf_copy;")
    engine.execute(
        "CREATE TABLE lf_copy.t (id int64, d date, amt decimal(8,2), v string);"
    )
    try:
        n = INSERT_CHUNK_ROWS + 1
        rows = [(str(i), "2024-01-02", "1.25", f"v{i}") for i in range(n)]
        cols = ["id", "d", "amt", "v"]
        assert insert_string_block(engine, "lf_copy.t", cols, rows) == n
        assert _added_per_commit(engine, "lf_copy.t") == [0, 1]
        assert engine.execute(
            "SELECT count(*), min(d), sum(amt) FROM lf_copy.t;"
        ).rows == [(n, dt.date(2024, 1, 2), decimal.Decimal("1.25") * n)]
        bad = rows[:-1] + [(str(n), "2024-13-45", "1.25", "x")]
        with pytest.raises(ValueError, match=r"column\(s\) \['d'\].*nothing was loaded"):
            insert_string_block(engine, "lf_copy.t", cols, bad)
        assert _added_per_commit(engine, "lf_copy.t") == [0, 1]
    finally:
        engine.spark.sql("DROP DATABASE lf_copy CASCADE")


SYSTEM_VIEW_TYPES = {
    "databases": [
        ("database_name", "string"), ("is_system", "boolean"),
        ("table_count", "bigint"),
    ],
    "tables": [
        ("database_name", "string"), ("table_name", "string"),
        ("table_type", "string"), ("is_temporary", "boolean"),
    ],
    "columns": [
        ("database_name", "string"), ("table_name", "string"),
        ("column_name", "string"), ("data_type", "string"),
        ("is_nullable", "boolean"), ("ordinal_position", "int"),
    ],
    "queries": [
        ("query_id", "string"), ("sql", "string"), ("status", "string"),
        ("started_at", "double"), ("duration_s", "double"),
        ("result_cache", "string"),
    ],
    "mviews": [
        ("name", "string"), ("source_table", "string"),
        ("src_version", "bigint"), ("incremental", "boolean"),
    ],
    "snapshots": [
        ("table_name", "string"), ("version", "bigint"),
        ("committed_at", "double"), ("operation", "string"),
        ("num_files", "bigint"), ("num_added", "bigint"),
    ],
    "tags": [("table_name", "string"), ("tag", "string"), ("version", "bigint")],
    "files": [
        ("table_name", "string"), ("file_path", "string"),
        ("bytes", "bigint"), ("is_small", "boolean"),
    ],
}


def test_system_views_rows_and_types(engine):
    engine.execute("CREATE DATABASE IF NOT EXISTS lf_sys;")
    engine.execute("CREATE TABLE lf_sys.t (id int64 NOT NULL, v string);")
    try:
        engine.execute("INSERT INTO lf_sys.t (id, v) VALUES (1, 'a'), (2, 'b');")
        engine.execute("ALTER TABLE lf_sys.t CREATE TAG gold;")
        for view, types in SYSTEM_VIEW_TYPES.items():
            engine.execute(f"SELECT * FROM system.{view} LIMIT 1;")
            assert engine.spark.table(f"system_{view}").dtypes == types, view

        def q(sql):
            return engine.execute(sql).rows

        assert q(
            "SELECT * FROM system.databases WHERE database_name = 'lf_sys';"
        ) == [("lf_sys", False, 1)]
        assert q(
            "SELECT * FROM system.tables WHERE database_name = 'lf_sys';"
        ) == [("lf_sys", "t", "EXTERNAL", False)]
        assert q(
            "SELECT * FROM system.columns WHERE database_name = 'lf_sys' "
            "ORDER BY ordinal_position;"
        ) == [
            ("lf_sys", "t", "id", "int64", False, 1),
            ("lf_sys", "t", "v", "string", True, 2),
        ]
        assert q(
            "SELECT version, operation, num_files, num_added "
            "FROM system.snapshots WHERE table_name = 'lf_sys.t' ORDER BY 1;"
        ) == [(1, "create", 0, 0), (2, "append", 1, 1)]
        assert q(
            "SELECT * FROM system.tags WHERE table_name = 'lf_sys.t';"
        ) == [("lf_sys.t", "gold", 2)]
        files = q(
            "SELECT file_path, bytes, is_small FROM system.files "
            "WHERE table_name = 'lf_sys.t';"
        )
        assert len(files) == 1 and files[0][1] > 0 and files[0][2] is True
        marker = engine.execute("SELECT 'lf_newest' AS m;")
        read = [engine.execute("SELECT count(*) AS n FROM lf_sys.t;")]
        read.append(engine.execute("SELECT count(*) AS n FROM lf_sys.t;"))
        cache = dict(q("SELECT query_id, result_cache FROM system.queries;"))
        assert marker.query_id in cache
        # a file-less read is not cacheable; a table read misses, then hits
        assert cache[marker.query_id] is None
        assert [cache[r.query_id] for r in read] == ["miss", "hit"]
    finally:
        engine.spark.sql("DROP DATABASE lf_sys CASCADE")
