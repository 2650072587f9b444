"""Reads of Parquet paths and of manifest-listed files run no Spark job to
describe or list them: a ``parquet.`path``` relation is bound to a view
whose schema comes from a footer read on the driver, and a read of more
than 32 known files lists them on the driver. Globs and missing paths
are left to Spark, answers and errors alike."""

from __future__ import annotations

import datetime as dt
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ranger_spark.tables import TABLES
from tests.conftest import SF_DIR as SF
from tests.test_footer_schema import _jobs


def _statement_jobs(engine, sql: str) -> int:
    r = engine.execute(sql)
    return len(engine.spark.sparkContext.statusTracker().getJobIdsForGroup(r.query_id))


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@pytest.fixture()
def pdb(engine):
    db = "pth_" + uuid.uuid4().hex[:6]
    engine.execute(f"CREATE DATABASE {db};")
    yield db
    engine.execute(f"DROP DATABASE {db} CASCADE;")


def _same_read(spark, frame, path):
    inferred = spark.read.parquet(path)
    assert frame.schema == inferred.schema, path
    assert frame.exceptAll(inferred).isEmpty(), path
    assert inferred.exceptAll(frame).isEmpty(), path


def test_path_read_is_planned_without_a_job_and_answers_as_inference(engine):
    spark = engine.spark
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for name in TABLES:
        path = f"{SF}/{name}.parquet"
        sql = f"SELECT * FROM parquet.`{path}`"
        assert _jobs(spark, lambda: spark.sql(sql)) == 1  # inference
        frames = []
        assert _jobs(spark, lambda: frames.append(engine.read_frame(sql))) == 0
        _same_read(spark, frames[0], path)


def test_path_read_of_nanos_timestamps_and_a_partitioned_directory(
    engine, tmp_path
):
    spark = engine.spark
    nanos = str(tmp_path / "nanos.parquet")
    pq.write_table(
        pa.table(
            {
                "ts": pa.array(
                    [dt.datetime(2024, 1, 2, 3, 4, 5, 6)], pa.timestamp("ns")
                ),
                "v": pa.array([1], pa.int32()),
            }
        ),
        nanos,
        coerce_timestamps=None,
        version="2.6",
    )
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    frame = engine.read_frame(f"SELECT * FROM parquet.`{nanos}`")
    assert frame.schema["ts"].dataType.simpleString() == "bigint"
    _same_read(spark, frame, nanos)

    part = str(tmp_path / "part")
    spark.sql(
        "SELECT id, id % 3 AS k, CAST(id AS STRING) AS s FROM range(9)"
    ).write.partitionBy("k").parquet(part)
    frame = engine.read_frame(f"SELECT * FROM parquet.`{part}` WHERE k = 1")
    assert frame.columns == ["id", "s", "k"]
    _same_read(spark, engine.read_frame(f"SELECT * FROM parquet.`{part}`"), part)
    assert sorted(r.id for r in frame.collect()) == [1, 4, 7]


def test_path_lookup_runs_the_jobs_of_the_same_lookup_on_a_table(engine, pdb):
    path = f"{SF}/nation.parquet"
    engine.execute(f"CREATE TABLE {pdb}.nation AS SELECT * FROM parquet.`{path}`;")
    where = "WHERE n_nationkey = 7"
    on_path = _statement_jobs(engine, f"SELECT * FROM parquet.`{path}` {where};")
    on_table = _statement_jobs(engine, f"SELECT * FROM {pdb}.nation {where};")
    assert on_path == on_table >= 1


def test_ctas_and_copy_from_a_path_run_no_inference_job(engine, pdb):
    path = f"{SF}/region.parquet"
    from_path = _statement_jobs(
        engine, f"CREATE TABLE {pdb}.a AS SELECT * FROM parquet.`{path}`;"
    )
    from_table = _statement_jobs(
        engine, f"CREATE TABLE {pdb}.b AS SELECT * FROM {pdb}.a;"
    )
    assert from_path == from_table
    engine.execute(f"CREATE TABLE {pdb}.c AS SELECT * FROM {pdb}.a WHERE false;")
    engine.execute(f"CREATE TABLE {pdb}.d AS SELECT * FROM {pdb}.a WHERE false;")
    copied = _statement_jobs(engine, f"COPY {pdb}.c FROM '{path}' (FORMAT PARQUET);")
    inserted = _statement_jobs(engine, f"INSERT INTO {pdb}.d SELECT * FROM {pdb}.a;")
    assert copied == inserted
    assert sorted(engine.execute(f"SELECT * FROM {pdb}.c;").rows) == sorted(
        engine.execute(f"SELECT * FROM {pdb}.b;").rows
    )


def test_glob_and_missing_paths_are_left_to_spark(engine, tmp_path):
    spark = engine.spark
    glob = f"{SF}/n*ion.parquet"
    sql = f"SELECT count(*) AS n FROM parquet.`{glob}`"
    assert engine.read_frame(sql).collect() == spark.sql(sql).collect() == [(25,)]
    text = tmp_path / "text.parquet"
    text.write_text("not parquet\n")
    for path, error in (
        (tmp_path / "absent.parquet", "PATH_NOT_FOUND"),
        (text, "FAILED_TO_CREATE_PLAN_FOR_DIRECT_QUERY"),
    ):
        sql = f"SELECT * FROM parquet.`{path}`"
        with pytest.raises(Exception) as spark_err:
            spark.sql(sql).collect()
        with pytest.raises(Exception) as engine_err:
            engine.read_frame(sql).collect()
        assert error in str(spark_err.value)
        assert str(engine_err.value) == str(spark_err.value)


def test_no_path_view_outlives_its_statement(engine, tmp_path):
    spark = engine.spark
    path = f"{SF}/region.parquet"
    before = _temp_views(spark)
    assert engine.execute(
        f"SELECT count(*) AS n FROM parquet.`{path}` a "
        f"JOIN parquet.`{path}` b ON a.r_regionkey = b.r_regionkey;"
    ).rows == [(5,)]
    assert _temp_views(spark) == before
    for bad in (
        f"SELECT nope FROM parquet.`{path}`;",
        f"SELECT * FROM parquet.`{path}`, parquet.`{tmp_path}/absent.parquet`;",
    ):
        with pytest.raises(Exception):
            engine.execute(bad)
        assert _temp_views(spark) == before


def test_reads_past_32_files_list_them_without_a_job(engine, pdb):
    """VERSION AS OF, CHANGES SINCE and an MV delta over 33 files run the
    jobs they run over 32: Spark lists more than 32 paths in a job
    (spark.sql.sources.parallelPartitionDiscovery.threshold)."""
    t = f"{pdb}.t"
    engine.execute(f"CREATE TABLE {t} (k string, v int64);")  # v1, no file
    mv = "SELECT k, SUM(v) AS s, COUNT(*) AS c FROM {t} GROUP BY k;"
    engine.execute(f"CREATE MATERIALIZED VIEW {pdb}.m33 AS " + mv.format(t=t))
    for i in range(33):  # v2..v34, one file each
        engine.execute(f"INSERT INTO {t} (k, v) VALUES ('k{i % 3}', {i});")
        if i == 0:
            engine.execute(f"CREATE MATERIALIZED VIEW {pdb}.m32 AS " + mv.format(t=t))

    def jobs(sql: str) -> int:
        return _statement_jobs(engine, sql)

    assert jobs(f"SELECT count(*) AS n FROM {t} VERSION AS OF 34;") == jobs(
        f"SELECT count(*) AS n FROM {t} VERSION AS OF 33;"
    )
    assert jobs(f"SELECT count(*) AS n FROM {t} CHANGES SINCE VERSION 1;") == jobs(
        f"SELECT count(*) AS n FROM {t} CHANGES SINCE VERSION 2;"
    )
    assert jobs(f"REFRESH MATERIALIZED VIEW {pdb}.m33;") == jobs(
        f"REFRESH MATERIALIZED VIEW {pdb}.m32;"
    )
    assert engine.execute(f"SELECT * FROM {pdb}.m33 ORDER BY k;").rows == [
        ("k0", 165, 11), ("k1", 176, 11), ("k2", 187, 11)
    ]
    assert engine.execute(
        f"SELECT count(*) AS n FROM {t} VERSION AS OF 34;"
    ).rows == [(33,)]
    threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    assert engine.spark.conf.get(threshold, None) is None


def test_concurrent_reads_past_32_files_put_the_threshold_back(engine, pdb):
    """Each read raises the listing threshold for its own call only: with
    more threads than cores, none leaves it raised."""
    import sys
    import threading

    from ranger_spark.sources.snapshots import VersionedTable
    from ranger_spark.tables import read_parquet_files

    t = f"{pdb}.c"
    engine.execute(f"CREATE TABLE {t} (v int64);")
    for i in range(34):
        engine.execute(f"INSERT INTO {t} (v) VALUES ({i});")
    files = VersionedTable(engine._manifest["tables"][t]["location"]).files()
    assert len(files) == 34
    spark = engine.spark
    errors: list[BaseException] = []

    def reads():
        try:
            for n in (33, 34, 33):
                read_parquet_files(spark, files[:n])
        except BaseException as e:  # reported below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=reads) for _ in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    assert spark.conf.get(threshold, None) is None
    assert _jobs(spark, lambda: read_parquet_files(spark, files)) == 0
