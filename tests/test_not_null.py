"""NOT NULL holds on every write the engine runs in Spark, not only on
INSERT … VALUES: the written projection guards each NOT NULL column, so
a NULL fails the write job itself and nothing is committed."""

from __future__ import annotations

import pytest

from ranger_spark.errors import VALIDATION_FAILED, RangerError
from ranger_spark.sources.snapshots import walk_parquet

SHAPES = {
    "insert_select": "INSERT INTO nn.t SELECT NULL, 'b';",
    "insert_overwrite_select": "INSERT OVERWRITE nn.t SELECT NULL, 'b';",
    "update": "UPDATE nn.t SET id = NULL;",
    "merge_insert": (
        "MERGE INTO nn.t t USING (SELECT 5 AS id, 'z' AS v) s ON t.id = s.id "
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (NULL, s.v);"
    ),
}


@pytest.fixture()
def table(engine):
    engine.execute("CREATE DATABASE IF NOT EXISTS nn;")
    engine.execute("DROP TABLE IF EXISTS nn.t;")
    engine.execute("CREATE TABLE nn.t (id int64 NOT NULL, v string);")
    engine.execute("INSERT INTO nn.t (id, v) VALUES (1, 'a');")
    yield "nn.t"
    engine.execute("DROP DATABASE nn CASCADE;")


def _state(engine, name: str):
    root = engine._manifest["tables"][name]["location"]
    return (
        sorted(engine.execute(f"SELECT * FROM {name};").rows),
        engine.execute(f"SHOW SNAPSHOTS FROM {name};").rows,
        walk_parquet(root),
    )


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_spark_side_write_of_null_into_not_null_column_is_rejected(
    engine, table, shape
):
    before = _state(engine, table)
    with pytest.raises(RangerError) as err:
        engine.execute(SHAPES[shape])
    assert err.value.code == VALIDATION_FAILED
    assert "column 'id' of 'nn.t' cannot be null" in str(err.value)
    assert _state(engine, table) == before


def test_not_null_guard_lets_non_null_writes_through(engine, table):
    engine.execute("INSERT INTO nn.t SELECT 2, 'b';")
    engine.execute("UPDATE nn.t SET v = 'c' WHERE id = 2;")
    engine.execute(
        "MERGE INTO nn.t t USING (SELECT 5 AS id, 'z' AS v) s ON t.id = s.id "
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v);"
    )
    assert sorted(engine.execute("SELECT * FROM nn.t;").rows) == [
        (1, "a"),
        (2, "c"),
        (5, "z"),
    ]


def test_large_native_copy_of_null_into_not_null_column_is_rejected(
    engine, table
):
    from ranger_spark.sources.native_server import (
        INSERT_CHUNK_ROWS,
        insert_string_block,
    )

    rows = [(str(i), "x") for i in range(2, INSERT_CHUNK_ROWS + 2)] + [("", "y")]
    before = _state(engine, table)
    with pytest.raises(RangerError) as err:
        insert_string_block(engine, table, ["id", "v"], rows)
    assert err.value.code == VALIDATION_FAILED
    assert _state(engine, table) == before


def test_not_null_holds_on_a_per_column_codec_append(engine):
    # the Arrow per-column-codec writer has no commit protocol: the files
    # its tasks wrote before the NULL failed the job are removed. The NULL
    # is the last row of the last partition, so every task has opened its
    # file by the time the job fails.
    engine.execute("CREATE DATABASE IF NOT EXISTS nn;")
    engine.execute("DROP TABLE IF EXISTS nn.cc;")
    engine.execute(
        "CREATE TABLE nn.cc (id int64 NOT NULL, v string) "
        "SETTINGS column_compression = 'id:zstd, v:gzip';"
    )
    engine.execute("INSERT INTO nn.cc (id, v) VALUES (1, 'a');")
    before = _state(engine, "nn.cc")
    with pytest.raises(RangerError) as err:
        engine.execute(
            "INSERT INTO nn.cc SELECT IF(id = 399999, NULL, id), 'x' "
            "FROM range(0, 400000, 1, 4);"
        )
    assert err.value.code == VALIDATION_FAILED
    assert _state(engine, "nn.cc") == before
    engine.execute("DROP DATABASE nn CASCADE;")


def test_not_null_holds_on_an_engine_backed_stream_ingest(spark, engine, tmp_path):
    import json

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from ranger_spark.streaming.ingest import stream_ingest

    engine.execute("CREATE DATABASE IF NOT EXISTS nn;")
    engine.execute("DROP TABLE IF EXISTS nn.s;")
    engine.execute("CREATE TABLE nn.s (id int64 NOT NULL, v string);")
    src = tmp_path / "src"
    src.mkdir()
    (src / "f0.json").write_text(
        "\n".join(json.dumps(r) for r in [{"id": 1, "v": "a"}, {"id": None, "v": "b"}])
    )
    before = _state(engine, "nn.s")
    q = stream_ingest(
        spark,
        str(src),
        StructType(
            [StructField("id", LongType()), StructField("v", StringType())]
        ),
        "nn.s",
        str(tmp_path / "ckpt"),
        engine=engine,
    )
    with pytest.raises(Exception, match="column 'id' of 'nn.s' cannot be null"):
        q.awaitTermination(60)
    assert _state(engine, "nn.s") == before
    engine.execute("DROP DATABASE nn CASCADE;")


def test_not_null_column_whose_name_has_a_dot(engine):
    """The guard takes each column as one name: CTAS of a literal makes
    the NOT NULL column `36.0`, whose dot is no field access."""
    engine.execute("CREATE DATABASE IF NOT EXISTS nnd;")
    try:
        engine.execute("CREATE TABLE nnd.c AS SELECT 7 AS id, 36.0;")
        assert [(c, n) for c, _, n in engine._schemas["nnd.c"]] == [
            ("id", False), ("36.0", False)
        ]
        engine.execute("INSERT INTO nnd.c SELECT 8, 1.5;")
        before = _state(engine, "nnd.c")
        with pytest.raises(RangerError) as err:
            engine.execute("INSERT INTO nnd.c SELECT 9, NULL;")
        assert err.value.code == VALIDATION_FAILED
        assert "column '36.0' of 'nnd.c' cannot be null" in str(err.value)
        assert _state(engine, "nnd.c") == before
    finally:
        engine.execute("DROP DATABASE nnd CASCADE;")
