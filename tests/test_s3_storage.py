"""End-to-end ``STORAGE s3`` over a real S3 client and an S3 test server.

The reference's most-tested storage engine is S3 (server/storage/s3/
fs.go, exercised by s3/fs_test.go): CREATE/INSERT/SELECT/UPDATE/DROP
against an object store. Here the engine's mirror mode (local Spark
cache + per-commit S3 sync, sources/s3fs.py) runs through boto3 against
moto's S3 server (``ThreadedMotoServer``, in-process, offline), so
signatures, ListObjectsV2 pagination and batch deletes all cross a real
HTTP wire.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest


class _S3Server:
    """moto's S3 server on an ephemeral localhost port."""

    def __init__(self) -> None:
        import boto3
        from botocore.config import Config
        from moto.server import ThreadedMotoServer

        self.server = ThreadedMotoServer(
            ip_address="127.0.0.1", port=0, verbose=False
        )
        self.server.start()
        self.port = self.server.get_host_and_port()[1]
        self.endpoint = f"http://127.0.0.1:{self.port}"
        self.client = boto3.client(
            "s3", endpoint_url=self.endpoint, aws_access_key_id="k",
            aws_secret_access_key="s", region_name="us-east-1",
            config=Config(s3={"addressing_style": "path"}),
        )

    def keys(self, bucket: str) -> list[str]:
        """Every key in the bucket, sorted; [] for a missing bucket."""
        pages = self.client.get_paginator("list_objects_v2").paginate(
            Bucket=bucket
        )
        try:
            return sorted(
                o["Key"] for page in pages for o in page.get("Contents", [])
            )
        except self.client.exceptions.NoSuchBucket:
            return []


@pytest.fixture(scope="module")
def shim():
    s = _S3Server()
    yield s
    s.server.stop()


@pytest.fixture()
def s3_engine(spark, shim, tmp_path):
    """A fresh engine with mirror-mode confs set; confs restored after."""
    from ranger_spark.engine import Engine

    cache = str(tmp_path / "s3cache")
    spark.conf.set(Engine.S3_ROOT_CONF, "s3://ranger-wh/warehouse")
    spark.conf.set(Engine.S3_ENDPOINT_CONF, shim.endpoint)
    spark.conf.set(Engine.S3_CACHE_CONF, cache)
    eng = Engine(spark)
    yield eng
    for c in (Engine.S3_ROOT_CONF, Engine.S3_ENDPOINT_CONF, Engine.S3_CACHE_CONF):
        spark.conf.unset(c)


def test_s3_create_insert_select_update_drop(s3_engine, shim):
    e = s3_engine
    e.execute("CREATE DATABASE IF NOT EXISTS s3db;")
    e.execute("DROP TABLE IF EXISTS s3db.t;")
    e.execute("CREATE TABLE s3db.t (id int32, v string) STORAGE s3;")
    # the table's files live under the remote prefix from the moment of
    # creation (snapshot manifest + Iceberg projection)
    keys = shim.keys("ranger-wh")
    assert any(k.startswith("warehouse/s3db.db/t/") for k in keys)

    e.execute("INSERT INTO s3db.t (id, v) VALUES (1, 'a'), (2, 'b');")
    assert sorted(e.execute("SELECT id, v FROM s3db.t;").rows) == [
        (1, "a"),
        (2, "b"),
    ]
    # the committed parquet is in the object store, not just locally
    parquet_keys = [
        k
        for k in shim.keys("ranger-wh")
        if k.startswith("warehouse/s3db.db/t/") and k.endswith(".parquet")
    ]
    assert parquet_keys

    # CoW rewrite (UPDATE) lands a new snapshot remotely
    before = set(shim.keys("ranger-wh"))
    e.execute("UPDATE s3db.t SET v = 'z' WHERE id = 2;")
    after = set(shim.keys("ranger-wh"))
    assert after - before  # new snapshot objects appeared
    assert sorted(e.execute("SELECT id, v FROM s3db.t;").rows) == [
        (1, "a"),
        (2, "z"),
    ]
    # time travel still works on the mirrored table
    rows = e.execute("SELECT id, v FROM s3db.t VERSION AS OF 2;").rows
    assert sorted(rows) == [(1, "a"), (2, "b")]
    assert len(e.execute("SHOW SNAPSHOTS FROM s3db.t;").rows) >= 3

    # DROP removes every remote object under the table prefix
    e.execute("DROP TABLE s3db.t;")
    assert not [
        k for k in shim.keys("ranger-wh") if k.startswith("warehouse/s3db.db/t/")
    ]


def test_s3_durability_cold_cache_recover(spark, shim, tmp_path):
    """The object store is the source of truth: wipe the local cache,
    build a fresh engine, recover() hydrates from S3 and the data reads
    back — the reference's s3 durability contract (fs_test.go)."""
    from ranger_spark.engine import Engine

    cache = str(tmp_path / "cold_cache")
    spark.conf.set(Engine.S3_ROOT_CONF, "s3://ranger-wh/cold")
    spark.conf.set(Engine.S3_ENDPOINT_CONF, shim.endpoint)
    spark.conf.set(Engine.S3_CACHE_CONF, cache)
    try:
        e1 = Engine(spark)
        e1.execute("CREATE DATABASE IF NOT EXISTS s3cold;")
        e1.execute("DROP TABLE IF EXISTS s3cold.t;")
        e1.execute("CREATE TABLE s3cold.t (id int32) STORAGE s3;")
        e1.execute("INSERT INTO s3cold.t (id) VALUES (10), (20), (30);")
        assert len(shim.keys("ranger-wh")) > 0

        # simulate a node loss: local cache gone, catalog entry dropped
        spark.sql("DROP TABLE s3cold.t")
        shutil.rmtree(cache, ignore_errors=True)
        assert not os.path.exists(cache)

        e2 = Engine(spark)
        n = e2.recover()
        assert n >= 1
        assert sorted(e2.execute("SELECT id FROM s3cold.t;").rows) == [
            (10,),
            (20,),
            (30,),
        ]
        e2.execute("DROP TABLE s3cold.t;")
    finally:
        for c in (
            Engine.S3_ROOT_CONF,
            Engine.S3_ENDPOINT_CONF,
            Engine.S3_CACHE_CONF,
        ):
            spark.conf.unset(c)


def test_s3_unconfigured_is_typed_error(spark):
    from ranger_spark.engine import Engine
    from ranger_spark.errors import RangerError

    e = Engine(spark)
    e.execute("CREATE DATABASE IF NOT EXISTS s3err;")
    with pytest.raises(RangerError, match="S3 storage engine not available"):
        e.execute("CREATE TABLE s3err.t (id int32) STORAGE s3;")


def test_s3fs_sync_roundtrip_unit(shim, tmp_path):
    """sync_up/sync_down mirror semantics: new files upload, deletions
    propagate, .crc sidecars never cross the wire, cold-dir hydration
    restores bytes exactly."""
    from ranger_spark.sources.s3fs import S3ObjectFS

    fs = S3ObjectFS(shim.endpoint)
    src = tmp_path / "src"
    (src / "sub").mkdir(parents=True)
    (src / "a.parquet").write_bytes(b"alpha" * 80)  # immutable: size-elidable
    (src / "sub" / "b.bin").write_bytes(b"\x00" * 1024)  # not parquet: re-ships
    (src / ".a.parquet.crc").write_bytes(b"nope")  # checksum sidecar: skipped

    n_up, n_del = fs.sync_up(str(src), "unit", "tbl")
    assert (n_up, n_del) == (2, 0)
    assert shim.keys("unit") == ["tbl/a.parquet", "tbl/sub/b.bin"]

    # second sync: the immutable parquet elides on name+size; anything
    # else (b.bin) re-ships — same-size in-place rewrites of non-data
    # files must never be skipped (ADVICE r8)
    assert fs.sync_up(str(src), "unit", "tbl") == (1, 0)

    # tiny mutable pointers always re-ship: same-size content change
    # ("3" -> "4") must not be elided by the size compare
    (src / "hint.txt").write_bytes(b"3")
    assert fs.sync_up(str(src), "unit", "tbl") == (2, 0)  # hint + b.bin
    (src / "hint.txt").write_bytes(b"4")
    assert fs.sync_up(str(src), "unit", "tbl") == (2, 0)
    import boto3
    from botocore.config import Config

    c = boto3.client(
        "s3", endpoint_url=shim.endpoint, aws_access_key_id="k",
        aws_secret_access_key="s", region_name="us-east-1",
        config=Config(s3={"addressing_style": "path"}),
    )
    assert c.get_object(Bucket="unit", Key="tbl/hint.txt")["Body"].read() == b"4"
    (src / "hint.txt").unlink()
    fs.delete_paths("unit", "tbl", str(src), [str(src / "hint.txt")])

    # default sync is UPLOAD-ONLY: local absence does NOT delete remotely
    # (a concurrent writer's commit must survive another engine's sync)
    (src / "a.parquet").unlink()
    assert fs.sync_up(str(src), "unit", "tbl") == (1, 0)  # b.bin re-ships
    assert shim.keys("unit") == ["tbl/a.parquet", "tbl/sub/b.bin"]
    # explicit removals propagate via the scoped delete
    assert fs.delete_paths("unit", "tbl", str(src), [str(src / "a.parquet")]) >= 1
    assert shim.keys("unit") == ["tbl/sub/b.bin"]
    # opt-in full mirror still available
    assert fs.sync_up(str(src), "unit", "tbl", delete_stale=True) == (1, 0)

    # cold hydration
    dst = tmp_path / "dst"
    assert fs.sync_down("unit", "tbl", str(dst)) == 1
    assert (dst / "sub" / "b.bin").read_bytes() == b"\x00" * 1024
    # idempotent
    assert fs.sync_down("unit", "tbl", str(dst)) == 0

    assert fs.delete_prefix("unit", "tbl") == 1
    assert shim.keys("unit") == []


def test_s3fs_list_and_delete_past_one_page(shim):
    """ListObjectsV2 answers at most 1000 keys a page and DeleteObjects
    takes at most 1000 keys a call: list_prefix must follow the
    continuation token and delete_prefix must batch, so 1,005 keys are
    all listed and then all deleted."""
    from ranger_spark.sources.s3fs import S3ObjectFS

    fs = S3ObjectFS(shim.endpoint)
    fs.ensure_bucket("paged")
    keys = [f"tbl/part-{i:04d}.parquet" for i in range(1005)]
    for k in keys:
        shim.client.put_object(Bucket="paged", Key=k, Body=b"x")
    shim.client.put_object(Bucket="paged", Key="other/keep", Body=b"y")

    assert sorted(fs.list_prefix("paged", "tbl/")) == keys
    assert fs.delete_prefix("paged", "tbl/") == 1005
    assert fs.list_prefix("paged", "tbl/") == {}
    assert shim.keys("paged") == ["other/keep"]


def test_s3_total_loss_catalog_recovery(spark, shim, tmp_path):
    """Disaster parity with the reference's S3 persistence: local
    warehouse AND catalog both lost — the mirrored catalog manifest in
    the object store rebuilds the s3 tables on a fresh engine
    (recover_catalog_from_s3), data hydrating from S3."""
    import shutil as _shutil

    from ranger_spark.engine import Engine

    cache = str(tmp_path / "loss_cache")
    spark.conf.set(Engine.S3_ROOT_CONF, "s3://ranger-wh/loss")
    spark.conf.set(Engine.S3_ENDPOINT_CONF, shim.endpoint)
    spark.conf.set(Engine.S3_CACHE_CONF, cache)
    try:
        e1 = Engine(spark)
        e1.execute("CREATE DATABASE IF NOT EXISTS s3loss;")
        e1.execute("DROP TABLE IF EXISTS s3loss.t;")
        e1.execute("CREATE TABLE s3loss.t (id int32) STORAGE s3;")
        e1.execute("INSERT INTO s3loss.t (id) VALUES (1), (2);")
        # the catalog manifest is in the object store alongside the data
        assert "loss/_catalog/ranger_catalog.json" in shim.keys("ranger-wh")

        # total local loss: cache dir + catalog entry + spark
        # registration. The catalog entry vanishes OUT-OF-BAND (store
        # mutated directly — disk corruption/loss, not an engine DROP,
        # which would legitimately propagate to the mirror).
        spark.sql("DROP TABLE s3loss.t")
        _shutil.rmtree(cache, ignore_errors=True)
        e1.catalog_store.mutate(
            lambda m: m["tables"].pop("s3loss.t", None)
        )
        e2 = Engine(spark)
        assert "s3loss.t" not in e2._manifest["tables"]

        e3 = Engine(spark)
        assert e3.recover_catalog_from_s3() >= 1
        assert sorted(e3.execute("SELECT id FROM s3loss.t;").rows) == [
            (1,),
            (2,),
        ]
        e3.execute("DROP TABLE s3loss.t;")
    finally:
        for c in (
            Engine.S3_ROOT_CONF,
            Engine.S3_ENDPOINT_CONF,
            Engine.S3_CACHE_CONF,
        ):
            spark.conf.unset(c)


def test_s3_refresh_hydrates_missing_snapshot_files(spark, shim, tmp_path):
    """Cross-process visibility in mirror mode: another engine's commit
    lives in the object store; refresh_table_registration (the Astha
    subscriber path) hydrates this engine's cache before repointing —
    simulated by deleting local snapshot files after the commit."""
    import glob
    import os as _os

    from ranger_spark.engine import Engine

    cache = str(tmp_path / "refresh_cache")
    spark.conf.set(Engine.S3_ROOT_CONF, "s3://ranger-wh/refresh")
    spark.conf.set(Engine.S3_ENDPOINT_CONF, shim.endpoint)
    spark.conf.set(Engine.S3_CACHE_CONF, cache)
    try:
        e = Engine(spark)
        e.execute("CREATE DATABASE IF NOT EXISTS s3ref;")
        e.execute("DROP TABLE IF EXISTS s3ref.t;")
        e.execute("CREATE TABLE s3ref.t (id int32) STORAGE s3;")
        e.execute("INSERT INTO s3ref.t (id) VALUES (1), (2);")
        loc = e._manifest["tables"]["s3ref.t"]["location"]
        parquet = glob.glob(_os.path.join(loc, "**", "*.parquet"), recursive=True)
        assert parquet
        for p in parquet:  # "the other machine's" files aren't on our disk
            _os.remove(p)
        assert e.refresh_table_registration("s3ref.t")
        assert sorted(e.execute("SELECT id FROM s3ref.t;").rows) == [(1,), (2,)]
        e.execute("DROP TABLE s3ref.t;")
    finally:
        for c in (
            Engine.S3_ROOT_CONF,
            Engine.S3_ENDPOINT_CONF,
            Engine.S3_CACHE_CONF,
        ):
            spark.conf.unset(c)


def test_s3_expire_propagates_scoped_deletes(s3_engine, shim):
    """EXPIRE SNAPSHOTS removes exactly the expired snapshot dirs from
    the object store (scoped delete), while a foreign object outside
    those dirs — standing in for a concurrent writer's commit this cache
    hasn't seen — survives the sync."""
    e = s3_engine
    e.execute("CREATE DATABASE IF NOT EXISTS s3exp;")
    e.execute("DROP TABLE IF EXISTS s3exp.t;")
    e.execute("CREATE TABLE s3exp.t (id int32) STORAGE s3;")
    e.execute("INSERT INTO s3exp.t (id) VALUES (1);")
    e.execute("UPDATE s3exp.t SET id = 2 WHERE id = 1;")  # snapshot 3
    # plant a foreign object under the table prefix (concurrent commit)
    import boto3
    from botocore.config import Config

    c = boto3.client(
        "s3", endpoint_url=shim.endpoint, aws_access_key_id="k",
        aws_secret_access_key="s", region_name="us-east-1",
        config=Config(s3={"addressing_style": "path"}),
    )
    foreign = "warehouse/s3exp.db/t/s99-other/part-foreign.parquet"
    c.put_object(Bucket="ranger-wh", Key=foreign, Body=b"other-engine")

    removed = e.expire_snapshots("s3exp.t", keep_last=1)
    assert removed  # at least one old snapshot dir went away locally
    keys = shim.keys("ranger-wh")
    assert foreign in keys, "scoped delete must not touch foreign commits"
    for d in removed:
        tail = d.rstrip("/").split("/")[-1]
        assert not [
            k for k in keys if f"/t/{tail}/" in k
        ], f"expired dir {tail} still has remote objects"
    e.execute("DROP TABLE s3exp.t;")


def test_s3_table_served_over_protocol_gateway(spark, shim, tmp_path):
    """Composition: an s3-mirrored table written over the NATIVE wire
    protocol and read over HTTP — the full production stack (protocol
    gateway -> engine -> snapshot commit -> object-store sync) in one
    path. The committed parquet must land in the object store."""
    import json
    import urllib.request

    from ranger_spark.engine import Engine
    from ranger_spark.gateway import Gateway
    from ranger_spark.sources import native_server as ns

    cache = str(tmp_path / "gw_cache")
    spark.conf.set(Engine.S3_ROOT_CONF, "s3://ranger-wh/gw")
    spark.conf.set(Engine.S3_ENDPOINT_CONF, shim.endpoint)
    spark.conf.set(Engine.S3_CACHE_CONF, cache)
    try:
        e = Engine(spark)
        gw = Gateway(e, http_port=0, jdbc_port=0, native_port=0).start()
        try:
            e.execute("CREATE DATABASE IF NOT EXISTS gws3;")
            e.execute("DROP TABLE IF EXISTS gws3.t;")
            e.execute("CREATE TABLE gws3.t (id int32) STORAGE s3;")
            c = ns.NativeClient(
                "127.0.0.1", gw.ports()["native"], database="gws3"
            )
            c.insert("t", ["id"], [("7",), ("8",)])
            c.ping()
            c.close()
            req = urllib.request.Request(
                f"http://127.0.0.1:{gw.ports()['http']}/query",
                data=json.dumps(
                    {"query": "SELECT sum(id) AS s FROM gws3.t;"}
                ).encode(),
                headers={"Content-Type": "application/json"},
            )
            body = json.loads(urllib.request.urlopen(req, timeout=30).read())
            assert any("15" in str(r) for r in body["data"])
            assert [
                k
                for k in shim.keys("ranger-wh")
                if k.startswith("gw/gws3.db/t/") and k.endswith(".parquet")
            ], "native-protocol INSERT must be mirrored to the object store"
            e.execute("DROP TABLE gws3.t;")
        finally:
            gw.shutdown()
    finally:
        for conf in (
            Engine.S3_ROOT_CONF,
            Engine.S3_ENDPOINT_CONF,
            Engine.S3_CACHE_CONF,
        ):
            spark.conf.unset(conf)


def test_s3_sync_up_reships_same_size_metadata(shim, tmp_path):
    """ADVICE r8: the size-compare upload elision applies ONLY to
    immutable data files (.parquet/.orc). A v{N}.metadata.json rewritten
    in place with the SAME byte size (tag ops / expire re-emits) must
    re-ship, or the object store serves stale Iceberg metadata."""
    from ranger_spark.sources.s3fs import S3ObjectFS

    fs = S3ObjectFS(shim.endpoint)
    local = tmp_path / "tbl"
    (local / "metadata").mkdir(parents=True)
    meta = local / "metadata" / "v3.metadata.json"
    data = local / "part-000.parquet"
    meta.write_bytes(b"A" * 400)
    data.write_bytes(b"B" * 400)
    fs.sync_up(str(local), "reship", "t1")

    # same-size rewrites: metadata must re-upload, parquet may elide
    meta.write_bytes(b"C" * 400)
    data.write_bytes(b"D" * 400)
    up, _ = fs.sync_up(str(local), "reship", "t1")
    got_meta = fs.client.get_object(
        Bucket="reship", Key="t1/metadata/v3.metadata.json"
    )["Body"].read()
    got_data = fs.client.get_object(
        Bucket="reship", Key="t1/part-000.parquet"
    )["Body"].read()
    assert got_meta == b"C" * 400          # re-shipped
    assert got_data == b"B" * 400          # elided (immutable by contract)
    assert up == 1


def test_s3_mirror_outage_warns_for_non_s3_mutations(s3_engine, shim):
    """ADVICE r8: when the S3 endpoint is down, a mutation that never
    touched an s3-mirrored entry commits locally and WARNS (stale
    mirror) instead of reporting failure; an s3-touching mutation still
    hard-fails; retry_s3_mirror_push() re-pushes once service returns."""
    import warnings

    e = s3_engine
    e.execute("CREATE DATABASE IF NOT EXISTS outg;")
    e.execute("CREATE TABLE outg.s3t (id int32) STORAGE s3;")

    class _DownFS:
        def __getattr__(self, name):
            raise ConnectionError("endpoint down")

    real_fs = e._s3_fs
    e._s3_fs = lambda: _DownFS()
    try:
        # filesystem-table DDL: local commit succeeds, warning not error
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            e.execute("CREATE TABLE outg.fst (id int32);")
        assert any("mirror push failed" in str(x.message) for x in w)
        assert ("outg.fst",) in e.execute("SHOW TABLES FROM outg;").rows or \
            any("fst" in str(r) for r in e.execute("SHOW TABLES FROM outg;").rows)
        # s3-touching mutation during the outage still hard-fails
        import pytest as _pytest

        from ranger_spark.errors import RangerError

        with _pytest.raises(RangerError):
            e.execute("DROP TABLE outg.s3t;")
    finally:
        e._s3_fs = real_fs
    # service restored: the retry hook re-pushes the full manifest
    assert e.retry_s3_mirror_push() is True
    e.execute("DROP TABLE IF EXISTS outg.fst;")


def test_s3a_direct_path_probe(spark, shim):
    """VERDICT r8 item 5 probe: the direct s3a:// path (the layout a
    real 100-TB cluster uses — engine S3_ROOT_CONF as an s3a:// URI,
    fs.s3a.* Hadoop confs, NO mirror endpoint) cannot run here because
    no hadoop-aws jar ships in this sandbox (NOTES.md environment-
    blocked #1). This probe PINS that the blocker is the classpath and
    nothing else: a raw s3a read must fail with the missing-FileSystem/
    class error, not an auth or endpoint error. If this assertion ever
    fails, the jar appeared — point fs.s3a.endpoint at the moto server
    and promote this into the end-to-end test."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set("fs.s3a.endpoint", shim.endpoint)
    hconf.set("fs.s3a.access.key", "ranger")
    hconf.set("fs.s3a.secret.key", "ranger")
    hconf.set("fs.s3a.path.style.access", "true")
    try:
        err = None
        try:
            spark.read.parquet("s3a://ranger-wh/warehouse/nosuch")
        except Exception as e:
            err = str(e)
        assert err is not None, (
            "s3a read unexpectedly succeeded — hadoop-aws is on the "
            "classpath now; wire the direct-path end-to-end test"
        )
        assert (
            "S3AFileSystem" in err
            or "ClassNotFoundException" in err
            or "No FileSystem for scheme" in err
        ), f"s3a blocked by something other than the classpath: {err[:300]}"
    finally:
        for k in ("fs.s3a.endpoint", "fs.s3a.access.key",
                  "fs.s3a.secret.key", "fs.s3a.path.style.access"):
            hconf.unset(k)
