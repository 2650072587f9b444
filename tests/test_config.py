"""Reference config-file surface (server/config/config.go): defaults,
YAML load/save round-trip, validation errors, fixed ports, and the
gateway boot bridge — including the reference's own ranger-server.yml."""

import pathlib

import pytest

from ranger_spark.config import (
    CATALOG_TYPE_REQUIRED,
    DATA_PATH_REQUIRED,
    HTTP_SERVER_PORT,
    RangerConfig,
    load_config,
    load_default_config,
    save_config,
)
from ranger_spark.errors import RangerError

TOOLS = pathlib.Path(__file__).resolve().parent.parent / "tools"


def test_defaults_match_reference():
    c = load_default_config()
    assert c.log.level == "info" and c.log.format == "console"
    assert c.log.max_size == 100 and c.log.max_backups == 3 and c.log.max_age == 7
    assert c.storage.data_path == "./data"
    assert c.storage.catalog.type == "json"
    assert c.storage.schema.cache_ttl_minutes == 5
    assert c.storage.schema.max_cache_size == 1000
    assert (c.http_port(), c.jdbc_port(), c.native_port()) == (2847, 2848, 2849)
    assert (c.minio_port(), c.health_check_port()) == (2850, 2851)
    assert HTTP_SERVER_PORT == 2847


def test_load_reference_shipped_yml(tmp_path):
    # the exact document the reference ships (ranger-server.yml)
    (tmp_path / "r.yml").write_text(
        """
server: {host: "0.0.0.0", port: 8080}
log: {level: debug, file_path: logs/ranger-server.log, max_size: 100,
      max_age: 30, max_backups: 10, cleanup: true}
storage:
  type: filesystem
  data_path: workspace
  temp_path: temp
  catalog: {type: json}
query: {engine: duckdb, max_memory: 2GB, temp_dir: temp}
catalog: {type: sqlite, path: data/catalog.db, auto_create: true}
"""
    )
    c = load_config(str(tmp_path / "r.yml"))
    assert c.log.level == "debug" and c.log.max_age == 30
    assert c.storage.data_path == "workspace"
    # yaml.v3 parity: the reference's Config struct has NO top-level
    # catalog field, so the shipped file resolves storage.catalog (json)
    assert c.catalog_type() == "json"


def test_top_level_catalog_extension_when_storage_catalog_absent(tmp_path):
    # repo extension: the top-level section applies ONLY when
    # storage.catalog is absent (yaml.v3 would ignore it; documented)
    (tmp_path / "e.yml").write_text(
        "storage: {data_path: /tmp/x}\n"
        "catalog: {type: sqlite, path: data/catalog.db}\n"
    )
    c = load_config(str(tmp_path / "e.yml"))
    assert c.catalog_type() == "sqlite"
    assert c.storage.catalog.path == "data/catalog.db"


def test_partial_yaml_keeps_defaults_and_roundtrips(tmp_path):
    (tmp_path / "p.yml").write_text("storage: {data_path: /tmp/x}\n")
    c = load_config(str(tmp_path / "p.yml"))
    assert c.storage.data_path == "/tmp/x" and c.log.level == "info"
    save_config(c, str(tmp_path / "out.yml"))
    c2 = load_config(str(tmp_path / "out.yml"))
    assert c2 == c


def test_validation_errors(tmp_path):
    (tmp_path / "bad1.yml").write_text("storage: {data_path: ''}\n")
    with pytest.raises(RangerError) as e1:
        load_config(str(tmp_path / "bad1.yml"))
    assert e1.value.code == DATA_PATH_REQUIRED
    (tmp_path / "bad2.yml").write_text(
        "storage: {data_path: /tmp/x, catalog: {type: ''}}\n"
    )
    with pytest.raises(RangerError) as e2:
        load_config(str(tmp_path / "bad2.yml"))
    assert e2.value.code == CATALOG_TYPE_REQUIRED
    with pytest.raises(RangerError):
        load_config(str(tmp_path / "missing.yml"))
    assert RangerConfig().catalog_type() == "json"


def test_gateway_boots_from_config(spark, tmp_path):
    from ranger_spark.config import gateway_from_config

    (tmp_path / "srv.yml").write_text(
        f"storage:\n  data_path: {tmp_path}/wh\n  catalog: {{type: json}}\n"
    )
    gw = gateway_from_config(spark, str(tmp_path / "srv.yml"),
                             ephemeral_ports=True)
    try:
        import json as _json
        import urllib.request

        port = gw.ports()["http"]
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/health", timeout=30
        ) as resp:
            assert _json.loads(resp.read())["status"] == "ok"
        # the config's data_path became the engine warehouse via the
        # runtime override
        assert gw.engine._warehouse().endswith("/wh")
    finally:
        gw.shutdown()
        spark.conf.unset("spark.ranger.warehouse.dir")
        spark.conf.unset("spark.ranger.catalog.type")


def test_server_entrypoint_boot_and_graceful_shutdown(tmp_path):
    """cmd/server/main.go parity: boot from a config file (or defaults
    when the file is absent), serve, and shut down gracefully on
    SIGTERM."""
    import json as _json
    import signal
    import subprocess
    import sys
    import time
    import urllib.request

    (tmp_path / "ranger-server.yml").write_text(
        f"storage:\n  data_path: {tmp_path}/wh\n  catalog: {{type: json}}\n"
    )
    p = subprocess.Popen(
        [sys.executable, str(TOOLS / "ranger_server.py"),
         str(tmp_path / "ranger-server.yml"), "--ephemeral-ports"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        cwd=str(tmp_path),
    )
    try:
        line = p.stdout.readline()
        boot = _json.loads(line)
        assert boot["status"] == "started" and boot["ports"]["http"] > 0
        with urllib.request.urlopen(
            f"http://127.0.0.1:{boot['ports']['http']}/health", timeout=30
        ) as resp:
            assert _json.loads(resp.read())["status"] == "ok"
        p.send_signal(signal.SIGTERM)
        out, _ = p.communicate(timeout=120)
        assert _json.loads(out.strip().splitlines()[-1])["status"] == "stopped"
        assert p.returncode == 0
    finally:
        if p.poll() is None:
            p.kill()
