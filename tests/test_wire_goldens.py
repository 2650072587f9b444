"""Wire goldens: the exact bytes each protocol sends for a result, and the
Python values ``QueryResult.rows`` holds, pinned per column type.

Covers every type of ``test_local_frame.ROUND_TRIP_DDL`` plus NULL,
doubles (NaN, ±inf, 1e-05, 1e16, whole numbers), whole- and
fractional-second timestamps, strings with a comma, a quote, a
backslash, control characters and non-ASCII text, decimals, nested
values, a variant, a day-time interval and an empty result. Pinned per
protocol:
- native: every ServerData payload;
- pgwire: every DataRow of a simple query and of a suspended portal,
  and the CopyData messages of COPY TO in text and csv;
- HTTP: the ``columns`` and ``data`` text of the response body.

Regenerate after an intended change of wire text with
``python tests/test_wire_goldens.py --write`` and review the diff.
"""

from __future__ import annotations

import base64
import json
import os
import socket
import struct
import sys
import urllib.request

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDENS = os.path.join(HERE, "wire_goldens.json")

SETUP = [
    "CREATE DATABASE IF NOT EXISTS wg;",
    "DROP TABLE IF EXISTS wg.t;",
    "DROP TABLE IF EXISTS wg.dbl;",
    "DROP TABLE IF EXISTS wg.ts;",
    "DROP TABLE IF EXISTS wg.str;",
    "DROP TABLE IF EXISTS wg.dec;",
    # ROUND_TRIP_DDL's columns, in wg
    "CREATE TABLE wg.t (i int32, l int64, f float64, d decimal(10,2), "
    "s string, b binary, o boolean, dt date, tm time, ts timestamp, "
    "tz timestamptz, u uuid, li list<int64>, m map<string,float64>, "
    "st struct<a:int32,b:string>);",
    "INSERT INTO wg.t (i, l, f, d, s, b, o, dt, tm, ts, tz, u) VALUES "
    "(-2147483648, 9007199254740993, 2.5, 12345678.555, 'it''s', 'bin', "
    "TRUE, '2024-02-29', 45296123456, '2024-03-10 12:34:56.123456', "
    "'2024-03-10 12:34:56.123456', '123e4567-e89b-12d3-a456-426614174000'), "
    "(2147483647, -1, -0.125, -0.005, '', '', FALSE, '1969-12-31', 0, "
    "'1970-01-01 00:00:00', '1999-12-31 23:59:59.999999', "
    "'00000000-0000-0000-0000-000000000000'), "
    "(NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, "
    "NULL);",
    "INSERT INTO wg.t (i, l, f, d, s, b, o, dt, tm, ts, tz, u, li, m, st) "
    "SELECT 7 AS i, 36 AS l, 36.0 AS f, 0.5 AS d, 'n' AS s, X'00FF41' AS b, "
    "TRUE AS o, DATE '2000-01-01' AS dt, 1 AS tm, "
    "TIMESTAMP_NTZ '2000-01-01 00:00:00' AS ts, "
    "TIMESTAMP_LTZ '2000-01-01 00:00:00.5' AS tz, 'u' AS u, "
    "array(1L, NULL, 3L) AS li, "
    "map('k', 1.5D, 'z', CAST(NULL AS DOUBLE)) AS m, "
    "named_struct('a', 1, 'b', 'q''\"') AS st;",
    "CREATE TABLE wg.dbl AS SELECT k, x, CAST(x AS FLOAT) AS f FROM VALUES "
    "(1, CAST('NaN' AS DOUBLE)), (2, CAST('Infinity' AS DOUBLE)), "
    "(3, CAST('-Infinity' AS DOUBLE)), (4, 1e-05D), (5, 1e16D), "
    "(6, 36.0D), (7, -0.0D), (8, 0.0D), (9, 0.1D), (10, 1e15D), "
    "(11, 123456789.125D), (12, 2.5e-7D), (13, 9.99e-5D), (14, 1e-4D), "
    "(15, 1.7976931348623157e308D), (16, 4.9e-324D), "
    "(17, 12345678901234567.0D), (18, 1D / 3D), (19, -1234.5D), "
    "(20, 1e21D), (21, 9999999999999998.0D), (22, CAST(NULL AS DOUBLE)) "
    "AS v(k, x);",
    "CREATE TABLE wg.ts AS SELECT k, CAST(x AS TIMESTAMP_LTZ) AS ltz, "
    "CAST(x AS TIMESTAMP_NTZ) AS ntz, CAST(x AS DATE) AS d FROM VALUES "
    "(1, '2024-01-01 00:00:00'), (2, '2024-01-01 00:00:00.5'), "
    "(3, '2024-01-01 12:00:00.000001'), (4, '1969-12-31 23:59:59.999999'), "
    "(5, '1900-01-01 00:00:00'), (6, '9999-12-31 23:59:59.999999'), "
    "(7, '2024-06-30 08:09:10.120'), (8, CAST(NULL AS STRING)) AS v(k, x);",
    "CREATE TABLE wg.str AS SELECT k, s FROM VALUES "
    "(1, 'a,b'), (2, 'say \"hi\"'), (3, 'back\\\\slash'), "
    "(4, concat('bell', char(7), 'x')), (5, concat('t', char(9), 'n', "
    "char(10), 'r', char(13))), (6, 'héllo ☃ 😀 ü'), (7, ''), "
    "(8, 'x\\\\N'), (9, 'it''s'), (10, '[1, 2]'), (11, 'null'), "
    "(12, CAST(NULL AS STRING)) AS v(k, s);",
    "CREATE TABLE wg.dec AS SELECT k, CAST(x AS DECIMAL(38,10)) AS big, "
    "CAST(x AS DECIMAL(10,2)) AS small, CAST(x AS DECIMAL(6,0)) AS whole "
    "FROM VALUES (1, '0'), (2, '0.0000000001'), (3, '-0.0000001'), "
    "(4, '12345.6789'), (5, '-99999.5'), (6, '0.000001'), "
    "(7, CAST(NULL AS STRING)) AS v(k, x);",
]

QUERIES = {
    "types": "SELECT * FROM wg.t ORDER BY i NULLS LAST",
    "doubles": "SELECT * FROM wg.dbl ORDER BY k",
    "timestamps": "SELECT * FROM wg.ts ORDER BY k",
    "strings": "SELECT * FROM wg.str ORDER BY k",
    "decimals": "SELECT * FROM wg.dec ORDER BY k",
    "literals": (
        "SELECT * FROM VALUES "
        "(CAST(1 AS TINYINT), CAST(-2 AS SMALLINT), X'00FF41', "
        "parse_json('{\"a\":[1,\"x\"]}'), "
        "INTERVAL '1 02:03:04.5' DAY TO SECOND, map(1, 'x', 2, 'y'), "
        "array(DATE '2024-01-01'), array(named_struct('p', 1.5D, 'q', 'r')), "
        "NULL, TRUE, CAST(1.1 AS FLOAT)), "
        "(NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, FALSE, NULL) "
        "AS v(ti, si, bin, var, dti, mi, ad, ast, nul, o, fl)"
    ),
    "empty": "SELECT * FROM wg.t WHERE i = 42",
}
COPIES = ["wg.t", "wg.dbl", "wg.ts", "wg.str", "wg.dec"]


def _b64(b: bytes) -> str:
    return base64.b64encode(b).decode()


# ------------------------------------------------------------ native
def _native(port: int, sql: str) -> list[str]:
    from ranger_spark.sources import native_server as ns

    c = ns.NativeClient("127.0.0.1", port)
    try:
        c._send(ns.CLIENT_QUERY, ns.pack_client_query(sql + ";", "", ""))
        out = []
        while True:
            sig, payload = c._read()
            if sig == ns.SERVER_DATA:
                out.append(_b64(payload))
            elif sig == ns.SERVER_END_OF_STREAM:
                return out
            elif sig == ns.SERVER_EXCEPTION:
                raise RuntimeError(ns.unpack_server_exception(payload))
    finally:
        c.close()


# ------------------------------------------------------------ pgwire
def _pg_msg(tag: bytes, payload: bytes) -> bytes:
    return tag + struct.pack("!I", len(payload) + 4) + payload


def _pg_read(sock: socket.socket, buf: bytearray, until: bytes = b"Z"):
    msgs = []
    while True:
        while len(buf) < 5:
            chunk = sock.recv(65536)
            if not chunk:
                return msgs
            buf += chunk
        (length,) = struct.unpack("!I", buf[1:5])
        while len(buf) < 1 + length:
            buf += sock.recv(65536)
        tag, body = bytes(buf[:1]), bytes(buf[5 : 1 + length])
        del buf[: 1 + length]
        msgs.append((tag, body))
        if tag == until:
            return msgs


def _pg_connect(port: int):
    s = socket.create_connection(("127.0.0.1", port), timeout=120)
    params = b"user\x00ranger\x00database\x00default\x00\x00"
    body = struct.pack("!I", 196608) + params
    s.sendall(struct.pack("!I", len(body) + 4) + body)
    buf = bytearray()
    _pg_read(s, buf)
    return s, buf


def _pg_simple(port: int, sql: str, tags: tuple[bytes, ...]) -> list[str]:
    s, buf = _pg_connect(port)
    try:
        s.sendall(_pg_msg(b"Q", sql.encode() + b"\x00"))
        msgs = _pg_read(s, buf)
    finally:
        s.close()
    assert b"E" not in [t for t, _ in msgs], msgs
    return [_b64(t + b) for t, b in msgs if t in tags]


def _pg_portal(port: int, sql: str) -> list[str]:
    """Parse → Bind → Execute(2 rows) → Execute(rest) → Sync."""
    s, buf = _pg_connect(port)
    try:
        s.sendall(
            _pg_msg(b"P", b"\x00" + sql.encode() + b"\x00" + b"\x00\x00")
            + _pg_msg(b"B", b"\x00\x00" + b"\x00\x00" * 3)
            + _pg_msg(b"E", b"\x00" + struct.pack("!i", 2))
            + _pg_msg(b"E", b"\x00" + struct.pack("!i", 0))
            + _pg_msg(b"S", b"")
        )
        msgs = _pg_read(s, buf)
    finally:
        s.close()
    assert b"E" not in [t for t, _ in msgs], msgs
    return [_b64(t + b) for t, b in msgs if t in (b"D", b"s", b"C")]


# -------------------------------------------------------------- http
def _http(port: int, sql: str) -> str:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/query",
        data=json.dumps({"query": sql + ";"}).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=120) as resp:
        body = resp.read().decode()
    start = body.index('"columns": ')
    return body[start : body.index(', "rowCount": ', start)]


# -------------------------------------------------------------- rows
def _canon(v):
    """repr-able form of a rows value; a VariantVal by its two buffers."""
    from pyspark.sql import Row
    from pyspark.sql.types import VariantVal

    if isinstance(v, VariantVal):
        return ("VariantVal", bytes(v.value), bytes(v.metadata))
    if isinstance(v, Row):
        return Row(**{k: _canon(x) for k, x in v.asDict().items()})
    if isinstance(v, (list, tuple)):
        return type(v)(_canon(x) for x in v)
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in v.items()}
    return v


def capture(engine) -> dict:
    from ranger_spark.sources import http_server, native_server, pgwire_server

    for sql in SETUP:
        engine.execute(sql)
    nat = native_server.serve(engine)
    pg = pgwire_server.serve(engine)
    http, http_port = http_server.serve(engine)
    out: dict = {}
    try:
        for name, sql in QUERIES.items():
            r = engine.execute(sql + ";")
            out[name] = {
                "columns": list(r.columns),
                "rows": repr(_canon(r.rows)),
                "native": _native(nat.port, sql),
                "pgwire": _pg_simple(pg.port, sql, (b"T", b"D", b"C")),
                "http": _http(http_port, sql),
            }
        out["strings"]["pgwire_portal"] = _pg_portal(
            pg.port, QUERIES["strings"]
        )
        for table in COPIES:
            out[f"copy {table}"] = {
                fmt: sorted(
                    _pg_simple(
                        pg.port,
                        f"COPY {table} TO STDOUT"
                        + (" WITH (FORMAT csv)" if fmt == "csv" else ""),
                        (b"d",),
                    )
                )
                for fmt in ("text", "csv")
            }
    finally:
        nat.shutdown()
        pg.shutdown()
        http.shutdown()
        http.server_close()
    return out


@pytest.fixture(scope="module")
def captured(engine):
    try:
        yield capture(engine)
    finally:
        engine.execute("DROP DATABASE IF EXISTS wg CASCADE;")


_GOLD = {}
if os.path.exists(GOLDENS):
    with open(GOLDENS) as _f:
        _GOLD = json.load(_f)


@pytest.mark.parametrize("case", sorted(_GOLD))
def test_wire_bytes_match_goldens(captured, case):
    got, want = captured[case], _GOLD[case]
    for part in want:
        assert got[part] == want[part], f"{case}: {part} drifted"
    assert set(got) == set(want)


def test_goldens_cover_every_case(captured):
    assert set(captured) == set(_GOLD)


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT INTERVAL '1' YEAR AS ym;",
        "SELECT make_interval(1, 2, 3, 4, 5, 6, 7) AS cal;",
    ],
)
def test_unsupported_interval_results_fail(engine, sql):
    """Year-month and calendar intervals have no Python value in a result:
    the statement fails, naming the type, on every path."""
    with pytest.raises(Exception) as ei:
        engine.execute(sql)
    assert ("YearMonthIntervalType" in str(ei.value)) or (
        "CalendarIntervalType" in str(ei.value)
    )


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit("usage: python tests/test_wire_goldens.py --write")
    import tempfile

    sys.path.insert(0, os.path.dirname(HERE))
    from ranger_spark.engine import Engine
    from ranger_spark.session import get_spark

    spark = get_spark(
        "wire_goldens",
        cpus=4,
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": tempfile.mkdtemp()},
    )
    eng = Engine(spark)
    try:
        data = capture(eng)
    finally:
        spark.stop()
    with open(GOLDENS, "w") as f:
        json.dump(data, f, indent=1, ensure_ascii=False, sort_keys=True)
        f.write("\n")
    print(f"wrote {GOLDENS}: {len(data)} cases")
