"""Postgres-wire simple-query round-trip, speaking the v3 protocol over a
raw socket (no pg client library ships in this container)."""

from __future__ import annotations

import socket
import struct

import pytest


def _startup_packet() -> bytes:
    params = b"user\x00ranger\x00database\x00default\x00\x00"
    body = struct.pack("!I", 196608) + params
    return struct.pack("!I", len(body) + 4) + body


def _query_packet(sql: str) -> bytes:
    payload = sql.encode() + b"\x00"
    return b"Q" + struct.pack("!I", len(payload) + 4) + payload


def _read_messages(sock: socket.socket, until_tag: bytes = b"Z"):
    msgs = []
    buf = b""
    while True:
        while len(buf) < 5:
            chunk = sock.recv(4096)
            if not chunk:
                return msgs
            buf += chunk
        tag = buf[:1]
        (length,) = struct.unpack("!I", buf[1:5])
        while len(buf) < 1 + length:
            buf += sock.recv(4096)
        msgs.append((tag, buf[5 : 1 + length]))
        buf = buf[1 + length :]
        if tag == until_tag:
            return msgs


@pytest.fixture(scope="module")
def pg(engine):
    from ranger_spark.sources.pgwire_server import serve

    srv = serve(engine)
    yield srv
    srv.shutdown()


def _connect(port) -> socket.socket:
    s = socket.create_connection(("127.0.0.1", port), timeout=30)
    s.sendall(_startup_packet())
    msgs = _read_messages(s)
    tags = [t for t, _ in msgs]
    assert b"R" in tags and b"Z" in tags  # AuthenticationOk … ReadyForQuery
    return s


def test_pgwire_select_roundtrip(pg, engine):
    engine.execute("CREATE DATABASE IF NOT EXISTS pgt;")
    engine.execute("DROP TABLE IF EXISTS pgt.t;")
    engine.execute("CREATE TABLE pgt.t (id int32, name string);")
    engine.execute("INSERT INTO pgt.t (id, name) VALUES (1, 'a'), (2, NULL);")

    s = _connect(pg.port)
    s.sendall(_query_packet("SELECT id, name FROM pgt.t ORDER BY id"))
    msgs = _read_messages(s)
    by_tag: dict[bytes, list[bytes]] = {}
    for t, body in msgs:
        by_tag.setdefault(t, []).append(body)
    # RowDescription names both columns
    assert b"id\x00" in by_tag[b"T"][0] and b"name\x00" in by_tag[b"T"][0]
    assert len(by_tag[b"D"]) == 2
    # row 1: "1","a"; row 2 has a NULL (length -1)
    assert b"1" in by_tag[b"D"][0] and b"a" in by_tag[b"D"][0]
    assert struct.pack("!i", -1) in by_tag[b"D"][1]
    assert by_tag[b"C"][0].startswith(b"SELECT 2")

    # DDL over the wire → CommandComplete, no row description
    s.sendall(_query_packet("BEGIN;"))
    msgs = _read_messages(s)
    tags = [t for t, _ in msgs]
    assert b"C" in tags and b"T" not in tags

    # errors → ErrorResponse then ReadyForQuery (connection stays usable)
    s.sendall(_query_packet("VACUUM nope"))
    msgs = _read_messages(s)
    assert any(t == b"E" for t, _ in msgs)
    s.sendall(_query_packet("SELECT 42 AS x"))
    msgs = _read_messages(s)
    assert any(t == b"D" and b"42" in body for t, body in msgs)
    s.sendall(b"X")
    s.close()
    engine.spark.sql("DROP DATABASE pgt CASCADE")


def test_pgwire_rejects_oversized_frame(pg):
    # ADVICE r1: the 4-byte length is client-controlled; a multi-GB claim
    # must be rejected before allocation, not honored
    s = _connect(pg.port)
    s.sendall(b"Q" + struct.pack("!I", 2**31 - 1))  # 2 GiB declared, no body
    msgs = _read_messages(s, until_tag=b"E")
    assert any(t == b"E" and b"bad frame length" in body for t, body in msgs)
    s.close()


def test_pgwire_mid_message_disconnect_is_clean(pg):
    # client dies after the header: server must close quietly, and the
    # listener must keep serving new connections
    s = _connect(pg.port)
    s.sendall(b"Q" + struct.pack("!I", 100))  # promises 96 bytes, sends none
    s.close()
    s2 = _connect(pg.port)
    s2.sendall(_query_packet("SELECT 1 AS one"))
    msgs = _read_messages(s2)
    assert any(t == b"D" for t, _ in msgs)
    s2.close()


def _ext(tag: bytes, payload: bytes) -> bytes:
    return tag + struct.pack("!I", len(payload) + 4) + payload


def _parse_pkt(name: str, sql: str) -> bytes:
    return _ext(
        b"P", name.encode() + b"\x00" + sql.encode() + b"\x00" + b"\x00\x00"
    )


def _bind_pkt(portal: str, stmt: str, params: list) -> bytes:
    body = portal.encode() + b"\x00" + stmt.encode() + b"\x00"
    body += struct.pack("!H", 0)  # no format codes (all text)
    body += struct.pack("!H", len(params))
    for p in params:
        if p is None:
            body += struct.pack("!i", -1)
        else:
            b = str(p).encode()
            body += struct.pack("!i", len(b)) + b
    body += struct.pack("!H", 0)  # result formats: default text
    return _ext(b"B", body)


def test_pgwire_extended_protocol_prepared_statements(pg, engine):
    """The reference acks Parse/Bind/Execute/Describe without executing
    (handler.go:162-201, all TODO); this server executes them. Full
    psycopg2-shaped flow over a raw socket: Parse → Describe(S) → Sync,
    then Bind → Describe(P) → Execute → Sync, with $n text parameters,
    max-row suspension and skip-to-Sync error recovery."""
    engine.execute("CREATE DATABASE IF NOT EXISTS pgx;")
    engine.execute("DROP TABLE IF EXISTS pgx.t;")
    engine.execute("CREATE TABLE pgx.t (id int32, name string);")
    engine.execute(
        "INSERT INTO pgx.t (id, name) VALUES (1, 'a'), (2, 'b'), (3, 'c');"
    )
    s = _connect(pg.port)
    # Parse + Describe(statement) + Sync
    s.sendall(_parse_pkt("st1", "SELECT id, name FROM pgx.t WHERE id > $1 ORDER BY id"))
    s.sendall(_ext(b"D", b"S" + b"st1\x00"))
    s.sendall(_ext(b"S", b""))
    msgs = _read_messages(s)
    tags = [t for t, _ in msgs]
    assert b"1" in tags  # ParseComplete
    assert b"t" in tags  # ParameterDescription (1 text param)
    pd = dict(msgs)[b"t"]
    assert struct.unpack_from("!H", pd)[0] == 1
    # unbound $1 → statement unanalyzable → NoData (reference's answer)
    assert b"n" in tags
    # Bind + Describe(portal) + Execute(all rows) + Sync
    s.sendall(_bind_pkt("", "st1", ["1"]))
    s.sendall(_ext(b"D", b"P" + b"\x00"))
    s.sendall(_ext(b"E", b"\x00" + struct.pack("!i", 0)))
    s.sendall(_ext(b"S", b""))
    msgs = _read_messages(s)
    by_tag: dict[bytes, list[bytes]] = {}
    for t, body in msgs:
        by_tag.setdefault(t, []).append(body)
    assert b"2" in by_tag  # BindComplete
    assert b"id\x00" in by_tag[b"T"][0]  # portal Describe → RowDescription
    assert len(by_tag[b"D"]) == 2  # rows id=2,3
    assert by_tag[b"C"][0].startswith(b"SELECT 2")
    # max_rows=1 → one row + PortalSuspended, resume drains the rest
    s.sendall(_bind_pkt("p2", "st1", [None]))  # NULL param → no rows
    s.sendall(_ext(b"E", b"p2\x00" + struct.pack("!i", 0)))
    s.sendall(_bind_pkt("p3", "st1", ["0"]))
    s.sendall(_ext(b"E", b"p3\x00" + struct.pack("!i", 2)))
    s.sendall(_ext(b"S", b""))
    msgs = _read_messages(s)
    tags = [t for t, _ in msgs]
    assert b"s" in tags  # suspended after 2 of 3 rows
    s.sendall(_ext(b"E", b"p3\x00" + struct.pack("!i", 0)))
    s.sendall(_ext(b"S", b""))
    msgs = _read_messages(s)
    assert any(t == b"C" and b"SELECT" in b for t, b in msgs)
    # error recovery: Bind to unknown statement → ErrorResponse, then the
    # connection skips to Sync and stays usable
    s.sendall(_bind_pkt("", "nope", []))
    s.sendall(_ext(b"E", b"\x00" + struct.pack("!i", 0)))  # must be skipped
    s.sendall(_ext(b"S", b""))
    msgs = _read_messages(s)
    tags = [t for t, _ in msgs]
    assert b"E" in tags and b"Z" in tags
    s.sendall(_query_packet("SELECT 7 AS x"))
    msgs = _read_messages(s)
    assert any(t == b"D" and b"7" in body for t, body in msgs)
    # Close the statement
    s.sendall(_ext(b"C", b"S" + b"st1\x00"))
    s.sendall(_ext(b"S", b""))
    msgs = _read_messages(s)
    assert any(t == b"3" for t, _ in msgs)  # CloseComplete
    s.sendall(b"X")
    s.close()
    engine.spark.sql("DROP DATABASE pgx CASCADE")


def test_pgwire_bound_parameters_stay_data(pg, engine):
    """A backslash parameter must not escape its closing quote: with
    ''-only quoting, '\\' ended the literal early and the second
    parameter's text ran as SQL (OR 1=1), returning every owner's rows."""
    engine.execute("CREATE DATABASE IF NOT EXISTS p;")
    engine.execute("DROP TABLE IF EXISTS p.secret;")
    engine.execute("CREATE TABLE p.secret (owner string, v string);")
    engine.execute(
        "INSERT INTO p.secret (owner, v) VALUES ('alice', 'a1'), ('bob', 'b1');"
    )
    s = _connect(pg.port)
    s.sendall(_parse_pkt(
        "inj", "SELECT v FROM p.secret WHERE owner = $1 AND v <> $2"
    ))
    s.sendall(_bind_pkt("", "inj", ["\\", " OR 1=1 --"]))
    s.sendall(_ext(b"E", b"\x00" + struct.pack("!i", 0)))
    s.sendall(_ext(b"S", b""))
    msgs = _read_messages(s)
    assert not any(t == b"E" for t, _ in msgs), msgs
    assert [t for t, _ in msgs if t == b"D"] == []
    assert any(t == b"C" and b.startswith(b"SELECT 0") for t, b in msgs)
    s.sendall(b"X")
    s.close()
    engine.spark.sql("DROP DATABASE p CASCADE")


def _copy_data_msg(data: bytes) -> bytes:
    return b"d" + struct.pack("!I", len(data) + 4) + data


def test_pgwire_copy_in(pg, engine):
    """COPY t FROM STDIN over raw v3 framing: CopyInResponse, CopyData
    frames (text + csv formats), CopyDone -> COPY n; rows land through
    the engine's validated snapshot-committed INSERT; CopyFail aborts
    cleanly and the connection stays usable."""
    engine.execute("CREATE DATABASE IF NOT EXISTS pgc;")
    engine.execute("DROP TABLE IF EXISTS pgc.load;")
    engine.execute(
        "CREATE TABLE pgc.load (id int32, name string, score float64);"
    )

    s = _connect(pg.port)
    # text format with a NULL and the trailing end marker
    s.sendall(_query_packet("COPY pgc.load (id, name, score) FROM STDIN"))
    msgs = _read_messages(s, until_tag=b"G")
    g = [body for t, body in msgs if t == b"G"]
    assert g and g[0][0] == 0 and struct.unpack("!H", g[0][1:3])[0] == 3
    s.sendall(_copy_data_msg(b"1\talice\t9.5\n2\t\\N\t"))
    s.sendall(_copy_data_msg(b"3.25\n\\.\n"))  # frame split mid-row
    s.sendall(b"c" + struct.pack("!I", 4))  # CopyDone
    msgs = _read_messages(s)
    assert any(t == b"C" and body.startswith(b"COPY 2") for t, body in msgs)

    # csv format with a quoted comma
    s.sendall(
        _query_packet(
            "COPY pgc.load (id, name, score) FROM STDIN WITH (FORMAT csv)"
        )
    )
    _read_messages(s, until_tag=b"G")
    s.sendall(_copy_data_msg(b'3,"x,y",0.5\n'))
    s.sendall(b"c" + struct.pack("!I", 4))
    msgs = _read_messages(s)
    assert any(t == b"C" and body.startswith(b"COPY 1") for t, body in msgs)

    rows = engine.execute(
        "SELECT id, name, score FROM pgc.load ORDER BY id;"
    ).rows
    assert rows == [(1, "alice", 9.5), (2, None, 3.25), (3, "x,y", 0.5)]
    # the COPY commits are snapshot commits (time-travelable)
    snaps = engine.execute("SHOW SNAPSHOTS FROM pgc.load;").rows
    assert len(snaps) >= 2

    # CopyFail aborts; connection stays usable
    s.sendall(_query_packet("COPY pgc.load (id, name, score) FROM STDIN"))
    _read_messages(s, until_tag=b"G")
    s.sendall(_copy_data_msg(b"9\tzz\t1.0\n"))
    s.sendall(b"f" + struct.pack("!I", 4))  # CopyFail
    msgs = _read_messages(s)
    assert any(t == b"E" for t, _ in msgs)
    s.sendall(_query_packet("SELECT count(*) AS n FROM pgc.load"))
    msgs = _read_messages(s)
    assert any(t == b"D" and b"3" in body for t, body in msgs)
    s.sendall(b"X")
    s.close()
    engine.spark.sql("DROP DATABASE pgc CASCADE")


def test_pgwire_copy_out(pg, engine):
    """COPY t TO STDOUT: CopyOutResponse, one CopyData per row (text:
    tab/backslash-N; csv with quoting), CopyDone, COPY n."""
    engine.execute("CREATE DATABASE IF NOT EXISTS pgo;")
    engine.execute("DROP TABLE IF EXISTS pgo.exp;")
    engine.execute("CREATE TABLE pgo.exp (id int32, name string);")
    engine.execute(
        "INSERT INTO pgo.exp (id, name) VALUES (1, 'a,b'), (2, NULL);"
    )
    s = _connect(pg.port)
    s.sendall(_query_packet("COPY pgo.exp (id, name) TO STDOUT"))
    msgs = _read_messages(s)
    tags = [t for t, _ in msgs]
    assert b"H" in tags and b"c" in tags
    data = b"".join(body for t, body in msgs if t == b"d")
    lines = sorted(data.decode().strip().split("\n"))
    assert lines == ["1\ta,b", "2\t\\N"]
    assert any(t == b"C" and body.startswith(b"COPY 2") for t, body in msgs)

    s.sendall(_query_packet("COPY pgo.exp TO STDOUT WITH (FORMAT csv)"))
    msgs = _read_messages(s)
    data = b"".join(body for t, body in msgs if t == b"d")
    assert '"a,b"' in data.decode()
    s.sendall(b"X")
    s.close()
    engine.spark.sql("DROP DATABASE pgo CASCADE")


def test_copy_text_escape_unit():
    """PG COPY text-format escapes (ADVICE r7): \\t/\\n/\\r/\\b/\\f/\\v/
    \\\\, octal and hex forms unescape on the way in; \\N stays NULL but
    \\\\N is the literal two-char string; empty line = one empty-string
    field (not skipped); data after the \\. terminator is ignored."""
    import pyarrow as pa

    from ranger_spark.sources.pgwire_server import (
        _escape_copy_text,
        _parse_copy_rows,
        _unescape_copy_text,
    )

    assert _unescape_copy_text(r"a\tb\nc\\d") == "a\tb\nc\\d"
    assert _unescape_copy_text(r"\b\f\v\r") == "\b\f\v\r"
    assert _unescape_copy_text(r"\101\x41\x4a") == "AAJ"  # octal + hex
    assert _unescape_copy_text(r"\9") == "9"  # unknown escape: \ dropped
    assert _unescape_copy_text("plain") == "plain"

    rows = _parse_copy_rows(b"a\\tb\t\\N\t\\\\N\n\\.\nignored\tx\ty\n", "text", 3)
    assert rows == [("a\tb", None, "\\N")]
    # empty line is a valid single-empty-string row for a 1-col target
    assert _parse_copy_rows(b"\nx\n", "text", 1) == [("",), ("x",)]
    # round-trip: escape then unescape is identity
    for v in ["a\tb", "line1\nline2", "back\\slash", "cr\rhere", "plain"]:
        esc = _escape_copy_text(pa.array([v]))[0].as_py()
        assert _unescape_copy_text(esc) == v


def test_copy_csv_null_semantics_unit():
    """PG COPY csv: unquoted empty field is NULL, quoted "" is the empty
    string; quoted commas/newlines/doubled quotes survive; \\. marker
    terminates the stream."""
    from ranger_spark.sources.pgwire_server import _parse_copy_rows

    rows = _parse_copy_rows(b'1,,""\n2,"a,b","x""y"\n3,"l1\nl2",\n', "csv", 3)
    assert rows == [
        ("1", None, ""),
        ("2", "a,b", 'x"y'),
        ("3", "l1\nl2", None),
    ]
    assert _parse_copy_rows(b"1,a\n\\.\n9,z\n", "csv", 2) == [("1", "a")]


def test_pgwire_copy_escape_roundtrip(pg, engine):
    """Values containing tab/newline/backslash survive COPY IN (escaped)
    -> engine -> COPY OUT (re-escaped) without breaking row framing."""
    engine.execute("CREATE DATABASE IF NOT EXISTS pge;")
    engine.execute("DROP TABLE IF EXISTS pge.esc;")
    engine.execute("CREATE TABLE pge.esc (id int32, v string);")
    s = _connect(pg.port)
    s.sendall(_query_packet("COPY pge.esc (id, v) FROM STDIN"))
    _read_messages(s, until_tag=b"G")
    s.sendall(_copy_data_msg(b"1\ta\\tb\n2\tl1\\nl2\n3\tback\\\\slash\n"))
    s.sendall(b"c" + struct.pack("!I", 4))
    msgs = _read_messages(s)
    assert any(t == b"C" and body.startswith(b"COPY 3") for t, body in msgs)
    rows = dict(engine.execute("SELECT id, v FROM pge.esc;").rows)
    assert rows == {1: "a\tb", 2: "l1\nl2", 3: "back\\slash"}

    s.sendall(_query_packet("COPY pge.esc (id, v) TO STDOUT"))
    msgs = _read_messages(s)
    data = b"".join(body for t, body in msgs if t == b"d")
    lines = sorted(data.decode().strip("\n").split("\n"))
    # every control char re-escaped: framing is 3 lines x 2 tab-separated cols
    assert lines == ["1\ta\\tb", "2\tl1\\nl2", "3\tback\\\\slash"]
    s.sendall(b"X")
    s.close()
    engine.spark.sql("DROP DATABASE pge CASCADE")


def test_pgwire_copy_error_drains_remaining_frames(pg, engine):
    """After a mid-COPY error the server must consume CopyData frames
    until CopyDone/CopyFail (protocol rule) instead of answering each
    leftover 'd' frame with 'unsupported message' (ADVICE r7)."""
    engine.execute("CREATE DATABASE IF NOT EXISTS pgd;")
    engine.execute("DROP TABLE IF EXISTS pgd.t;")
    engine.execute("CREATE TABLE pgd.t (id int32);")
    s = _connect(pg.port)
    s.sendall(_query_packet("COPY pgd.t (id) FROM STDIN"))
    _read_messages(s, until_tag=b"G")
    s.sendall(_copy_data_msg(b"1\n"))
    # an illegal message mid-copy triggers the error path...
    s.sendall(b"p" + struct.pack("!I", 5) + b"\x00")
    # ...followed by more CopyData the server must silently drain
    s.sendall(_copy_data_msg(b"2\n"))
    s.sendall(_copy_data_msg(b"3\n"))
    s.sendall(b"c" + struct.pack("!I", 4))  # CopyDone ends the drain
    msgs = _read_messages(s)
    tags = [t for t, _ in msgs]
    assert b"E" in tags  # exactly one error for the illegal message
    assert sum(1 for t in tags if t == b"E") == 1
    # connection is back in the normal loop and usable
    s.sendall(_query_packet("SELECT 7 AS x"))
    msgs = _read_messages(s)
    assert any(t == b"D" and b"7" in body for t, body in msgs)
    s.sendall(b"X")
    s.close()
    engine.spark.sql("DROP DATABASE pgd CASCADE")


def test_insert_string_block_large_payload_atomic(engine):
    """A COPY above INSERT_CHUNK_ROWS lands through ONE typed DataFrame
    append (no multi-hundred-MB SQL string, ADVICE r7) and stays ATOMIC
    (PostgreSQL COPY contract): a bad value anywhere rejects the whole
    load with ZERO snapshots committed — a chunked-INSERT variant would
    leave earlier chunks committed on a mid-stream failure."""
    from ranger_spark.sources.native_server import (
        INSERT_CHUNK_ROWS,
        insert_string_block,
    )

    engine.execute("CREATE DATABASE IF NOT EXISTS blk;")
    engine.execute("DROP TABLE IF EXISTS blk.t;")
    engine.execute("CREATE TABLE blk.t (id int64, v string);")
    n_rows = INSERT_CHUNK_ROWS + 500
    rows = [(str(i), f"v{i}") for i in range(n_rows)]
    snaps_before = len(engine.execute("SHOW SNAPSHOTS FROM blk.t;").rows)
    assert insert_string_block(engine, "blk.t", ["id", "v"], rows) == n_rows
    snaps_after = len(engine.execute("SHOW SNAPSHOTS FROM blk.t;").rows)
    assert snaps_after == snaps_before + 1  # ONE commit for the whole COPY
    got = engine.execute("SELECT count(*) AS n, sum(id) AS s FROM blk.t;").rows
    assert got == [(n_rows, sum(range(n_rows)))]
    # empty string on a non-string column is NULL (SQL-path parity)
    rows2 = [(str(i), "x") for i in range(INSERT_CHUNK_ROWS)] + [("", "y")]
    insert_string_block(engine, "blk.t", ["id", "v"], rows2)
    assert engine.execute(
        "SELECT count(*) AS n FROM blk.t WHERE id IS NULL;"
    ).rows == [(1,)]

    # atomicity: one uncastable value deep in the payload -> typed
    # rejection, NO rows loaded, NO snapshot committed
    bad = [(str(i), "z") for i in range(INSERT_CHUNK_ROWS)] + [("oops", "z")]
    before = engine.execute("SELECT count(*) AS n FROM blk.t;").rows
    snaps = len(engine.execute("SHOW SNAPSHOTS FROM blk.t;").rows)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="nothing was loaded"):
        insert_string_block(engine, "blk.t", ["id", "v"], bad)
    assert engine.execute("SELECT count(*) AS n FROM blk.t;").rows == before
    assert len(engine.execute("SHOW SNAPSHOTS FROM blk.t;").rows) == snaps
    engine.spark.sql("DROP DATABASE blk CASCADE")


def test_pgwire_copy_csv_null_vs_empty_roundtrip(pg, engine):
    """COPY OUT csv must distinguish NULL (bare empty field) from the
    empty string (quoted \"\") so a COPY IN of the same payload
    round-trips — csv.writer's QUOTE_MINIMAL erased that (r8)."""
    engine.execute("CREATE DATABASE IF NOT EXISTS pgcsv;")
    engine.execute("DROP TABLE IF EXISTS pgcsv.t;")
    engine.execute("CREATE TABLE pgcsv.t (id int32, v string);")
    s = _connect(pg.port)
    s.sendall(
        _query_packet("COPY pgcsv.t (id, v) FROM STDIN WITH (FORMAT csv)")
    )
    _read_messages(s, until_tag=b"G")
    s.sendall(_copy_data_msg(b'1,\n2,""\n3,x\n'))  # NULL, empty, plain
    s.sendall(b"c" + struct.pack("!I", 4))
    msgs = _read_messages(s)
    assert any(t == b"C" and body.startswith(b"COPY 3") for t, body in msgs)
    rows = dict(engine.execute("SELECT id, v FROM pgcsv.t;").rows)
    assert rows == {1: None, 2: "", 3: "x"}

    s.sendall(_query_packet("COPY pgcsv.t (id, v) TO STDOUT WITH (FORMAT csv)"))
    msgs = _read_messages(s)
    data = b"".join(body for t, body in msgs if t == b"d").decode()
    lines = sorted(data.strip("\n").split("\n"))
    assert lines == ['1,', '2,""', "3,x"]
    s.sendall(b"X")
    s.close()
    engine.spark.sql("DROP DATABASE pgcsv CASCADE")


def test_insert_string_block_session_db_and_column_case(engine):
    """ADVICE r8 (high + medium): (1) a COPY above INSERT_CHUNK_ROWS with
    an UNQUALIFIED table name and a session database commits into the
    session database's table — never into a same-named table in the
    engine's current database; (2) COPY column names resolve
    case-insensitively on the DataFrame path (SQL-path parity) and an
    unknown column is a typed reject with nothing loaded."""
    import pytest as _pytest

    from ranger_spark.sources.native_server import (
        INSERT_CHUNK_ROWS,
        insert_string_block,
    )

    engine.execute("CREATE DATABASE IF NOT EXISTS blka;")
    engine.execute("CREATE DATABASE IF NOT EXISTS blkb;")
    engine.execute("DROP TABLE IF EXISTS blka.t;")
    engine.execute("DROP TABLE IF EXISTS blkb.t;")
    engine.execute("CREATE TABLE blka.t (id int64, v string);")
    engine.execute("CREATE TABLE blkb.t (id int64, v string);")
    engine.execute("USE blka;")
    try:
        n = INSERT_CHUNK_ROWS + 10
        rows = [(str(i), "x") for i in range(n)]
        # session db blkb + unqualified name: the load must land in
        # blkb.t even though the engine's current db is blka
        assert insert_string_block(engine, "t", ["id", "v"], rows,
                                   database="blkb") == n
        assert engine.execute("SELECT count(*) AS n FROM blkb.t;").rows == [(n,)]
        assert engine.execute("SELECT count(*) AS n FROM blka.t;").rows == [(0,)]
        # case-mismatched COPY column list resolves against the schema
        assert insert_string_block(engine, "blkb.t", ["ID", "V"], rows) == n
        assert engine.execute(
            "SELECT count(*) AS n FROM blkb.t;"
        ).rows == [(2 * n,)]
        # unknown column: typed reject, zero rows loaded
        with _pytest.raises(ValueError, match="unknown column"):
            insert_string_block(engine, "blkb.t", ["id", "nope"], rows)
        assert engine.execute(
            "SELECT count(*) AS n FROM blkb.t;"
        ).rows == [(2 * n,)]
        # duplicate columns after case folding: typed reject
        with _pytest.raises(ValueError, match="duplicate column"):
            insert_string_block(engine, "blkb.t", ["id", "ID"],
                                [(r[0], r[0]) for r in rows])
    finally:
        engine.execute("USE default;")
        engine.spark.sql("DROP DATABASE blka CASCADE")
        engine.spark.sql("DROP DATABASE blkb CASCADE")


def _startup_packet_db(db: str) -> bytes:
    params = f"user\x00ranger\x00database\x00{db}\x00\x00".encode()
    body = struct.pack("!I", 196608) + params
    return struct.pack("!I", len(body) + 4) + body


def test_pgwire_startup_database_scopes_queries(pg, engine):
    """The startup packet's database parameter scopes unqualified table
    names for the whole connection (reference JDBC protocol startup) —
    per-statement engine scoping, never a sticky USE; an unknown dbname
    is a typed startup error (PostgreSQL FATAL parity)."""
    engine.execute("CREATE DATABASE IF NOT EXISTS pgdb1;")
    engine.execute("DROP TABLE IF EXISTS pgdb1.st;")
    engine.execute("CREATE TABLE pgdb1.st (id int32);")
    engine.execute("INSERT INTO pgdb1.st (id) VALUES (7);")

    s = socket.create_connection(("127.0.0.1", pg.port), timeout=30)
    s.sendall(_startup_packet_db("pgdb1"))
    assert b"R" in [t for t, _ in _read_messages(s)]
    # unqualified name resolves in pgdb1
    s.sendall(_query_packet("SELECT id FROM st"))
    msgs = _read_messages(s)
    by_tag = {}
    for t, body in msgs:
        by_tag.setdefault(t, []).append(body)
    assert b"7" in by_tag[b"D"][0]
    # COPY in/out against the unqualified name lands in pgdb1.st
    payload = b"8\n"
    s.sendall(_query_packet("COPY st FROM STDIN"))
    # CopyInResponse then send data + Done
    hdr = _read_messages(s, until_tag=b"G")
    assert hdr[-1][0] == b"G"
    s.sendall(b"d" + struct.pack("!I", len(payload) + 4) + payload)
    s.sendall(b"c" + struct.pack("!I", 4))
    done = _read_messages(s)
    assert any(t == b"C" and b"COPY 1" in b for t, b in done)
    assert engine.execute("SELECT count(*) AS n FROM pgdb1.st;").rows == [(2,)]
    s.sendall(b"X")
    s.close()

    # unknown database: typed startup error, no ReadyForQuery
    s2 = socket.create_connection(("127.0.0.1", pg.port), timeout=30)
    s2.sendall(_startup_packet_db("no_such_db"))
    msgs2 = _read_messages(s2, until_tag=b"E")
    assert any(t == b"E" and b"does not exist" in b for t, b in msgs2)
    s2.close()
    engine.spark.sql("DROP DATABASE pgdb1 CASCADE")


def test_pgwire_describe_uses_the_connection_database(pg, engine):
    """Describe analyzes the statement in the connection's startup
    database, as Execute runs it: a RowDescription, not NoData."""
    engine.execute("CREATE DATABASE IF NOT EXISTS ddx;")
    engine.execute("CREATE TABLE ddx.only_here (id int32);")
    engine.execute("INSERT INTO ddx.only_here (id) VALUES (5);")
    s = socket.create_connection(("127.0.0.1", pg.port), timeout=30)
    s.sendall(_startup_packet_db("ddx"))
    assert b"R" in [t for t, _ in _read_messages(s)]
    s.sendall(_parse_pkt("st", "SELECT id FROM only_here"))
    s.sendall(_ext(b"D", b"Sst\x00"))
    s.sendall(_bind_pkt("", "st", []))
    s.sendall(_ext(b"E", b"\x00" + struct.pack("!i", 0)))
    s.sendall(_ext(b"S", b""))
    msgs = _read_messages(s)
    tags = [t for t, _ in msgs]
    assert b"T" in tags and b"n" not in tags, tags
    assert b"id\x00" in dict(msgs)[b"T"]
    assert any(t == b"D" and b"5" in body for t, body in msgs)
    s.sendall(b"X")
    s.close()
    engine.spark.sql("DROP DATABASE ddx CASCADE")


def test_pgwire_describe_of_a_time_travel_query(pg, engine):
    """Describe binds a ``VERSION AS OF`` relation as Execute does: a
    RowDescription, not NoData."""
    engine.execute("CREATE DATABASE IF NOT EXISTS ddtt;")
    engine.execute("CREATE TABLE ddtt.t (id int32, tag string);")  # v1
    engine.execute("INSERT INTO ddtt.t (id, tag) VALUES (5, 'x');")  # v2
    engine.execute("INSERT INTO ddtt.t (id, tag) VALUES (6, 'y');")  # v3
    s = _connect(pg.port)
    s.sendall(_parse_pkt("st", "SELECT id, tag FROM ddtt.t VERSION AS OF 2"))
    s.sendall(_ext(b"D", b"Sst\x00"))
    s.sendall(_bind_pkt("", "st", []))
    s.sendall(_ext(b"E", b"\x00" + struct.pack("!i", 0)))
    s.sendall(_ext(b"S", b""))
    msgs = _read_messages(s)
    tags = [t for t, _ in msgs]
    assert b"T" in tags and b"n" not in tags, tags
    assert b"tag\x00" in dict(msgs)[b"T"]
    assert [body for t, body in msgs if t == b"D"] == [
        struct.pack("!H", 2) + struct.pack("!i", 1) + b"5"
        + struct.pack("!i", 1) + b"x"
    ]
    s.sendall(b"X")
    s.close()
    engine.spark.sql("DROP DATABASE ddtt CASCADE")


def _record_server_sends(monkeypatch, port):
    """Every sendall the server makes on ``port``: (socket, bytes)."""
    sent = []
    orig = socket.socket.sendall

    def sendall(sock, data, *a):
        try:
            if sock.getsockname()[1] == port:
                sent.append((sock, bytes(data)))
        except OSError:
            pass
        return orig(sock, data, *a)

    monkeypatch.setattr(socket.socket, "sendall", sendall)
    return sent


def test_pgwire_one_row_select_is_one_write_without_nagle(pg, monkeypatch):
    s = _connect(pg.port)
    sent = _record_server_sends(monkeypatch, pg.port)
    s.sendall(_query_packet("SELECT 1 AS one"))
    msgs = _read_messages(s)
    assert [t for t, _ in msgs] == [b"T", b"D", b"C", b"Z"]
    # the response, then ReadyForQuery
    assert len(sent) <= 2
    conn = sent[0][0]
    assert conn.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY) == 1
    s.sendall(b"X" + struct.pack("!I", 4))
    s.close()
