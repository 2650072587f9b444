"""Native TCP signal protocol over the Engine — a stdlib-socket port of
the reference's custom framed protocol (reference
server/protocols/native/connection.go:121-248 connection loop, framing
server/protocols/native/protocol/codec.go: ``[4B BE length][1B type]
[payload]`` with length = 1 + len(payload), signal layouts
server/protocols/native/protocol/signals/*.go, type constants
protocol/constants.go — ClickHouse-style numbering, client 0-4 / server
100-116).

Implemented signals (the set the reference's connection loop handles):

client → server
  0 ClientHello   u8-len strings (name, db, user, password) + LEB128
                  varints (major, minor, protocol, idle_timeout,
                  read_timeout)                       [client_hello.go]
  1 ClientQuery   five (u32BE-len + str): query, query_id, database,
                  user, password                      [client_query.go]
  2 ClientData    table (u32BE+str), col_count u32BE, row_count u32BE,
                  col names (u32BE+str)*, values row-major (u32BE+str)*
                  — all values travel as strings; the engine's schema
                  coerces (reference "Ranger knows the schema")
                                                      [client_data.go]
  3 ClientCancel  query_id (u32BE+str)                [client_cancel.go]
  4 ClientPing    empty                               [client_ping.go]

server → client
  100 ServerHello      name (u32BE+str), major u8, minor u8, revision
                       varint, tz (u32BE+str), display (u32BE+str),
                       patch varint                   [server_hello.go]
  101 ServerData       uvarint col_count; per column uvarint-len name +
                       uvarint-len type; uvarint data_block(=1); uvarint
                       row_count; per COLUMN one uvarint-len string of
                       comma-joined values (the reference's columnar
                       text block)                    [server_data.go]
  102 ServerException  uvarint-len strings (code, message, stack)
                                                      [server_exception.go]
  104 ServerPong       u64BE timestamp                [server_pong.go]
  105 ServerEndOfStream empty                         [server_end_of_stream.go]
  116 ServerClose      reason (u32BE+str)             [server_close.go]

Behavior parity with connection.go:
- query → ServerData + ServerEndOfStream (one data frame;
  sendQueryEngineResultsSignal), errors → ServerException, connection
  stays open;
- cancel → engine cancel; success sends the reference's "simple
  acknowledgment" shape (sendTableResult: a columns-only ServerData,
  then a data ServerData with synthesized ``col_N`` names, then
  EndOfStream); failure → ServerException;
- data (batch insert) → engine insert; success sends no response
  (processDataBlock returns silently), failure closes the connection
  after an exception — same as the reference returning err from Handle;
- ping → ServerPong; unknown type → ServerException then disconnect.

Scale note: this is a control-plane surface (statements in, ≤100k-row
text results out). Bulk data movement at 100 TB goes through the
storage layer (parquet/Iceberg appends), exactly as in the reference —
the native protocol's ClientData is its chunked-ingest path, which maps
here to one INSERT statement per frame.
"""

from __future__ import annotations

import functools
import re
import socket
import struct
import threading
import time
import zlib

import pyarrow as pa
import pyarrow.compute as pc

from ranger_spark import sqltext
from ranger_spark.engine import RESULT_CAP, Engine
from ranger_spark.errors import RangerError
from ranger_spark.frames import local_frame
from ranger_spark.result import joined
from ranger_spark.router import READ_KINDS, route

# protocol/constants.go (ClickHouse-compatible numbering)
CLIENT_HELLO = 0
CLIENT_QUERY = 1
CLIENT_DATA = 2
CLIENT_CANCEL = 3
CLIENT_PING = 4
SERVER_HELLO = 100
SERVER_DATA = 101
SERVER_PROGRESS = 103
SERVER_PROFILE_INFO = 106
SERVER_EXCEPTION = 102
SERVER_PONG = 104
SERVER_END_OF_STREAM = 105
SERVER_CLOSE = 116

DBMS_TCP_PROTOCOL_VERSION = 54460
MAX_FRAME = 64 * 1024 * 1024  # cap client-declared frame length
# Bound on rows per rendered INSERT statement: keeps a cap-sized COPY
# from becoming one multi-hundred-MB SQL string on the shared engine.
INSERT_CHUNK_ROWS = 10_000

# wire compression codecs — numbering matches the reference SDK enum
# exactly (pkg/sdk/client.go:51-58: None=0, LZ4=1, LZ4HC=2, ZSTD=3,
# GZIP=4, Deflate=5, Brotli=6) so a reference client's requested codec
# byte maps to the same meaning here. GZIP and Deflate ride stdlib zlib;
# LZ4, LZ4HC, ZSTD and Brotli ride pyarrow's bundled C codecs (the
# reference links the lz4 and zstd C libraries). All seven are always
# available; a hello asking for any other byte gets the typed rejection.
COMPRESSION_NONE = 0
COMPRESSION_LZ4 = 1
COMPRESSION_LZ4HC = 2
COMPRESSION_ZSTD = 3
COMPRESSION_GZIP = 4
COMPRESSION_DEFLATE = 5
COMPRESSION_BROTLI = 6
# Back-compat alias: earlier rounds exposed the zlib codec under this name.
COMPRESSION_ZLIB = COMPRESSION_DEFLATE
_COMPRESS_MIN_BYTES = 64  # tiny frames aren't worth a deflate round trip


def _zlib_codec(wbits: int):
    """(compress, decompress) over one zlib container: wbits 31 is gzip
    (no gzip-module timestamp nondeterminism), MAX_WBITS is deflate."""

    def compress(payload: bytes) -> bytes:
        co = zlib.compressobj(6, zlib.DEFLATED, wbits)
        return co.compress(payload) + co.flush()

    def decompress(body: bytes, raw_len: int) -> bytes:
        dobj = zlib.decompressobj(wbits)
        # max_length=0 means UNLIMITED to zlib, so a declared raw_len of 0
        # must not be passed through — inflate at most 1 byte and require
        # the stream to produce nothing.
        out = dobj.decompress(body, raw_len if raw_len > 0 else 1)
        if raw_len == 0 and out:
            raise ValueError("decompressed length exceeds declared 0")
        if dobj.unconsumed_tail and dobj.decompress(dobj.unconsumed_tail, 1):
            raise ValueError(f"decompressed length exceeds declared {raw_len}")
        return out

    return compress, decompress


def _arrow_stream_decompress(name: str):
    """Decoder through pyarrow's streaming reader. Reading raw_len + 1
    bytes caps the output during inflation and shows an under-declared
    length. The one-shot ``Codec.decompress`` is not used: for brotli it
    pads a stream shorter than the declared length up to that length."""

    def decompress(body: bytes, raw_len: int) -> bytes:
        stream = pa.CompressedInputStream(pa.BufferReader(body), name)
        return stream.read(raw_len + 1)

    return decompress


_LZ4 = pa.Codec("lz4_raw")


def _lz4_decompress(body: bytes, raw_len: int) -> bytes:
    """pyarrow has no streaming lz4_raw decoder. Its one-shot decoder
    fails on a block longer than the buffer, so the cap holds during
    decode, but pads a shorter one: a block that also decodes into
    raw_len - 1 bytes was over-declared."""
    out = _LZ4.decompress(body, decompressed_size=raw_len, asbytes=True)
    if raw_len:
        try:
            _LZ4.decompress(body, decompressed_size=raw_len - 1)
        except OSError:  # pyarrow's corrupt-data error
            return out
        raise ValueError(f"decompressed length < declared {raw_len}")
    return out


def _arrow_compress(name: str, **kw):
    return functools.partial(pa.Codec(name, **kw).compress, asbytes=True)


# enum → (compress, decompress(body, raw_len)), for every compressed enum
_CODECS = {
    COMPRESSION_LZ4: (_arrow_compress("lz4_raw"), _lz4_decompress),
    # LZ4HC is the same block format from lz4's high-compression encoder
    # (pyarrow switches to it from level 3; 9 is lz4's HC default)
    COMPRESSION_LZ4HC: (
        _arrow_compress("lz4_raw", compression_level=9), _lz4_decompress,
    ),
    COMPRESSION_ZSTD: (
        _arrow_compress("zstd"), _arrow_stream_decompress("zstd"),
    ),
    COMPRESSION_GZIP: _zlib_codec(31),
    COMPRESSION_DEFLATE: _zlib_codec(zlib.MAX_WBITS),
    COMPRESSION_BROTLI: (
        _arrow_compress("brotli"), _arrow_stream_decompress("brotli"),
    ),
}
AVAILABLE_CODECS = frozenset({COMPRESSION_NONE, *_CODECS})


def wrap_payload(codec: int, payload: bytes) -> bytes:
    """Compressed-session envelope: [u8 codec][uvarint raw_len][body].
    Small or incompressible payloads ship with codec 0 inside the
    envelope — the receiver trusts the per-frame byte, not the session
    codec, so mixed frames are fine."""
    if len(payload) >= _COMPRESS_MIN_BYTES and codec in _CODECS:
        comp = _CODECS[codec][0](payload)
        if len(comp) < len(payload):
            return bytes([codec]) + write_uvarint(len(payload)) + comp
    return bytes([COMPRESSION_NONE]) + write_uvarint(len(payload)) + payload


def unwrap_payload(data: bytes) -> bytes:
    """Inverse of wrap_payload; validates the declared raw length.

    The declared raw length is bounded by MAX_FRAME *before* inflating
    and enforced *during* inflation by every decoder, so a small bomb
    cannot expand past the frame cap server-side. A corrupt body, or one
    that decodes to any other length than declared, is a ValueError.
    """
    if not data:
        raise ValueError("empty compressed envelope")
    codec = data[0]
    raw_len, pos = read_uvarint(data, 1)
    if raw_len > MAX_FRAME:
        raise ValueError(
            f"declared raw length {raw_len} exceeds frame cap {MAX_FRAME}"
        )
    body = data[pos:]
    if codec == COMPRESSION_NONE:
        out = body
    elif codec in _CODECS:
        try:
            out = _CODECS[codec][1](body, raw_len)
        except (OSError, zlib.error) as e:
            raise ValueError(f"corrupt codec {codec} body: {e}") from e
    else:
        raise ValueError(f"unsupported wire compression codec {codec}")
    if len(out) != raw_len:
        raise ValueError(
            f"decompressed length {len(out)} != declared {raw_len}"
        )
    return out


# ------------------------------------------------------------ primitives
def write_uvarint(n: int) -> bytes:
    """LEB128 (7-bit groups, LSB first) — the Go loop in every signal."""
    out = bytearray()
    while n >= 0x80:
        out.append((n & 0xFF) | 0x80)
        n >>= 7
    out.append(n & 0x7F)
    return bytes(out)


def read_uvarint(data: bytes, pos: int) -> tuple[int, int]:
    value, shift = 0, 0
    for i in range(pos, len(data)):
        b = data[i]
        value |= (b & 0x7F) << shift
        if not b & 0x80:
            return value, i + 1
        shift += 7
        if shift >= 64:
            raise ValueError("uvarint overflow")
    raise ValueError("incomplete uvarint")


def _s32(s: str) -> bytes:
    b = s.encode()
    return struct.pack("!I", len(b)) + b


def _r32(data: bytes, pos: int) -> tuple[str, int]:
    (n,) = struct.unpack_from("!I", data, pos)
    pos += 4
    if pos + n > len(data):
        raise ValueError("truncated string")
    return data[pos : pos + n].decode(), pos + n


def _s8(s: str) -> bytes:
    b = s.encode()
    if len(b) > 255:
        raise ValueError("u8-length string too long")
    return bytes([len(b)]) + b


def _r8(data: bytes, pos: int) -> tuple[str, int]:
    n = data[pos]
    pos += 1
    return data[pos : pos + n].decode(), pos + n


def _suv(s: str) -> bytes:
    b = s.encode()
    return write_uvarint(len(b)) + b


def _ruv(data: bytes, pos: int) -> tuple[str, int]:
    n, pos = read_uvarint(data, pos)
    if pos + n > len(data):
        raise ValueError("truncated uvarint string")
    return data[pos : pos + n].decode(), pos + n


# --------------------------------------------------------------- framing
def encode_frame(sig_type: int, payload: bytes) -> bytes:
    """codec.go EncodeMessage/WriteMessage: [len u32BE][type u8][payload],
    len = 1 + len(payload)."""
    return struct.pack("!IB", 1 + len(payload), sig_type) + payload


def read_frame(recv_exact) -> tuple[int, bytes] | None:
    head = recv_exact(5)
    if head is None:
        return None
    length, sig_type = struct.unpack("!IB", head)
    if not 1 <= length <= MAX_FRAME:
        raise ValueError(f"bad frame length {length}")
    payload = recv_exact(length - 1) if length > 1 else b""
    if payload is None:
        return None
    return sig_type, payload


# ------------------------------------------------------ signal pack/unpack
def pack_client_hello(
    name: str,
    database: str = "",
    user: str = "",
    password: str = "",
    idle_timeout: int = 0,
    read_timeout: int = 0,
    compression: int = COMPRESSION_NONE,
) -> bytes:
    return (
        _s8(name)
        + write_uvarint(1)  # major
        + write_uvarint(0)  # minor
        + write_uvarint(DBMS_TCP_PROTOCOL_VERSION)
        + _s8(database)
        + _s8(user)
        + _s8(password)
        + write_uvarint(idle_timeout)
        + write_uvarint(read_timeout)
        + write_uvarint(compression)
    )


def unpack_client_hello(data: bytes) -> dict:
    pos = 0
    name, pos = _r8(data, pos)
    major, pos = read_uvarint(data, pos)
    minor, pos = read_uvarint(data, pos)
    proto, pos = read_uvarint(data, pos)
    db, pos = _r8(data, pos)
    user, pos = _r8(data, pos)
    pwd, pos = _r8(data, pos)
    idle = rd = comp = 0
    if pos < len(data):
        idle, pos = read_uvarint(data, pos)
    if pos < len(data):
        rd, pos = read_uvarint(data, pos)
    if pos < len(data):
        comp, pos = read_uvarint(data, pos)
    return {
        "client_name": name,
        "major": major,
        "minor": minor,
        "protocol": proto,
        "database": db,
        "user": user,
        "password": pwd,
        "idle_timeout": idle,
        "read_timeout": rd,
        "compression": comp,
    }


def pack_client_query(
    query: str, query_id: str = "", database: str = "", user: str = "",
    password: str = "",
) -> bytes:
    return (
        _s32(query) + _s32(query_id) + _s32(database) + _s32(user)
        + _s32(password)
    )


def unpack_client_query(data: bytes) -> dict:
    pos = 0
    query, pos = _r32(data, pos)
    qid, pos = _r32(data, pos)
    db, pos = _r32(data, pos)
    user, pos = _r32(data, pos)
    pwd, pos = _r32(data, pos)
    return {"query": query, "query_id": qid, "database": db, "user": user,
            "password": pwd}


def pack_client_data(table: str, columns: list[str], rows: list[tuple]) -> bytes:
    out = bytearray(_s32(table))
    out += struct.pack("!II", len(columns), len(rows))
    for c in columns:
        out += _s32(c)
    for row in rows:
        for v in row:
            out += _s32("" if v is None else str(v))
    return bytes(out)


def unpack_client_data(data: bytes) -> dict:
    pos = 0
    table, pos = _r32(data, pos)
    ncols, nrows = struct.unpack_from("!II", data, pos)
    pos += 8
    cols = []
    for _ in range(ncols):
        c, pos = _r32(data, pos)
        cols.append(c)
    rows = []
    for _ in range(nrows):
        row = []
        for _ in range(ncols):
            v, pos = _r32(data, pos)
            row.append(v)
        rows.append(tuple(row))
    return {"table": table, "columns": cols, "rows": rows}


def pack_client_cancel(query_id: str) -> bytes:
    return _s32(query_id)


def pack_server_hello(
    name: str = "Ranger Server",
    timezone: str = "UTC",
    display: str = "Ranger Database Server",
) -> bytes:
    return (
        _s32(name)
        + bytes([1, 0])  # major, minor (single bytes in server_hello.go)
        + write_uvarint(DBMS_TCP_PROTOCOL_VERSION)
        + _s32(timezone)
        + _s32(display)
        + write_uvarint(0)  # version patch
    )


def unpack_server_hello(data: bytes) -> dict:
    pos = 0
    name, pos = _r32(data, pos)
    major, minor = data[pos], data[pos + 1]
    pos += 2
    rev, pos = read_uvarint(data, pos)
    tz, pos = _r32(data, pos)
    display, pos = _r32(data, pos)
    patch, pos = read_uvarint(data, pos)
    return {"server_name": name, "major": major, "minor": minor,
            "revision": rev, "timezone": tz, "display_name": display,
            "patch": patch}


def pack_server_progress(
    rows_read: int,
    bytes_read: int,
    total_rows: int = 0,
    total_bytes: int = 0,
    elapsed_s: float = 0.0,
) -> bytes:
    """server_progress.go Pack: four uvarints + elapsed micros as a
    big-endian u64 (the reference converts seconds × 1e6)."""
    return (
        write_uvarint(rows_read)
        + write_uvarint(bytes_read)
        + write_uvarint(total_rows)
        + write_uvarint(total_bytes)
        + struct.pack("!Q", int(elapsed_s * 1_000_000))
    )


def unpack_server_progress(data: bytes) -> dict:
    pos = 0
    rows_read, pos = read_uvarint(data, pos)
    bytes_read, pos = read_uvarint(data, pos)
    total_rows, pos = read_uvarint(data, pos)
    total_bytes, pos = read_uvarint(data, pos)
    (elapsed_us,) = struct.unpack_from("!Q", data, pos)
    return {
        "rows_read": rows_read,
        "bytes_read": bytes_read,
        "total_rows": total_rows,
        "total_bytes": total_bytes,
        "elapsed_s": elapsed_us / 1_000_000,
    }


def pack_server_profile_info(
    rows_before_limit: int,
    bytes_before_limit: int,
    applied_limit: int,
    applied_offset: int,
    rows_read: int,
    bytes_read: int,
) -> bytes:
    """server_profile_info.go Pack: six uvarints."""
    return b"".join(
        write_uvarint(v)
        for v in (
            rows_before_limit,
            bytes_before_limit,
            applied_limit,
            applied_offset,
            rows_read,
            bytes_read,
        )
    )


def unpack_server_profile_info(data: bytes) -> dict:
    keys = (
        "rows_before_limit",
        "bytes_before_limit",
        "applied_limit",
        "applied_offset",
        "rows_read",
        "bytes_read",
    )
    out, pos = {}, 0
    for k in keys:
        out[k], pos = read_uvarint(data, pos)
    return out


def pack_server_data(
    columns: list[tuple[str, str]], texts: list[pa.Array]
) -> bytes:
    """server_data.go Pack: columnar text block, per column its cells'
    text (``QueryResult.column_text``) comma-joined, NULL as empty."""
    out = bytearray(write_uvarint(len(columns)))
    for name, typ in columns:
        out += _suv(name) + _suv(typ)
    out += write_uvarint(1)  # data block marker
    out += write_uvarint(len(texts[0]) if texts else 0)
    for t in texts:
        out += _suv(joined(pc.fill_null(t, ""), ","))
    return bytes(out)


def unpack_server_data(data: bytes) -> dict:
    pos = 0
    ncols, pos = read_uvarint(data, pos)
    columns = []
    for _ in range(ncols):
        name, pos = _ruv(data, pos)
        typ, pos = _ruv(data, pos)
        columns.append((name, typ))
    _block, pos = read_uvarint(data, pos)
    nrows, pos = read_uvarint(data, pos)
    col_blobs = []
    for _ in range(ncols):
        blob, pos = _ruv(data, pos)
        col_blobs.append(blob)
    # transpose the comma-joined columnar text back to rows
    rows: list[tuple] = []
    if nrows:
        split = [b.split(",") for b in col_blobs]
        rows = [
            tuple(split[c][r] if r < len(split[c]) else "" for c in range(ncols))
            for r in range(nrows)
        ]
    return {"columns": columns, "rows": rows, "row_count": nrows}


def pack_server_exception(code: str, message: str, stack: str = "") -> bytes:
    return _suv(code) + _suv(message) + _suv(stack)


def unpack_server_exception(data: bytes) -> dict:
    pos = 0
    code, pos = _ruv(data, pos)
    msg, pos = _ruv(data, pos)
    stack, pos = _ruv(data, pos)
    return {"code": code, "message": msg, "stack": stack}


# ---------------------------------------------------------------- server
# middleware/simple_auth_provider.go addDefaultUsers: the reference's
# development user table, verbatim
DEFAULT_USERS: dict[str, dict] = {
    "default": {"password": "", "database": "default",
                "permissions": ("read", "write")},
    "admin": {"password": "admin123", "database": "default",
              "permissions": ("read", "write", "admin")},
    "readonly": {"password": "readonly123", "database": "default",
                 "permissions": ("read",)},
}

def _is_read_only_sql(sql: str) -> bool:
    """Read-only classification for permission checks: the router's
    kind, terminated the way ``_run_query`` terminates it. A statement
    the router rejects is not read-only."""
    try:
        return route(sql.rstrip().removesuffix(";") + ";").kind in READ_KINDS
    except RangerError:
        return False


# Spark's string → boolean spellings (StringUtils.isTrueString /
# isFalseString), which the >INSERT_CHUNK_ROWS cast path accepts too
_SPARK_BOOLEANS = dict.fromkeys(("t", "true", "y", "yes", "1"), "TRUE") | (
    dict.fromkeys(("f", "false", "n", "no", "0"), "FALSE")
)


def copy_target(engine, table: str, database: str = "") -> str:
    """The table a COPY / ClientData load writes: ``table`` as given
    when qualified, else under the connection's database, else under the
    session's current one (read under the statement lock, which a
    database-scoped statement holds while it switches that)."""
    if "." in table:
        return table
    if database:
        return f"{database}.{table}"
    with engine._stmt_lock:
        return engine._qualify(table)


def insert_string_block(
    engine, table: str, columns: list, rows: list, database: str = ""
) -> int:
    """Insert rows whose values all travel as strings (the native
    ClientData and pgwire COPY-in shape): render each value against the
    declared column type — verified bare numeric literals splice
    unquoted (the strict INSERT validator's requirement), everything
    else goes through sqltext.quote so a malicious value can never reshape
    the VALUES list; None → NULL. Payloads above INSERT_CHUNK_ROWS skip
    SQL rendering entirely and land through ONE typed DataFrame append
    (values validated against the declared types BEFORE the commit) —
    bounded memory without a multi-hundred-MB SQL string, and the load
    stays ATOMIC: a bad row rejects the whole COPY with zero snapshots
    committed, the PostgreSQL COPY contract (a chunked-INSERT variant
    left earlier chunks committed on a mid-stream failure).
    Returns the row count."""
    if not rows:
        return 0
    if len(rows) > INSERT_CHUNK_ROWS:
        return _insert_rows_dataframe(engine, table, columns, rows, database)
    qualified = copy_target(engine, table, database)
    entry = engine._manifest["tables"].get(qualified)
    types = {c[0]: c[1].lower() for c in (entry or {}).get("columns", [])}
    numeric = ("int", "float", "double", "decimal")
    lits = []
    for row in rows:
        parts = []
        for col, v in zip(columns, row):
            t = types.get(col, "string")
            if v is None:
                parts.append("NULL")
            elif v == "" and not t.startswith("string"):
                parts.append("NULL")
            elif t.startswith("bool") and str(v).strip().lower() in _SPARK_BOOLEANS:
                parts.append(_SPARK_BOOLEANS[str(v).strip().lower()])
            elif t.startswith(numeric) and _NUM_LIT.fullmatch(str(v)):
                parts.append(str(v))
            else:
                parts.append(sqltext.quote(str(v)))
        lits.append("(" + ", ".join(parts) + ")")
    cols = ", ".join(columns)
    engine.execute(
        f"INSERT INTO {qualified} ({cols}) VALUES {', '.join(lits)};"
    )
    return len(rows)


def _insert_rows_dataframe(
    engine, table: str, columns: list, rows: list, database: str = ""
) -> int:
    """Large-payload half of insert_string_block: ONE typed DataFrame
    append per COPY. All values arrive as str|None; empty strings on
    non-string columns are NULL (matching the SQL-rendering path), casts
    to the declared types are VALIDATED up front (a non-castable value
    in any row rejects the whole load before anything commits — Spark's
    non-ANSI cast would otherwise silently null it), then the rows land
    through the same snapshot-committed append as INSERT ... SELECT."""
    from pyspark.sql import functions as F

    from ranger_spark import types as itypes

    qualified = copy_target(engine, table, database)
    entry = engine._manifest["tables"].get(qualified)
    if not entry:
        raise ValueError(f"table '{table}' not found")
    schema = itypes.to_spark_schema([tuple(c) for c in entry["columns"]])
    # COPY column names resolve case-insensitively against the schema and
    # unknown names are a typed reject — the SQL-rendering path resolves
    # via Spark (case-insensitive, errors on unknowns), so the DataFrame
    # path must match instead of silently nulling/dropping (ADVICE r8).
    by_fold = {f.name.casefold(): f.name for f in schema.fields}
    unknown = sorted({c for c in columns if c.casefold() not in by_fold})
    if unknown:
        raise ValueError(
            f"COPY rejected: unknown column(s) {unknown} for table "
            f"'{table}'; nothing was loaded"
        )
    columns = [by_fold[c.casefold()] for c in columns]
    if len(set(columns)) != len(columns):
        raise ValueError(
            f"COPY rejected: duplicate column(s) in column list for table "
            f"'{table}'; nothing was loaded"
        )
    target = {f.name: f for f in schema.fields}
    str_types = {
        f.name
        for f in schema.fields
        if f.dataType.simpleString() == "string"
    }
    cleaned = [
        tuple(
            None if (v == "" and c not in str_types) else v
            for c, v in zip(columns, row)
        )
        for row in rows
    ]
    src = local_frame(
        engine.spark, cleaned, ", ".join(f"`{c}` string" for c in columns)
    )
    # pre-commit validation: a value the declared type cannot represent
    # must reject the load with a typed error, not an ANSI cast blowup
    # mid-write (Spark 4 default) nor a silent NULL (non-ANSI)
    checks = [
        F.sum(
            (
                F.col(c).isNotNull()
                & F.col(c).try_cast(target[c].dataType).isNull()
            ).cast("int")
        ).alias(c)
        for c in columns
        if c in target and c not in str_types
    ]
    if checks:
        bad = {k: v for k, v in src.select(checks).first().asDict().items() if v}
        if bad:
            raise ValueError(
                "COPY rejected: value(s) not castable to the declared "
                f"type in column(s) {sorted(bad)} "
                f"({sum(bad.values())} row(s)); nothing was loaded"
            )
    out = src.select(
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            if f.name in set(columns)
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )
    # the SQL path commits under engine.execute's statement lock; this
    # direct append must take the same lock or a concurrent statement
    # could observe the catalog mid-commit
    import contextlib

    lock = getattr(engine, "_stmt_lock", None)
    with lock if lock is not None else contextlib.nullcontext():
        engine._append_commit(qualified, out)
    return len(rows)

class NativeServer:
    """The reference's native TCP endpoint (server.go + connection.go),
    one thread per connection, engine shared (its execution manager is
    thread-safe)."""

    def __init__(
        self,
        engine: Engine,
        host: str = "127.0.0.1",
        port: int = 0,
        block_rows: int = 1000,
        require_auth: bool = False,
        users: dict | None = None,
        max_concurrent_queries: int = 10,
        max_query_duration_s: float | None = 60.0,
    ):
        self.engine = engine
        # auth middleware (middleware/simple_auth_provider.go): opt-in
        # like the reference (requireAuth=false in its dev wiring); the
        # default user table mirrors addDefaultUsers
        self.require_auth = require_auth
        self.users = users if users is not None else dict(DEFAULT_USERS)
        # circuit breaker (middleware/circuit_breaker.go thresholds:
        # MaxConcurrentQueries=10, MaxQueryDuration=60s) — concurrency is
        # server-wide here (one engine behind every connection)
        self.max_concurrent_queries = max_concurrent_queries
        self.max_query_duration_s = max_query_duration_s
        self._inflight = 0
        self._inflight_lock = threading.Lock()
        # results stream as a sequence of ServerData blocks of up to
        # block_rows rows each; 1000 mirrors the reference's chunked
        # ingest batch size (storage.go:500-528)
        self.block_rows = max(1, block_rows)
        self.sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self.sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.sock.bind((host, port))
        self.sock.listen(8)
        self.port = self.sock.getsockname()[1]
        self._stop = threading.Event()
        # per-connection negotiated wire codec (set at ClientHello)
        self._conn_codec: dict[socket.socket, int] = {}
        self._thread = threading.Thread(target=self._accept_loop, daemon=True)

    def start(self) -> "NativeServer":
        self._thread.start()
        return self

    def shutdown(self) -> None:
        self._stop.set()
        try:
            self.sock.close()
        except OSError:
            pass

    # ------------------------------------------------------------ internals
    def _accept_loop(self) -> None:
        while not self._stop.is_set():
            try:
                conn, _ = self.sock.accept()
            except OSError:
                return
            # responses are single writes: no reason to wait for an ACK
            conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            threading.Thread(
                target=self._handle, args=(conn,), daemon=True
            ).start()

    @staticmethod
    def _recv_exact(conn: socket.socket, n: int) -> bytes | None:
        buf = b""
        while len(buf) < n:
            try:
                chunk = conn.recv(n - len(buf))
            except socket.timeout:
                if not buf:
                    raise  # between frames: the loop's read-timeout path
                continue  # mid-frame: keep waiting, never desync the stream
            except OSError:
                return None
            if not chunk:
                return None
            buf += chunk
        return buf

    def _send(self, conn: socket.socket, sig_type: int, payload: bytes) -> None:
        codec = self._conn_codec.get(conn, COMPRESSION_NONE)
        if codec:
            payload = wrap_payload(codec, payload)
        conn.sendall(encode_frame(sig_type, payload))

    def _send_exception(self, conn: socket.socket, exc: Exception) -> None:
        code = getattr(exc, "code", None) or "common.internal"
        self._send(
            conn, SERVER_EXCEPTION, pack_server_exception(str(code), str(exc))
        )

    def _handle(self, conn: socket.socket) -> None:
        database = ""
        idle_timeout = 0.0  # set by ClientHello (0 = none), like connection.go
        last_activity = time.monotonic()
        # full permissions until an authenticated hello narrows them
        # (auth middleware is opt-in, matching the reference's
        # requireAuth=false development default, server.go:51-58)
        perms = frozenset(("read", "write", "admin"))
        try:
            while not self._stop.is_set():
                try:
                    frame = read_frame(lambda n: self._recv_exact(conn, n))
                except socket.timeout:
                    # read timeout: connection still usable (connection.go
                    # continues the loop) — unless the idle budget is gone,
                    # then notify with ServerClose and drop (idle timer)
                    if idle_timeout and (
                        time.monotonic() - last_activity > idle_timeout
                    ):
                        self._send(
                            conn, SERVER_CLOSE, _s32("idle timeout exceeded")
                        )
                        return
                    continue
                if frame is None:
                    return  # client disconnected (io.EOF path)
                last_activity = time.monotonic()
                sig_type, payload = frame
                if self._conn_codec.get(conn):
                    payload = unwrap_payload(payload)

                if sig_type == CLIENT_HELLO:
                    hello = unpack_client_hello(payload)
                    database = hello["database"] or database
                    idle_timeout = float(hello["idle_timeout"] or 0)
                    if hello["read_timeout"]:
                        # poll granularity: bounded so the idle check runs
                        conn.settimeout(min(float(hello["read_timeout"]), 5.0))
                    elif idle_timeout:
                        conn.settimeout(min(idle_timeout / 2, 5.0))
                    codec = int(hello.get("compression") or 0)
                    if codec not in AVAILABLE_CODECS:
                        # a byte outside the SDK enum
                        # (pkg/sdk/client.go:51-58) gets the typed rejection
                        self._send(
                            conn,
                            SERVER_EXCEPTION,
                            pack_server_exception(
                                "common.unsupported",
                                f"wire compression codec {codec} not "
                                "available (none=0, lz4=1, lz4hc=2, "
                                "zstd=3, gzip=4, deflate=5, brotli=6)",
                            ),
                        )
                        return
                    if self.require_auth:
                        # SimpleAuthProvider semantics
                        # (middleware/simple_auth_provider.go:81-103):
                        # user-not-found, invalid-password (empty allowed
                        # when the account has none), database-access
                        # checks, each with the reference's error code
                        code_msg = self._authenticate(hello)
                        if code_msg is not None:
                            self._send(
                                conn,
                                SERVER_EXCEPTION,
                                pack_server_exception(*code_msg),
                            )
                            return
                        perms = frozenset(
                            self.users[hello["user"] or "default"][
                                "permissions"
                            ]
                        )
                    # hello/ServerHello travel uncompressed; everything
                    # after the negotiation is enveloped
                    self._send(conn, SERVER_HELLO, pack_server_hello())
                    if codec:
                        self._conn_codec[conn] = codec
                elif sig_type == CLIENT_QUERY:
                    q = unpack_client_query(payload)
                    if "write" not in perms and not _is_read_only_sql(
                        q["query"]
                    ):
                        self._send(
                            conn,
                            SERVER_EXCEPTION,
                            pack_server_exception(
                                "native.middleware.insufficient_permissions",
                                "user has read permission only",
                            ),
                        )
                        continue
                    self._run_query(conn, q)
                elif sig_type == CLIENT_DATA:
                    if "write" not in perms:
                        self._send(
                            conn,
                            SERVER_EXCEPTION,
                            pack_server_exception(
                                "native.middleware.insufficient_permissions",
                                "user has read permission only",
                            ),
                        )
                        return
                    d = unpack_client_data(payload)
                    try:
                        self._insert_block(d, database)
                    except Exception as e:
                        # connection.go returns err from Handle on a data
                        # failure → connection terminates
                        self._send_exception(conn, e)
                        return
                elif sig_type == CLIENT_PING:
                    self._send(
                        conn, SERVER_PONG, struct.pack("!Q", int(time.time()))
                    )
                elif sig_type == CLIENT_CANCEL:
                    qid, _ = _r32(payload, 0)
                    self._cancel(conn, qid)
                else:
                    self._send(
                        conn,
                        SERVER_EXCEPTION,
                        pack_server_exception(
                            "protocol.unknown_message_type",
                            f"Unknown message type: {sig_type}",
                        ),
                    )
                    return  # connection.go returns the error → disconnect
        except (OSError, ValueError):
            pass
        finally:
            self._conn_codec.pop(conn, None)
            try:
                conn.close()
            except OSError:
                pass

    def _authenticate(self, hello: dict) -> tuple[str, str] | None:
        """SimpleAuthProvider.Authenticate shape: (code, message) on
        failure, None on success."""
        uname = hello["user"] or "default"  # unset user → 'default' account
        user = self.users.get(uname)
        if user is None:
            return (
                "native.middleware.user_not_found",
                f"user not found: {uname}",
            )
        if user["password"] and user["password"] != hello["password"]:
            return (
                "native.middleware.invalid_password",
                f"invalid password for user: {hello['user']}",
            )
        if user["database"] != (hello["database"] or "default"):
            return (
                "native.middleware.database_access_denied",
                f"user {hello['user']} cannot access database "
                f"{hello['database']}",
            )
        return None

    def _run_query(self, conn: socket.socket, q: dict) -> None:
        sql = q["query"].rstrip()
        if not sql.endswith(";"):
            sql += ";"
        t_start = time.monotonic()
        with self._inflight_lock:
            if self._inflight >= self.max_concurrent_queries:
                # circuit_breaker.go MaxConcurrentQueries: typed rejection,
                # connection stays open
                self._send(
                    conn,
                    SERVER_EXCEPTION,
                    pack_server_exception(
                        "native.middleware.concurrent_query_limit_exceeded",
                        f"concurrent query limit "
                        f"({self.max_concurrent_queries}) exceeded",
                    ),
                )
                return
            self._inflight += 1
        try:
            # per-query database scoping (connection.go passes
            # query.Database in the QueryContext; it never mutates the
            # shared session) — engine.execute saves/restores the current
            # database around this one statement under its statement lock.
            # timeout = the breaker's MaxQueryDuration (engine-side cancel)
            r = self.engine.execute(
                sql,
                timeout_s=self.max_query_duration_s,
                database=q["database"] or None,
            )
        except Exception as e:
            self._send_exception(conn, e)
            return  # connection stays open (handleClientQuerySignal)
        finally:
            with self._inflight_lock:
                self._inflight -= 1
        # sendQueryEngineResultsSignal shape, block-streamed: results ship
        # as a SEQUENCE of ServerData blocks (≤ block_rows rows each)
        # followed by EndOfStream — the ClickHouse-style framing the
        # reference SDK already consumes (it loops on data signals until
        # EOS; the reference server's single frame is the one-block
        # degenerate case). Every column ships as String, like the
        # reference (connection.go:471-481).
        columns = [(c, "String") for c in r.columns]
        if not columns and r.message:
            columns, texts = [("result", "String")], [pa.array([r.message])]
        else:
            texts = r.column_text()
        # ServerProgress(103) / ServerProfileInfo(106): the reference
        # REGISTERS both signals with full codecs
        # (protocol/signals/server_progress.go, server_profile_info.go)
        # but never sends them during a query; this server sends them —
        # progress ahead of the data blocks, profile info (incl. the
        # RESULT_CAP as applied_limit when the result was truncated)
        # right before EndOfStream. Their byte count is the result's
        # text bytes.
        n_rows = len(texts[0]) if texts else 0
        n_bytes = sum(pc.sum(pc.binary_length(t)).as_py() or 0 for t in texts)
        self._send(
            conn,
            SERVER_PROGRESS,
            pack_server_progress(
                n_rows, n_bytes, n_rows, n_bytes,
                time.monotonic() - t_start,
            ),
        )
        for start in range(0, max(n_rows, 1), self.block_rows):
            block = [t.slice(start, self.block_rows) for t in texts]
            self._send(conn, SERVER_DATA, pack_server_data(columns, block))
        self._send(
            conn,
            SERVER_PROFILE_INFO,
            pack_server_profile_info(
                r.row_count, n_bytes,
                RESULT_CAP if r.truncated else 0, 0,
                n_rows, n_bytes,
            ),
        )
        self._send(conn, SERVER_END_OF_STREAM, b"")

    def _insert_block(self, d: dict, database: str) -> None:
        """queryEngine.InsertData parity: values arrived as strings; the
        engine's INSERT path validates and coerces against the declared
        schema."""
        insert_string_block(
            self.engine, d["table"], d["columns"], d["rows"], database
        )

    def _cancel(self, conn: socket.socket, query_id: str) -> None:
        ok = False
        try:
            ok = self.engine.cancel(query_id)
        except Exception:
            ok = False
        if not ok:
            self._send(
                conn,
                SERVER_EXCEPTION,
                pack_server_exception(
                    "query.cancellation_failed",
                    f"Query {query_id} cancellation failed: unknown query",
                ),
            )
            return
        # sendSimpleAcknowledgment → sendTableResult: columns-only
        # ServerData, then data ServerData with synthesized col_N names,
        # then EndOfStream (connection.go:297-352)
        msg = f"Query {query_id} cancelled successfully"
        self._send(
            conn,
            SERVER_DATA,
            pack_server_data([("result", "String")], [pa.array([], pa.string())]),
        )
        self._send(
            conn, SERVER_DATA, pack_server_data([("col_0", "String")], [pa.array([msg])])
        )
        self._send(conn, SERVER_END_OF_STREAM, b"")


# bare literal shapes that may be spliced into a VALUES list unquoted:
# signed int/float/scientific, or boolean keywords
_NUM_LIT = re.compile(
    r"[+-]?(?:\d+(?:\.\d*)?|\.\d+)(?:[eE][+-]?\d+)?|true|false", re.I
)


# ---------------------------------------------------------------- client
def parse_dsn(dsn: str) -> dict:
    """Parse the reference SDK's DSN format (pkg/sdk/client.go:360-430):
    ``ranger://[username:password@]host:port/database?param=value``.
    Returns {host, port, database, user, password, settings}."""
    from urllib.parse import parse_qs

    if not dsn.startswith("ranger://"):
        raise ValueError("invalid DSN format, must start with ranger://")
    rest = dsn[len("ranger://"):]
    user = password = ""
    if "@" in rest:
        auth, rest = rest.split("@", 1)
        if auth:
            if ":" in auth:
                user, password = auth.split(":", 1)
            else:
                user = auth
    database, settings = "", {}
    host_part, _, tail = rest.partition("/")
    if tail:
        database, _, params = tail.partition("?")
        if params:
            settings = {k: v[0] for k, v in parse_qs(params).items()}
    host, _, port_s = host_part.partition(":")
    return {
        "host": host or "127.0.0.1",
        "port": int(port_s) if port_s else 9000,
        "database": database,
        "user": user,
        "password": password,
        "settings": settings,
    }


class NativeClient:
    """Minimal client speaking the signal protocol (the shape of the
    reference SDK's native connection, pkg/sdk) — used by tests and as a
    working example. ``NativeClient.from_dsn("ranger://u:p@h:port/db")``
    mirrors the SDK's DSN constructor."""

    @classmethod
    def from_dsn(cls, dsn: str) -> "NativeClient":
        # ?compress=none|lz4|lz4hc|zstd|gzip|deflate|br — the reference
        # SDK's compress DSN parameter, same numbering
        # (pkg/sdk/client.go:51-58); "zlib" accepted as a deflate alias
        o = parse_dsn(dsn)
        # name resolution (incl. compress=auto → zstd) lives in
        # __init__ so the constructor and the DSN accept the same set
        return cls(
            o["host"], o["port"], database=o["database"], user=o["user"],
            password=o["password"],
            compression=o["settings"].get("compress", "none"),
        )

    _CODEC_NAMES = {
        "none": COMPRESSION_NONE, "lz4": COMPRESSION_LZ4,
        "lz4hc": COMPRESSION_LZ4HC, "zstd": COMPRESSION_ZSTD,
        "gzip": COMPRESSION_GZIP, "deflate": COMPRESSION_DEFLATE,
        "zlib": COMPRESSION_DEFLATE, "br": COMPRESSION_BROTLI,
        "auto": COMPRESSION_ZSTD,
    }

    def __init__(self, host: str, port: int, database: str = "",
                 user: str = "", password: str = "",
                 compression: int | str = COMPRESSION_NONE):
        # string codecs resolve BEFORE the socket opens — an unknown
        # name must raise here, not TypeError deep in the hello packer
        # with a leaked connection
        if isinstance(compression, str):
            name = compression.lower()
            if name in self._CODEC_NAMES:
                compression = self._CODEC_NAMES[name]
            else:
                raise ValueError(f"unknown compress codec {compression!r}")
        self.database = database
        self._codec = COMPRESSION_NONE  # negotiation completes after hello
        self.sock = socket.create_connection((host, port), timeout=60)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._send(
            CLIENT_HELLO,
            pack_client_hello(
                "ranger-spark-client", database, user, password,
                compression=compression,
            ),
        )
        sig, payload = self._read()
        if sig == SERVER_EXCEPTION:
            e = unpack_server_exception(payload)
            raise RuntimeError(f"{e['code']}: {e['message']}")
        if sig != SERVER_HELLO:
            raise ConnectionError(f"expected ServerHello, got {sig}")
        self.server_info = unpack_server_hello(payload)
        self._codec = compression

    # -------------------------------------------------------------- plumbing
    def _send(self, sig_type: int, payload: bytes) -> None:
        if self._codec:
            payload = wrap_payload(self._codec, payload)
        self.sock.sendall(encode_frame(sig_type, payload))

    def _recv_exact(self, n: int) -> bytes | None:
        buf = b""
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                return None
            buf += chunk
        return buf

    def _read(self) -> tuple[int, bytes]:
        frame = read_frame(self._recv_exact)
        if frame is None:
            raise ConnectionError("server closed connection")
        if self._codec:
            return frame[0], unwrap_payload(frame[1])
        return frame

    # ------------------------------------------------------------------ API
    def query(self, sql: str, query_id: str = "") -> dict:
        """Run a statement; returns {'columns': [(name, type)...],
        'rows': [...]} from the ServerData/EndOfStream stream. Raises
        RuntimeError on a ServerException."""
        # the connection's database rides in every query frame (the Go SDK
        # fills query.Database from the client options); the server scopes
        # name resolution to it per statement, never via a sticky USE
        self._send(
            CLIENT_QUERY, pack_client_query(sql, query_id, self.database)
        )
        columns: list[tuple[str, str]] = []
        rows: list[tuple] = []
        progress: dict | None = None
        profile: dict | None = None
        while True:
            sig, payload = self._read()
            if sig == SERVER_DATA:
                d = unpack_server_data(payload)
                columns = d["columns"] or columns
                rows.extend(d["rows"])
            elif sig == SERVER_PROGRESS:
                progress = unpack_server_progress(payload)
            elif sig == SERVER_PROFILE_INFO:
                profile = unpack_server_profile_info(payload)
            elif sig == SERVER_END_OF_STREAM:
                return {
                    "columns": columns,
                    "rows": rows,
                    "progress": progress,
                    "profile": profile,
                }
            elif sig == SERVER_EXCEPTION:
                e = unpack_server_exception(payload)
                raise RuntimeError(f"{e['code']}: {e['message']}")
            else:
                raise ConnectionError(f"unexpected signal {sig}")

    def insert(self, table: str, columns: list[str], rows: list[tuple]) -> None:
        """Batch insert via ClientData (no response on success, matching
        the reference's processDataBlock)."""
        self._send(CLIENT_DATA, pack_client_data(table, columns, rows))

    def cancel(self, query_id: str) -> dict:
        self._send(CLIENT_CANCEL, pack_client_cancel(query_id))
        rows: list[tuple] = []
        while True:
            sig, payload = self._read()
            if sig == SERVER_DATA:
                rows.extend(unpack_server_data(payload)["rows"])
            elif sig in (SERVER_PROGRESS, SERVER_PROFILE_INFO):
                continue
            elif sig == SERVER_END_OF_STREAM:
                return {"rows": rows}
            elif sig == SERVER_EXCEPTION:
                e = unpack_server_exception(payload)
                raise RuntimeError(f"{e['code']}: {e['message']}")
            else:
                raise ConnectionError(f"unexpected signal {sig}")

    def ping(self) -> int:
        self._send(CLIENT_PING, b"")
        sig, payload = self._read()
        if sig != SERVER_PONG:
            raise ConnectionError(f"expected ServerPong, got {sig}")
        return struct.unpack("!Q", payload)[0]

    def close(self) -> None:
        try:
            self.sock.close()
        except OSError:
            pass


class NativePool:
    """Connection pool over :class:`NativeClient` — the reference SDK's
    pooled client shape (pkg/sdk/client.go:168-245: MaxOpenConns /
    MaxIdleConns, acquire blocks when the pool is exhausted, idle
    connections are reused in LIFO order).

    Usage::

        pool = NativePool("ranger://127.0.0.1:9000/db", max_open=4)
        with pool.acquire() as c:
            c.query("SELECT 1 AS one")
    """

    def __init__(self, dsn: str, max_open: int = 10, max_idle: int = 5):
        self._opts = parse_dsn(dsn)
        self.max_open = max_open
        self.max_idle = max_idle
        self._idle: list[NativeClient] = []
        self._lock = threading.Lock()
        self._slots = threading.Semaphore(max_open)
        self._closed = False

    def _connect(self) -> NativeClient:
        o = self._opts
        return NativeClient(
            o["host"], o["port"], database=o["database"], user=o["user"],
            password=o["password"],
        )

    def acquire(self, timeout: float | None = 30.0) -> "_PooledConn":
        if self._closed:
            raise RuntimeError("pool is closed")
        if not self._slots.acquire(timeout=timeout):
            raise TimeoutError("pool exhausted (MaxOpenConns reached)")
        with self._lock:
            conn = self._idle.pop() if self._idle else None
        try:
            if conn is None:
                conn = self._connect()
        except Exception:
            self._slots.release()
            raise
        return _PooledConn(self, conn)

    def _release(self, conn: NativeClient, broken: bool) -> None:
        with self._lock:
            keep = (
                not broken
                and not self._closed
                and len(self._idle) < self.max_idle
            )
            if keep:
                self._idle.append(conn)
        if not keep:
            conn.close()
        self._slots.release()

    def close(self) -> None:
        with self._lock:
            self._closed = True
            idle, self._idle = self._idle, []
        for c in idle:
            c.close()


class _PooledConn:
    """Checkout handle: proxies the client API, returns the connection on
    exit (broken connections are dropped, not reused)."""

    def __init__(self, pool: NativePool, conn: NativeClient):
        self._pool = pool
        self._conn = conn
        self._broken = False

    def __enter__(self) -> "_PooledConn":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self._pool._release(
            self._conn, self._broken or isinstance(exc, ConnectionError)
        )

    def _guard(self, fn, *args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except ConnectionError:
            self._broken = True
            raise

    def query(self, sql: str, query_id: str = "") -> dict:
        return self._guard(self._conn.query, sql, query_id)

    def insert(self, table: str, columns: list[str], rows: list[tuple]) -> None:
        return self._guard(self._conn.insert, table, columns, rows)

    def ping(self) -> int:
        return self._guard(self._conn.ping)


def serve(engine: Engine, port: int = 0) -> NativeServer:
    return NativeServer(engine, port=port).start()
