"""Postgres wire protocol over the Engine — the reference's "JDBC"
surface (reference server/protocols/jdbc/protocol.go: startup/auth
handshake :242-300, simple query → RowDescription + DataRow :160-233).
Trust auth, text-format results, one engine behind every connection.

Supported: StartupMessage (v3) → AuthenticationOk + ParameterStatus +
ReadyForQuery; 'Q' simple query → RowDescription/DataRow*/CommandComplete/
ReadyForQuery (errors → ErrorResponse); 'X' terminate; SSLRequest politely
refused ('N').

Extended protocol: the reference ACKS every extended message without
executing (handler.go:162-201: Parse→ParseComplete, Bind→BindComplete,
Execute→"SELECT 0", Describe→NoData, Close→CloseComplete,
Sync→ReadyForQuery — all marked TODO). This server exceeds that with a
WORKING subset: Parse stores the named statement, Bind substitutes
text-format $n parameters as quoted literals, Describe answers
RowDescription via Catalyst analysis (no execution; NoData when
unanalyzable — the reference's constant answer), Execute runs the bound
statement and streams DataRows with max-row suspension
(PortalSuspended), and protocol errors skip-to-Sync per the spec.

COPY-in (exceeds; absent from the reference's pgwire entirely):
`COPY t [(cols)] FROM STDIN [WITH (FORMAT text|csv)]` answers
CopyInResponse ('G'), consumes CopyData ('d') / CopyDone ('c') /
CopyFail ('f') frames, parses text (tab-separated, backslash-N nulls, trailing end marker) or
csv, and lands the rows through the engine's validated INSERT path —
so pgwire bulk loads are snapshot-committed like every other write.
"""

from __future__ import annotations

import socket
import struct
import threading

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ranger_spark import sqltext
from ranger_spark.engine import Engine
from ranger_spark.result import joined
from ranger_spark.sources.native_server import copy_target, insert_string_block

TEXT_OID = 25  # everything ships as text, like the reference
MAX_FRAME = 64 * 1024 * 1024  # cap client-declared frame length (64 MiB)
MAX_COPY_BYTES = 256 * 1024 * 1024  # total CopyData per COPY statement

import re as _re

_COPY_IN_RE = _re.compile(
    r"^\s*COPY\s+([\w.]+)\s*(?:\(([^)]*)\))?\s+FROM\s+STDIN"
    r"\s*(?:WITH\s*\(\s*FORMAT\s+(\w+)\s*\))?\s*;?\s*$",
    _re.I,
)
_COPY_OUT_RE = _re.compile(
    r"^\s*COPY\s+([\w.]+)\s*(?:\(([^)]*)\))?\s+TO\s+STDOUT"
    r"\s*(?:WITH\s*\(\s*FORMAT\s+(\w+)\s*\))?\s*;?\s*$",
    _re.I,
)


def _msg(tag: bytes, payload: bytes) -> bytes:
    return tag + struct.pack("!I", len(payload) + 4) + payload


def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


def _row_description(columns: list[str]) -> bytes:
    body = struct.pack("!H", len(columns))
    for c in columns:
        body += _cstr(c) + struct.pack("!IHIhih", 0, 0, TEXT_OID, -1, -1, 0)
    return _msg(b"T", body)


def _be32(ints) -> pa.Array:
    """Each int as its 4 big-endian bytes."""
    raw = np.asarray(ints, ">i4")
    return pa.FixedSizeBinaryArray.from_buffers(
        pa.binary(4), len(raw), [None, pa.py_buffer(raw.tobytes())]
    ).cast(pa.binary())


def _msgs(tag: bytes, bodies: pa.Array) -> bytes:
    """``_msg(tag, body)`` for each body, concatenated."""
    lens = _be32(pc.binary_length(bodies).to_numpy() + 4)
    return joined(pc.binary_join_element_wise(tag, lens, bodies, b""), b"")


def _data_row(texts: list[pa.Array]) -> bytes:
    """DataRow messages, one per row of the columns' cell text (None is
    NULL): the column count, then per cell its byte length (-1 for NULL)
    and bytes."""
    cells = [
        pc.binary_join_element_wise(
            _be32(pc.fill_null(pc.binary_length(t), -1).to_numpy()),
            pc.cast(pc.fill_null(t, ""), pa.binary()), b"",
        )
        for t in texts
    ]
    ncols = struct.pack("!H", len(texts))
    return _msgs(b"D", pc.binary_join_element_wise(ncols, *cells, b""))


def _error(message: str, code: str = "42000") -> bytes:
    body = b"S" + _cstr("ERROR") + b"C" + _cstr(code) + b"M" + _cstr(message) + b"\x00"
    return _msg(b"E", body)


READY = _msg(b"Z", b"I")


def _read_cstr(data: bytes, pos: int) -> tuple[str, int]:
    end = data.index(b"\x00", pos)
    return data[pos:end].decode(), end + 1


def _read_bind(payload: bytes) -> tuple[str, str, list[str | None]]:
    """Decode a Bind message: portal, statement, text-format parameter
    values (len -1 → NULL). Binary format codes are rejected — the
    server ships text everywhere, like the reference."""
    portal, pos = _read_cstr(payload, 0)
    stmt, pos = _read_cstr(payload, pos)
    (nfmt,) = struct.unpack_from("!H", payload, pos)
    pos += 2
    fmts = struct.unpack_from(f"!{nfmt}H", payload, pos)
    pos += 2 * nfmt
    if any(f == 1 for f in fmts):
        raise ValueError("binary parameter format not supported (text only)")
    (nparams,) = struct.unpack_from("!H", payload, pos)
    pos += 2
    params: list[str | None] = []
    for _ in range(nparams):
        (plen,) = struct.unpack_from("!i", payload, pos)
        pos += 4
        if plen == -1:
            params.append(None)
        else:
            params.append(payload[pos : pos + plen].decode())
            pos += plen
    return portal, stmt, params


def _count_params(sql: str) -> int:
    """Parameter count for ParameterDescription: max($n) in code — gaps
    like $1,$3 still declare 3 parameters (Postgres numbers by position,
    not by distinct occurrence)."""
    return max((n for _, _, n in sqltext.placeholders(sql)), default=0)


def _substitute_params(sql: str, params: list[str | None]) -> str:
    """Inline text-format $n parameters as quoted SQL literals (NULL for
    absent values) in a single pass (``sqltext.bind``): a parameter
    VALUE containing '$1' stays data, and a $n inside a literal or
    comment of the prepared SQL is never rewritten. Spark's implicit
    casts coerce '1' = 1 etc., matching text-format semantics."""
    return sqltext.bind(
        sql, ["NULL" if v is None else sqltext.quote(v) for v in params]
    )


_COPY_TEXT_ESCAPES = {
    "t": "\t",
    "n": "\n",
    "r": "\r",
    "b": "\b",
    "f": "\f",
    "v": "\v",
    "\\": "\\",
}
_HEX_DIGITS = set("0123456789abcdefABCDEF")
_OCT_DIGITS = set("01234567")


def _unescape_copy_text(v: str) -> str:
    """PostgreSQL COPY text-format unescape: \\t \\n \\r \\b \\f \\v \\\\,
    octal (\\ooo, 1-3 digits) and hex (\\xHH, 1-2 digits) forms. Any other
    backslashed character drops the backslash (PG behavior). The \\N NULL
    sentinel is resolved by the caller BEFORE this runs (so \\\\N decodes
    to the literal string '\\N', not NULL)."""
    if "\\" not in v:
        return v
    out: list[str] = []
    i, n = 0, len(v)
    while i < n:
        c = v[i]
        if c != "\\":
            out.append(c)
            i += 1
            continue
        if i + 1 >= n:  # trailing lone backslash passes through
            out.append("\\")
            break
        nxt = v[i + 1]
        if nxt in _COPY_TEXT_ESCAPES:
            out.append(_COPY_TEXT_ESCAPES[nxt])
            i += 2
        elif nxt == "x" and i + 2 < n and v[i + 2] in _HEX_DIGITS:
            j = i + 2
            while j < n and j < i + 4 and v[j] in _HEX_DIGITS:
                j += 1
            out.append(chr(int(v[i + 2:j], 16)))
            i = j
        elif nxt in _OCT_DIGITS:
            j = i + 1
            while j < n and j < i + 4 and v[j] in _OCT_DIGITS:
                j += 1
            out.append(chr(int(v[i + 1:j], 8) & 0xFF))
            i = j
        else:  # unknown escape: backslash dropped
            out.append(nxt)
            i += 2
    return "".join(out)


def _escape_copy_text(text: pa.Array) -> pa.Array:
    """Escape cell text for COPY TO text format so embedded tabs, newlines,
    CRs, and backslashes can't break row framing on the client."""
    for raw, escaped in (
        ("\\", "\\\\"), ("\t", "\\t"), ("\n", "\\n"), ("\r", "\\r")
    ):
        text = pc.replace_substring(text, raw, escaped)
    return text


def _csv_field(text: pa.Array) -> pa.Array:
    """PG COPY TO csv cells: NULL is bare empty, the empty string is a
    quoted "" (csv.writer's QUOTE_MINIMAL would erase that difference),
    and a cell with a comma, quote or line break is quoted with its
    quotes doubled; round-trips exactly through _parse_csv_records."""
    quote = pc.or_(
        pc.equal(pc.binary_length(text), 0),
        pc.match_substring_regex(text, '[,"\n\r]'),
    )
    quoted = pc.binary_join_element_wise(
        '"', pc.replace_substring(text, '"', '""'), '"', ""
    )
    return pc.fill_null(pc.if_else(quote, quoted, text), "")


def _parse_csv_records(text: str) -> list:
    """PostgreSQL COPY csv record parser: ',' delimiter, '\"' quote with
    doubled-quote escaping. Distinguishes an UNQUOTED empty field (NULL,
    per PG COPY csv semantics) from a quoted \"\" (empty string) — the
    distinction stdlib csv.reader erases. Returns lists of str|None."""
    rows: list = []
    rec: list = []
    field: list[str] = []
    quoted = in_quotes = False
    i, n = 0, len(text)

    def _end_field() -> None:
        nonlocal field, quoted
        rec.append("".join(field) if (field or quoted) else None)
        field, quoted = [], False

    while i < n:
        c = text[i]
        if in_quotes:
            if c == '"':
                if i + 1 < n and text[i + 1] == '"':
                    field.append('"')
                    i += 2
                    continue
                in_quotes = False
            else:
                field.append(c)
            i += 1
            continue
        if c == '"':
            in_quotes = quoted = True
        elif c == ",":
            _end_field()
        elif c in ("\n", "\r"):
            _end_field()
            rows.append(rec)
            rec = []
            if c == "\r" and i + 1 < n and text[i + 1] == "\n":
                i += 1
        else:
            field.append(c)
        i += 1
    if field or quoted or rec:
        _end_field()
        rows.append(rec)
    return rows


def _parse_copy_rows(data: bytes, fmt: str, ncols: int) -> list:
    """Decode COPY text/csv payload into rows of str|None values,
    honoring PG escape and NULL semantics (COPY text escapes unescaped;
    csv unquoted-empty → NULL; only the \\. terminator and the trailing
    empty fragment of the final newline are non-data)."""
    text = data.decode("utf-8", errors="replace")
    rows: list = []
    if fmt == "csv":
        for rec in _parse_csv_records(text):
            if rec == ["\\."]:
                break  # end-of-data marker: ignore anything after
            if len(rec) != ncols:
                raise ValueError(
                    f"COPY row has {len(rec)} columns, expected {ncols}"
                )
            rows.append(tuple(rec))
        return rows
    lines = text.split("\n")
    if lines and lines[-1] == "":
        lines.pop()  # trailing fragment of the final newline, not a row
    for line in lines:
        if line.endswith("\r"):
            line = line[:-1]
        if line == "\\.":
            break  # end-of-data marker: ignore anything after
        vals = line.split("\t")
        if len(vals) != ncols:
            raise ValueError(
                f"COPY row has {len(vals)} columns, expected {ncols}"
            )
        rows.append(
            tuple(
                None if v == "\\N" else _unescape_copy_text(v) for v in vals
            )
        )
    return rows


class PgWireServer:
    def __init__(self, engine: Engine, host: str = "127.0.0.1", port: int = 0):
        self.engine = engine
        self.sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self.sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.sock.bind((host, port))
        self.sock.listen(8)
        self.port = self.sock.getsockname()[1]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._accept_loop, daemon=True)

    def start(self) -> "PgWireServer":
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

    def _recv_exact(self, conn: socket.socket, n: int) -> bytes | None:
        buf = b""
        while len(buf) < n:
            chunk = conn.recv(n - len(buf))
            if not chunk:
                return None
            buf += chunk
        return buf

    def _handle(self, conn: socket.socket) -> None:
        try:
            # startup phase (possibly preceded by an SSLRequest)
            while True:
                head = self._recv_exact(conn, 4)
                if head is None:
                    return
                (length,) = struct.unpack("!I", head)
                if not 4 <= length <= MAX_FRAME:
                    conn.sendall(_error(f"bad frame length {length}"))
                    return
                payload = self._recv_exact(conn, length - 4)
                if payload is None:
                    return
                (code,) = struct.unpack("!I", payload[:4])
                if code == 80877103:  # SSLRequest → not supported
                    conn.sendall(b"N")
                    continue
                if code == 196608:  # protocol 3.0 StartupMessage
                    break
                conn.sendall(_error(f"unsupported startup code {code}"))
                return
            # startup parameters: key\0value\0 ... \0 — the reference's
            # JDBC protocol scopes unqualified names by the connection's
            # database (protocol.go startup), so honor dbname= here: it
            # becomes the per-statement database for every query/COPY on
            # this connection (engine.execute(..., database=db), never a
            # sticky USE). Unknown database -> typed startup error.
            params: dict[str, str] = {}
            parts = payload[4:].split(b"\x00")
            for k, v in zip(parts[0::2], parts[1::2]):
                if k:
                    params[k.decode("utf-8", "replace")] = v.decode(
                        "utf-8", "replace"
                    )
            database = params.get("database", "") or ""
            # "default" is Spark's implicit database — always valid even
            # though the engine manifest only records CREATEd databases
            if database == "default":
                database = ""
            if database and database not in self.engine._manifest.get(
                "databases", []
            ):
                conn.sendall(
                    _error(f'database "{database}" does not exist')
                )
                return
            conn.sendall(_msg(b"R", struct.pack("!I", 0)))  # AuthenticationOk
            conn.sendall(
                _msg(b"S", _cstr("server_version") + _cstr("ranger_spark"))
            )
            conn.sendall(READY)

            # per-connection extended-protocol state
            stmts: dict[str, str] = {}
            portals: dict[str, dict] = {}
            skip_to_sync = False

            while not self._stop.is_set():
                tag = self._recv_exact(conn, 1)
                if tag is None or tag == b"X":
                    return
                head = self._recv_exact(conn, 4)
                if head is None:
                    return
                (length,) = struct.unpack("!I", head)
                # the declared length is client-controlled: reject before
                # allocating, and bail on a mid-message disconnect (payload
                # None) instead of letting .rstrip raise AttributeError
                if not 4 <= length <= MAX_FRAME:
                    conn.sendall(_error(f"bad frame length {length}"))
                    return
                payload = self._recv_exact(conn, length - 4)
                if payload is None:
                    return
                if skip_to_sync and tag != b"S":
                    continue  # spec: after an extended-protocol error,
                    # discard until Sync
                if tag == b"Q":
                    sql = payload.rstrip(b"\x00").decode()
                    cm = _COPY_IN_RE.match(sql)
                    co = _COPY_OUT_RE.match(sql)
                    if cm:
                        self._copy_in(conn, cm, database)
                    elif co:
                        self._copy_out(conn, co, database)
                    else:
                        self._run_query(conn, sql, database)
                    conn.sendall(READY)
                elif tag == b"P":  # Parse
                    try:
                        name, pos = _read_cstr(payload, 0)
                        query, _ = _read_cstr(payload, pos)
                        stmts[name] = query
                        conn.sendall(_msg(b"1", b""))  # ParseComplete
                    except Exception as e:
                        conn.sendall(_error(f"parse failed: {e}"))
                        skip_to_sync = True
                elif tag == b"B":  # Bind
                    try:
                        portal, stmt, params = _read_bind(payload)
                        if stmt not in stmts:
                            raise KeyError(f"unknown statement {stmt!r}")
                        portals[portal] = {
                            "sql": _substitute_params(stmts[stmt], params),
                            "result": None,
                            "database": database,
                        }
                        conn.sendall(_msg(b"2", b""))  # BindComplete
                    except Exception as e:
                        conn.sendall(_error(f"bind failed: {e}"))
                        skip_to_sync = True
                elif tag == b"D":  # Describe
                    kind, name = payload[:1], payload[1:].split(b"\x00")[0].decode()
                    if kind == b"P":
                        sql = portals.get(name, {}).get("sql")
                    else:
                        sql = stmts.get(name)
                        # statement describes answer ParameterDescription
                        # first (all params typed text, like the results);
                        # count = max($n) outside string literals
                        n = _count_params(sql or "")
                        conn.sendall(
                            _msg(
                                b"t",
                                struct.pack("!H", n)
                                + struct.pack("!I", TEXT_OID) * n,
                            )
                        )
                    conn.sendall(self._describe(sql, database))
                elif tag == b"E":  # Execute
                    portal, pos = _read_cstr(payload, 0)
                    (max_rows,) = struct.unpack_from("!i", payload, pos)
                    p = portals.get(portal)
                    if p is None:
                        conn.sendall(_error(f"unknown portal {portal!r}"))
                        skip_to_sync = True
                    else:
                        skip_to_sync = not self._execute_portal(
                            conn, p, max_rows
                        )
                elif tag == b"C":  # Close
                    kind, name = payload[:1], payload[1:].split(b"\x00")[0].decode()
                    (portals if kind == b"P" else stmts).pop(name, None)
                    conn.sendall(_msg(b"3", b""))  # CloseComplete
                elif tag == b"S":  # Sync
                    skip_to_sync = False
                    conn.sendall(READY)
                else:
                    conn.sendall(_error(f"unsupported message {tag!r}"))
                    conn.sendall(READY)
        except OSError:
            pass
        finally:
            try:
                conn.close()
            except OSError:
                pass

    def _copy_in(self, conn: socket.socket, cm, database: str = "") -> None:
        """COPY <table> [(cols)] FROM STDIN: the pgwire bulk-load half.
        Data lands via the engine's validated INSERT (snapshot commit) —
        text format (tab-separated, backslash-N NULLs, optional trailing
        end marker) or csv via the stdlib parser."""
        table, cols_s, fmt = cm.group(1), cm.group(2), (cm.group(3) or "text").lower()
        if fmt not in ("text", "csv"):
            conn.sendall(_error(f"COPY format {fmt!r} not supported"))
            return
        if cols_s:
            columns = [c.strip() for c in cols_s.split(",") if c.strip()]
        else:
            entry = self.engine._manifest["tables"].get(
                copy_target(self.engine, table, database)
            )
            if not entry:
                conn.sendall(_error(f"table '{table}' not found", "42P01"))
                return
            columns = [c[0] for c in entry.get("columns", [])]
        ncols = len(columns)
        # CopyInResponse: overall format 0 (text) + per-column formats
        conn.sendall(
            _msg(b"G", b"\x00" + struct.pack("!H", ncols) + b"\x00\x00" * ncols)
        )
        buf = bytearray()
        while True:
            head = self._recv_exact(conn, 5)
            if head is None:
                return
            t, length = head[:1], struct.unpack("!I", head[1:])[0]
            if length < 4 or length - 4 > MAX_FRAME:
                conn.sendall(_error("invalid COPY frame length"))
                self._drain_copy(conn)
                return
            payload = self._recv_exact(conn, length - 4) if length > 4 else b""
            if payload is None:
                return
            if t == b"d":  # CopyData
                if len(buf) + len(payload) > MAX_COPY_BYTES:
                    conn.sendall(_error("COPY data exceeds size cap"))
                    self._drain_copy(conn)
                    return
                buf += payload
            elif t == b"c":  # CopyDone
                break
            elif t == b"f":  # CopyFail
                conn.sendall(_error("COPY aborted by client"))
                return
            elif t in (b"H", b"S"):  # Flush/Sync are legal mid-copy noise
                continue
            else:
                conn.sendall(_error(f"unexpected message {t!r} during COPY"))
                self._drain_copy(conn)
                return
        try:
            rows = _parse_copy_rows(bytes(buf), fmt, ncols)
            n = insert_string_block(
                self.engine, table, columns, rows, database
            )
        except Exception as e:
            conn.sendall(_error(str(e)[:400]))
            return
        conn.sendall(_msg(b"C", _cstr(f"COPY {n}")))

    def _drain_copy(self, conn: socket.socket) -> None:
        """After a mid-stream COPY error, keep consuming frames until
        CopyDone/CopyFail (or EOF/oversized frame) so leftover CopyData
        isn't misread by the main loop as unsupported messages — the
        protocol requires ignoring CopyData until copy termination."""
        while True:
            head = self._recv_exact(conn, 5)
            if head is None:
                return
            t, length = head[:1], struct.unpack("!I", head[1:])[0]
            if length < 4 or length - 4 > MAX_FRAME:
                return
            if length > 4 and self._recv_exact(conn, length - 4) is None:
                return
            if t in (b"c", b"f"):
                return

    def _copy_out(self, conn: socket.socket, co, database: str = "") -> None:
        """COPY <table> [(cols)] TO STDOUT: the export half —
        CopyOutResponse ('H'), one CopyData frame per row in text or csv
        format, CopyDone, then COPY n. Reads go through the engine
        (result cap applies) so permissions/time-travel semantics hold."""
        table, cols_s, fmt = co.group(1), co.group(2), (co.group(3) or "text").lower()
        if fmt not in ("text", "csv"):
            conn.sendall(_error(f"COPY format {fmt!r} not supported"))
            return
        cols = (
            ", ".join(c.strip() for c in cols_s.split(",") if c.strip())
            if cols_s
            else "*"
        )
        try:
            r = self.engine.execute(
                f"SELECT {cols} FROM {table};", database=database or None
            )
        except Exception as e:
            conn.sendall(_error(str(e)[:400]))
            return
        ncols = len(r.columns)
        out = [
            _msg(b"H", b"\x00" + struct.pack("!H", ncols) + b"\x00\x00" * ncols)
        ]
        texts = r.column_text()
        if fmt == "csv":
            cells, sep = [_csv_field(t) for t in texts], ","
        else:
            cells = [pc.fill_null(_escape_copy_text(t), "\\N") for t in texts]
            sep = "\t"
        if cells:
            lines = pc.binary_join_element_wise(
                pc.binary_join_element_wise(*cells, sep), "\n", ""
            )
            out.append(_msgs(b"d", pc.cast(lines, pa.binary())))
        out.append(_msg(b"c", b""))  # CopyDone
        out.append(_msg(b"C", _cstr(f"COPY {r.row_count}")))
        conn.sendall(b"".join(out))

    def _describe(self, sql: str | None, database: str) -> bytes:
        """RowDescription via Catalyst ANALYSIS only (no job), in the
        connection's database like Execute; NoData when the statement is
        absent or unanalyzable — the reference's constant Describe answer
        (handler.go:185-189)."""
        if sql:
            try:
                with self.engine.statement_scope(database or None):
                    frame = self.engine.read_frame(sql.rstrip().rstrip(";"))
                    return _row_description(list(frame.columns))
            except Exception:
                pass
        return _msg(b"n", b"")  # NoData

    def _execute_portal(self, conn, p: dict, max_rows: int) -> bool:
        """Run (or resume) a bound portal; returns False on error (the
        caller then skips to Sync). max_rows > 0 suspends the portal
        (PortalSuspended) with the remainder resumable."""
        try:
            if p["result"] is None:
                sql = p["sql"]
                if not sql.rstrip().endswith(";"):
                    sql = sql.rstrip() + ";"
                r = self.engine.execute(
                    sql, database=p.get("database") or None
                )
                p["result"] = r.column_text()
                p["columns"] = r.columns
                p["message"] = r.message
                p["count"] = r.row_count
        except Exception as e:
            conn.sendall(_error(str(e)[:400]))
            return False
        texts = p["result"]
        left = len(texts[0]) if texts else 0
        n = left if max_rows <= 0 else min(max_rows, left)
        out = [_data_row([t.slice(0, n) for t in texts])] if n else []
        p["result"] = [t.slice(n) for t in texts]
        if max_rows > 0 and left > n:
            out.append(_msg(b"s", b""))  # PortalSuspended
        elif p["columns"]:
            out.append(_msg(b"C", _cstr(f"SELECT {p['count']}")))
        else:
            out.append(_msg(b"C", _cstr(p["message"] or "OK")))
        conn.sendall(b"".join(out))
        return True

    def _run_query(self, conn: socket.socket, sql: str, database: str = "") -> None:
        try:
            if not sql.rstrip().endswith(";"):
                sql = sql.rstrip() + ";"  # pg clients often omit it
            r = self.engine.execute(sql, database=database or None)
        except Exception as e:
            conn.sendall(_error(str(e)[:400]))
            return
        if r.columns:
            out = [_row_description(r.columns)]
            out.append(_data_row(r.column_text()))
            out.append(_msg(b"C", _cstr(f"SELECT {r.row_count}")))
            conn.sendall(b"".join(out))
        else:
            conn.sendall(_msg(b"C", _cstr(r.message or "OK")))


def serve(engine: Engine, port: int = 0) -> PgWireServer:
    return PgWireServer(engine, port=port).start()
