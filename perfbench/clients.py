"""One client per wire protocol behind a common ``query(sql)`` that
returns (columns, rows). HTTP and native use the product's own clients;
pgwire uses a raw-socket simple-query client, since no PostgreSQL
client library is installed."""

from __future__ import annotations

import socket
import struct

from ranger_spark.client import RangerClient, RangerClientError
from ranger_spark.sources.native_server import NativeClient


class StatementError(Exception):
    """The server refused or failed a statement."""


class HttpClient:
    proto = "http"

    def __init__(self, port: int):
        self.c = RangerClient(f"http://127.0.0.1:{port}")

    def query(self, sql: str):
        try:
            r = self.c.query(sql)
        except RangerClientError as e:
            raise StatementError(f"http: {e.code}: {e}") from None
        return r.columns, r.rows

    def close(self) -> None:
        pass


class NativeSql:
    proto = "native"

    def __init__(self, port: int, compress: str = "none"):
        self.c = NativeClient("127.0.0.1", port, compression=compress)

    def query(self, sql: str):
        try:
            r = self.c.query(sql)
        except RuntimeError as e:
            raise StatementError(f"native: {e}") from None
        return [c for c, _t in r["columns"]], r["rows"]

    def insert(self, table: str, columns: list[str], rows: list[tuple]) -> None:
        """A ClientData block, confirmed by a ping: the server answers
        the ping only after the block committed, or sends its error."""
        self.c.insert(table, columns, rows)
        try:
            self.c.ping()
        except (RuntimeError, ConnectionError) as e:
            raise StatementError(f"native insert: {e}") from None

    def close(self) -> None:
        self.c.close()


def parse_data_row(payload: bytes) -> tuple:
    """The text cells of one pgwire DataRow message body."""
    (n,) = struct.unpack("!H", payload[:2])
    pos = 2
    row = []
    for _ in range(n):
        (ln,) = struct.unpack("!i", payload[pos : pos + 4])
        pos += 4
        if ln < 0:
            row.append(None)
        else:
            row.append(payload[pos : pos + ln].decode())
            pos += ln
    return tuple(row)


class PgClient:
    """PostgreSQL simple-query protocol over a raw socket: startup with
    no authentication, then ``Q`` messages, reading RowDescription,
    DataRow, CommandComplete and ErrorResponse until ReadyForQuery."""

    proto = "pgwire"

    def __init__(self, port: int, user: str = "bench", database: str = ""):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=300)
        params = b"user\x00" + user.encode() + b"\x00"
        if database:
            params += b"database\x00" + database.encode() + b"\x00"
        body = struct.pack("!I", 196608) + params + b"\x00"
        self.sock.sendall(struct.pack("!I", len(body) + 4) + body)
        self._buf = b""
        self._until_ready()

    def _recv_exact(self, n: int) -> bytes:
        while len(self._buf) < n:
            chunk = self.sock.recv(max(65536, n - len(self._buf)))
            if not chunk:
                raise ConnectionError("pgwire server closed the connection")
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def _message(self) -> tuple[bytes, bytes]:
        head = self._recv_exact(5)
        (length,) = struct.unpack("!I", head[1:])
        return head[:1], self._recv_exact(length - 4)

    def _until_ready(self):
        columns: list[str] = []
        rows: list[tuple] = []
        error = None
        while True:
            tag, payload = self._message()
            if tag == b"T":
                (n,) = struct.unpack("!H", payload[:2])
                pos = 2
                columns = []
                for _ in range(n):
                    end = payload.index(b"\x00", pos)
                    columns.append(payload[pos:end].decode())
                    pos = end + 1 + 18
            elif tag == b"D":
                rows.append(parse_data_row(payload))
            elif tag == b"E":
                fields = payload.split(b"\x00")
                msg = [f[1:].decode() for f in fields if f[:1] == b"M"]
                error = msg[0] if msg else "error"
            elif tag == b"Z":
                if error is not None:
                    raise StatementError(f"pgwire: {error}")
                return columns, rows

    def query(self, sql: str):
        payload = sql.encode() + b"\x00"
        self.sock.sendall(b"Q" + struct.pack("!I", len(payload) + 4) + payload)
        return self._until_ready()

    def close(self) -> None:
        try:
            self.sock.sendall(b"X" + struct.pack("!I", 4))
            self.sock.close()
        except OSError:
            pass
