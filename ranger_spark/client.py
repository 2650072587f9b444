"""Python client SDK over the HTTP protocol — the shape of the
reference's Go SDK (reference pkg/sdk/client.go: Query/Exec,
PrepareBatch append/send :515-545, AsyncInsert), so a user of the
reference's client can switch 1:1:

    client = RangerClient("http://127.0.0.1:8123")
    client.exec("CREATE TABLE d.t (id int32, name string);")
    batch = client.prepare_batch("d.t", ["id", "name"])
    batch.append(1, "a"); batch.append(2, "b")
    batch.send()                       # one INSERT statement, atomic batch
    rows = client.query("SELECT * FROM d.t;").rows
"""

from __future__ import annotations

import json
import threading
import urllib.request
from dataclasses import dataclass, field

from ranger_spark import sqltext


@dataclass
class ClientResult:
    columns: list[str]
    rows: list[list]
    row_count: int
    message: str = ""
    query_id: str = ""


class RangerClientError(Exception):
    def __init__(self, message: str, code: str | None = None):
        self.code = code
        super().__init__(message)


class RangerClient:
    def __init__(self, url: str, timeout_s: float = 300.0):
        self.url = url.rstrip("/")
        self.timeout_s = timeout_s

    # ------------------------------------------------------------ core ops
    def _post(self, sql: str) -> ClientResult:
        req = urllib.request.Request(
            f"{self.url}/query",
            data=json.dumps({"query": sql}).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
                body = json.loads(resp.read())
        except urllib.error.HTTPError as e:
            err = json.loads(e.read())
            raise RangerClientError(err.get("error", "error"), err.get("code")) from None
        return ClientResult(
            columns=body.get("columns", []),
            rows=body.get("data", []),
            row_count=body.get("row_count", 0),
            message=body.get("message", ""),
            query_id=body.get("query_id", ""),
        )

    def query(self, sql: str) -> ClientResult:
        """Read statement; returns rows (≈ SDK Client.Query)."""
        return self._post(sql)

    def exec(self, sql: str) -> ClientResult:
        """Statement executed for effect (≈ SDK Client.Exec)."""
        return self._post(sql)

    def ping(self) -> bool:
        try:
            with urllib.request.urlopen(f"{self.url}/health", timeout=5) as resp:
                return json.loads(resp.read()).get("status") == "ok"
        except OSError:
            return False

    # --------------------------------------------------------------- batch
    def prepare_batch(self, table: str, columns: list[str]) -> "Batch":
        """Accumulate rows client-side; send() issues one INSERT (the
        whole batch validates/commits atomically server-side, matching the
        reference's strict batch semantics)."""
        return Batch(self, table, columns)

    def async_insert(self, table: str, columns: list[str], rows: list[tuple]):
        """Fire-and-return insert on a background thread (≈ SDK
        AsyncInsert); returns the thread, whose .result holds the
        ClientResult or exception after join()."""
        batch = self.prepare_batch(table, columns)
        for r in rows:
            batch.append(*r)

        class _T(threading.Thread):
            result: ClientResult | None = None
            error: Exception | None = None

            def run(self):
                try:
                    self.result = batch.send()
                except Exception as e:  # surfaced on join
                    self.error = e

        t = _T(daemon=True)
        t.start()
        return t


@dataclass
class Batch:
    client: RangerClient
    table: str
    columns: list[str]
    _rows: list[tuple] = field(default_factory=list)

    def append(self, *values) -> None:
        if len(values) != len(self.columns):
            raise RangerClientError(
                f"{len(values)} values for {len(self.columns)} columns"
            )
        self._rows.append(values)

    def __len__(self) -> int:
        return len(self._rows)

    def send(self) -> ClientResult:
        if not self._rows:
            raise RangerClientError("empty batch")
        rows_sql = ", ".join(
            "(" + ", ".join(_lit(v) for v in row) + ")" for row in self._rows
        )
        sql = (
            f"INSERT INTO {self.table} ({', '.join(self.columns)}) "
            f"VALUES {rows_sql};"
        )
        result = self.client.exec(sql)
        self._rows = []
        return result


def _lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    return sqltext.quote(str(v))


class LakehouseClient:
    """The reference CLI client's higher-level operations
    (client/client.go:97-338) over any transport exposing
    ``query(sql)``/``exec(sql)`` (RangerClient over HTTP, or the native
    SDK client): list/describe/drop tables, namespace management, file
    import. Every method is the same thin SQL wrapper the reference
    uses (SHOW TABLES :193, DESCRIBE :222, DROP TABLE :259,
    SHOW DATABASES :277, CREATE/DROP DATABASE :313/:331).

    ``import_file`` differs deliberately: the reference emits
    ``COPY t FROM 'f' (FORMAT PARQUET)`` (client.go:168) — a statement
    its own server BLOCKS (duckdb/engine.go:61 BlockedKeywords includes
    COPY), so the reference's import cannot actually succeed. Here the
    import is expressed as statements the engine executes:
    ``CREATE TABLE … AS SELECT`` / ``INSERT … SELECT`` over Spark's
    ``parquet.`path``` relation — distributed, no driver
    materialization. (Since round 7 the engine ALSO executes the
    reference client's literal ``COPY … FROM/TO`` statement — see
    engine._copy_from — so an unmodified reference client's import
    succeeds against this server; import_file keeps the
    auto-create-table convenience.)
    """

    def __init__(self, transport):
        self.t = transport

    def execute_query(self, sql: str):
        return self.t.query(sql)

    def list_tables(self) -> list[str]:
        r = self.t.query("SHOW TABLES;")
        # engine rows are (database_name, table_name) — reference system
        # view shape; fall back to the first column for 1-col transports
        idx = (
            r.columns.index("table_name")
            if "table_name" in r.columns
            else 0
        )
        return [row[idx] for row in r.rows if row]

    def describe_table(self, table: str) -> list[tuple[str, str]]:
        r = self.t.query(f"DESCRIBE {table};")
        return [(row[0], row[1]) for row in r.rows if len(row) >= 2]

    def drop_table(self, table: str) -> None:
        self.t.exec(f"DROP TABLE {table};")

    def list_namespaces(self) -> list[str]:
        r = self.t.query("SHOW DATABASES;")
        return [row[0] for row in r.rows if row]

    def create_namespace(self, namespace: str) -> None:
        self.t.exec(f"CREATE DATABASE IF NOT EXISTS {namespace};")

    def drop_namespace(self, namespace: str) -> None:
        self.t.exec(f"DROP DATABASE {namespace};")

    def import_file(
        self, file_path: str, table: str, overwrite: bool = False
    ) -> None:
        """Import a parquet file into ``table`` (created when absent)."""
        if "'" in file_path or "`" in file_path:
            raise RangerClientError(f"unsafe import path {file_path!r}")
        src = f"SELECT * FROM parquet.`{file_path}`"
        try:
            self.describe_table(table)
        except Exception:
            self.t.exec(f"CREATE TABLE {table} AS {src};")
            return
        if overwrite:
            self.t.exec(f"DELETE FROM {table};")
        self.t.exec(f"INSERT INTO {table} {src};")
