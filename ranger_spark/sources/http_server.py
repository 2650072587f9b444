"""HTTP JSON protocol: the reference's primary wire surface
(reference server/protocols/http/server.go:55-64 — POST /query plus
/status /info /health), fronted over our Engine. Stdlib-only
(http.server), threaded, JSON-shaped like the reference's QueryResult
{data, row_count, columns, message, query_id}.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pyarrow.compute as pc

from ranger_spark import __version__
from ranger_spark.engine import Engine
from ranger_spark.errors import RangerError
from ranger_spark.result import joined


def _data_json(r) -> str:
    """``json.dumps`` of the result's rows as lists, joined from its
    per-column JSON text."""
    cols = r.column_json()
    if not r.num_rows or not cols:
        return "[" + ", ".join(["[]"] * r.num_rows) + "]"
    return "[[" + joined(pc.binary_join_element_wise(*cols, ", "), "], [") + "]]"


class _Handler(BaseHTTPRequestHandler):
    engine: Engine  # set by serve()

    def _send(self, code: int, payload: dict | str) -> None:
        body = (payload if isinstance(payload, str) else json.dumps(payload)).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):  # silence per-request stderr noise
        pass

    def do_GET(self):  # noqa: N802 (http.server API)
        if self.path == "/health":
            import datetime as _dt

            # reference shape (server.go:191-195); "ok" kept for repo tests
            self._send(
                200,
                {
                    "status": "ok",
                    "health": "healthy",
                    "server": "ranger-http",
                    "timestamp": _dt.datetime.now(_dt.timezone.utc)
                    .strftime("%Y-%m-%dT%H:%M:%SZ"),
                },
            )
        elif self.path == "/status":
            qs = self.engine.exec_mgr.list_queries()
            self._send(
                200,
                {
                    # reference shape (server.go:154) + richer counters
                    "status": "running",
                    "server": "http",
                    "queries_total": self.engine.exec_mgr.started,
                    "queries_running": sum(1 for q in qs if q.status == "running"),
                },
            )
        elif self.path == "/info":
            self._send(
                200,
                {
                    # reference keys (server.go:163-174) + repo keys
                    "server": "ranger-http",
                    "protocol": "HTTP/1.1",
                    "queryEngine": "enabled",
                    "endpoints": [
                        "POST /query - Execute SQL queries",
                        "GET /status - Server status",
                        "GET /info - Server information",
                        "GET /health - Health check",
                    ],
                    "engine": "ranger_spark",
                    "version": __version__,
                    "spark_version": self.engine.spark.version,
                },
            )
        else:
            self._send(404, {"error": "not found"})

    def do_POST(self):  # noqa: N802
        from urllib.parse import parse_qs, urlparse

        parsed = urlparse(self.path)
        if parsed.path != "/query":
            self._send(404, {"error": "not found"})
            return
        length = int(self.headers.get("Content-Length", "0"))
        body = self.rfile.read(length) if length else b""
        # the reference's own handler reads the statement from the URL
        # parameter `?q=` (server/protocols/http/server.go:92) — honor
        # that shape first; the JSON body {"query", "database"?} is the
        # richer extension shared with the native protocol
        qparam = parse_qs(parsed.query).get("q", [None])[0]
        database = None
        if qparam is not None:
            sql = qparam
        else:
            try:
                req = json.loads(body or b"{}")
                sql = req["query"]
                database = req.get("database") or None
            except (json.JSONDecodeError, KeyError, TypeError):
                self._send(
                    400,
                    {"error": "pass ?q=<sql> or a JSON body with a "
                              "'query' field"},
                )
                return
        try:
            r = self.engine.execute(sql, database=database)
        except RangerError as e:
            self._send(400, {"error": str(e), "code": e.code})
            return
        except Exception as e:  # executor errors (≈ DuckDB errors upstream)
            self._send(400, {"error": str(e)[:500]})
            return
        # superset of the reference's response keys (status/query/
        # rowCount/timestamp, server.go:119-126) and this repo's richer
        # shape (row_count/query_id) — a client written against either
        # reads its keys unchanged
        import datetime as _dt

        body = json.dumps(
            {
                "status": "success",
                "query": sql,
                "columns": r.columns,
                "data": None,
                "rowCount": r.row_count,
                "row_count": r.row_count,
                "message": r.message,
                "query_id": r.query_id,
                "timestamp": _dt.datetime.now(_dt.timezone.utc)
                .strftime("%Y-%m-%dT%H:%M:%SZ"),
            },
        )
        # the rows go in as text, joined from the result's per-column
        # JSON; the first '"data": null' is the key (inside a string
        # every quote is escaped)
        self._send(200, body.replace('"data": null', f'"data": {_data_json(r)}', 1))


def serve(engine: Engine, port: int = 0, host: str = "127.0.0.1"):
    """Start the HTTP server on a daemon thread; returns (server, port).
    port=0 picks a free port."""
    handler = type("BoundHandler", (_Handler,), {"engine": engine})
    srv = ThreadingHTTPServer((host, port), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, srv.server_address[1]
