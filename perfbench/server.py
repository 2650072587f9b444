"""Benchmark-owned launcher for the served system under test.

Runs in its own process: ``python3 -m perfbench.server RUN_DIR TRACE
CPUS``. It builds the product's composition root,
``gateway.RangerServer`` over ``session.get_spark(cpus=CPUS)`` with the
product defaults (Astha CDC loop and result cache on), and takes
commands as JSON lines on stdin, answering each with one JSON line on
the original stdout. Everything the process writes stays under RUN_DIR.

With TRACE=1 it wraps the calls into each layer (see ``install``) and
records spans while the generator has tracing switched on.
"""

from __future__ import annotations

import json
import os
import shutil
import socket
import subprocess
import sys
import time
import traceback

from perfbench.trace import TimedLock, Tracer, spark_job_metrics, spark_phases
from perfbench.trace import overlap_s

PROTO_ROOTS = {
    "http": "stmt.http",
    "pgwire": "stmt.pgwire",
    "native": "stmt.native",
}


def session(run_dir: str, cpus: int, app: str):
    """A Spark session whose scratch, warehouse and checkpoints all live
    under ``run_dir``."""
    for sub in ("local", "tmp", "ckpt"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["RANGER_STREAM_CKPT_BASE"] = os.path.join(run_dir, "ckpt")
    os.environ["TMPDIR"] = tmp
    # every JVM, spark-submit's launcher too: temporary files under the
    # run directory and no hsperfdata file in the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    from ranger_spark.session import get_spark

    return get_spark(
        app,
        cpus=cpus,
        extra_conf={
            "spark.local.dir": os.path.join(run_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM, which exits once its stdin
    closes, so it ends as this process's child and is reaped here."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Layers:
    """The wrappers of one traced server process, and the per-statement
    bookkeeping their hooks feed."""

    def __init__(self, tracer: Tracer):
        self.t = tracer
        self.qids: list[str] = []
        self.port_proto: dict[int, str] = {}
        self.collects: list[int] = []  # span indexes of DataFrame.collect

    def install(self) -> None:
        import pyspark.sql
        from pyspark.sql.classic.dataframe import DataFrame

        import ranger_spark.catalog as catalog
        import ranger_spark.engine as engine
        import ranger_spark.sources.http_server as http_server
        import ranger_spark.sources.iceberg_meta as iceberg_meta
        import ranger_spark.sources.native_server as native_server
        import ranger_spark.sources.pgwire_server as pgwire_server
        import ranger_spark.streaming.astha as astha
        from ranger_spark.sources.snapshots import VersionedTable

        t = self.t
        # statement roots, one per protocol
        t.wrap(http_server._Handler, "do_POST", PROTO_ROOTS["http"])
        t.wrap(pgwire_server.PgWireServer, "_run_query", PROTO_ROOTS["pgwire"])
        t.wrap(native_server.NativeServer, "_run_query", PROTO_ROOTS["native"])
        t.wrap(native_server.NativeServer, "_insert_block", "stmt.native_insert")
        # router: the engine imports ``route`` by name, so wrap it there
        t.wrap(engine, "route", "router")
        t.wrap(engine.Engine, "execute", "engine.execute", after=self._on_execute)
        self._wrap_read(engine.Engine)
        t.wrap(pyspark.sql.SparkSession, "sql", "engine.plan")
        t.wrap(DataFrame, "inputFiles", "engine.cache_key")
        t.wrap(DataFrame, "collect", "engine.collect", after=self._on_collect)
        # wire encoders
        http_server.json = _TimedJson(t)
        t.wrap(pgwire_server, "_row_description", "wire.pgwire.encode")
        t.wrap(pgwire_server, "_data_row", "wire.pgwire.encode")
        t.wrap(native_server, "pack_server_data", "wire.native.encode")
        t.wrap(native_server, "wrap_payload", "wire.native.compress")
        self._wrap_send()
        # commit path
        t.wrap(VersionedTable, "commit", "commit", after=self._on_commit)
        for store in (catalog.JsonCatalogStore, catalog.SqliteCatalogStore):
            t.wrap(store, "mutate", "catalog.mutate")
            t.wrap(store, "load", "catalog.load")
        t.wrap(iceberg_meta, "emit", "iceberg.emit")
        t.wrap(astha.CDCConsumer, "poll_once", "astha.poll", after=self._on_poll)

    # ------------------------------------------------------------ hooks
    def _on_execute(self, r, args, kwargs) -> None:
        qid = getattr(r, "query_id", "")
        if qid:
            self.qids.append(qid)
            self.t.set_qid(qid)

    def _on_collect(self, rows, args, kwargs) -> None:
        # the collect span just ended is the newest finished child
        self.collects.append(self._last("engine.collect"))
        self.t.add("engine.rows_out", len(rows))
        for k, v in spark_phases(args[0]).items():
            self.t.add(f"spark.{k}_ms", v)

    def _last(self, name: str) -> int:
        spans = self.t.spans
        for i in range(len(spans) - 1, -1, -1):
            if spans[i][0] == name and spans[i][2] is not None:
                return i
        return -1

    def _on_commit(self, version, args, kwargs) -> None:
        files = kwargs.get("files", args[1] if len(args) > 1 else None)
        added = kwargs.get("added", args[4] if len(args) > 4 else None)
        data_dir = kwargs.get("data_dir", args[2] if len(args) > 2 else "")
        new = added if added is not None else (files or [])
        self.t.add("commit.count")
        self.t.add("commit.files_added", len(new))
        size = 0
        for f in new:
            p = f if os.path.isabs(f) else os.path.join(data_dir, f)
            try:
                size += os.path.getsize(p)
            except OSError:
                pass
        self.t.add("commit.bytes_written", size)

    def _on_poll(self, n, args, kwargs) -> None:
        self.t.add("astha.polls")
        self.t.add("astha.events", n or 0)

    def _wrap_read(self, engine_cls) -> None:
        """Result-cache lookups and hits, seen around ``Engine._read``."""
        orig = engine_cls._read
        t = self.t

        def _read(eng, sql):
            if not t.enabled:
                return orig(eng, sql)
            hits0 = eng._result_cache_hits
            n0 = t.counts["engine.cache_key.calls"]
            r = orig(eng, sql)
            if t.counts["engine.cache_key.calls"] > n0:
                t.add("engine.result_cache.lookups")
            if eng._result_cache_hits > hits0:
                t.add("engine.result_cache.hits")
            return r

        engine_cls._read = _read
        from pyspark.sql.classic.dataframe import DataFrame

        inner = DataFrame.inputFiles

        def inputFiles(df):  # noqa: N802 (pyspark name)
            t.add("engine.cache_key.calls")
            return inner(df)

        DataFrame.inputFiles = inputFiles

    def _wrap_send(self) -> None:
        """Bytes and calls per protocol, told apart by the server port."""
        t = self.t
        ports = self.port_proto
        orig = socket.socket.sendall

        def sendall(sock, data, *a):
            if not t.enabled:
                return orig(sock, data, *a)
            try:
                proto = ports.get(sock.getsockname()[1])
            except OSError:
                proto = None
            idx = t.begin("wire.send")
            try:
                return orig(sock, data, *a)
            finally:
                t.end(idx)
                if proto:
                    t.add(f"wire.{proto}.bytes_out", len(data))
                    t.add(f"wire.{proto}.send_calls")

        socket.socket.sendall = sendall

    # ----------------------------------------------------------- report
    def report(self, spark) -> dict:
        t = self.t
        rep = t.layer_report("stmt.")
        jm = spark_job_metrics(spark, list(dict.fromkeys(self.qids)))
        # collect time not covered by the statement's Spark jobs
        transfer = 0.0
        for idx in self.collects:
            s = t.spans[idx]
            if idx < 0 or s[2] is None:
                continue
            root = idx
            while t.spans[root][3] is not None:
                root = t.spans[root][3]
            qid = t.spans[root][4]
            span = (s[1] + t.epoch_offset, s[2] + t.epoch_offset)
            cov = overlap_s(span, jm["intervals"].get(qid, []))
            transfer += (s[2] - s[1]) - cov
        calls = rep["calls"]
        per_proto = {
            p: calls.get(root, 0) for p, root in PROTO_ROOTS.items()
        }
        return {
            "layers": rep,
            "counts": dict(t.counts),
            "spark": jm["totals"],
            "transfer_s": transfer,
            "stmts_per_proto": per_proto,
        }


class _TimedJson:
    """Stand-in for the ``json`` module inside the HTTP server whose
    ``dumps`` (the response encoder) runs inside a span."""

    def __init__(self, tracer: Tracer):
        self._t = tracer
        self.loads = json.loads
        self.JSONDecodeError = json.JSONDecodeError

    def dumps(self, *a, **k):
        with self._t.span("wire.http.encode"):
            return json.dumps(*a, **k)


def setup_probe(spark, run_dir: str, data_dir: str, k: int) -> float:
    """One served set-up, timed: composition root over a fresh warehouse
    (Engine, recover, gateway and Astha start) and the first answered
    point lookup, on a Parquet file. Torn down after."""
    from ranger_spark.client import RangerClient
    from ranger_spark.gateway import RangerServer

    wh = os.path.join(run_dir, f"probe{k}")
    spark.conf.set("spark.ranger.warehouse.dir", wh)
    t0 = time.perf_counter()
    srv = RangerServer(spark, http_port=0, jdbc_port=0, native_port=0).start()
    try:
        c = RangerClient(f"http://127.0.0.1:{srv.gateway.ports()['http']}")
        r = c.query(
            "SELECT * FROM "
            f"parquet.`{os.path.join(data_dir, 'nation.parquet')}` "
            f"WHERE n_nationkey = {k + 1};"
        )
        if r.row_count != 1:
            raise RuntimeError("set-up probe lookup returned no row")
        elapsed = time.perf_counter() - t0
    finally:
        srv.shutdown()
    shutil.rmtree(wh, ignore_errors=True)
    return elapsed


def table_bytes(engine, name: str) -> dict:
    """Bytes under a table's location (every retained snapshot plus its
    metadata) and the data files its current snapshot lists."""
    from ranger_spark.sources.snapshots import VersionedTable

    loc = engine._manifest["tables"][engine._qualify(name)]["location"]
    total = 0
    for root, _dirs, files in os.walk(loc):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return {"bytes": total, "live_files": len(VersionedTable(loc).files())}


def recover_check(spark, warehouse: str, queries: list[str]) -> dict:
    """Time ``Engine.recover()`` of a fresh Engine, in this process that
    has not served yet, on the warehouse another process wrote; then
    answer ``queries`` from the recovered engine."""
    from ranger_spark.engine import Engine

    spark.conf.set("spark.ranger.warehouse.dir", warehouse)
    t0 = time.perf_counter()
    eng = Engine(spark)
    n = eng.recover()
    secs = time.perf_counter() - t0
    answers = [[list(r) for r in eng.execute(q).rows] for q in queries]
    return {"recover_s": secs, "tables": n, "answers": answers}


def main() -> int:
    run_dir, trace, cpus = sys.argv[1], sys.argv[2] == "1", int(sys.argv[3])
    reply = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)  # anything else (JVM, libraries) goes to the log
    sys.stdout = sys.stderr

    def send(obj) -> None:
        reply.write(json.dumps(obj, default=str) + "\n")

    spark = session(run_dir, cpus, "perfbench-server")
    # one small job, so no timed step pays the JVM's first-query cost
    spark.range(1000).selectExpr("sum(id)").collect()
    tracer = Tracer()
    layers = Layers(tracer)
    if trace:
        layers.install()
    server = None
    send({"ok": True, "pid": os.getpid()})
    for line in sys.stdin:
        cmd = json.loads(line)
        op = cmd["op"]
        try:
            if op == "probe":
                send({"ok": True, "setup_s": [
                    setup_probe(spark, run_dir, cmd["data_dir"], k)
                    for k in range(cmd["k"])
                ]})
            elif op == "start":
                from ranger_spark.gateway import RangerServer

                spark.conf.set(
                    "spark.ranger.warehouse.dir", os.path.join(run_dir, "wh")
                )
                server = RangerServer(
                    spark, http_port=0, jdbc_port=0, native_port=0
                ).start()
                if trace:
                    eng = server.engine
                    eng._stmt_lock = TimedLock(eng._stmt_lock, tracer)
                ports = server.gateway.ports()
                layers.port_proto.update({
                    ports["http"]: "http",
                    ports["jdbc"]: "pgwire",
                    ports["native"]: "native",
                })
                send({"ok": True, "ports": ports})
            elif op == "trace":
                tracer.enabled = bool(cmd["on"])
                send({"ok": True})
            elif op == "report":
                tracer.enabled = False
                rep = layers.report(spark)
                tracer.dump(os.path.join(run_dir, "spans.jsonl"))
                send({"ok": True, "report": rep})
            elif op == "table_bytes":
                send({"ok": True, **table_bytes(server.engine, cmd["table"])})
            elif op == "stop":
                server.shutdown()
                server = None
                send({"ok": True})
            elif op == "recover":
                send({"ok": True, **recover_check(spark, cmd["warehouse"],
                                                  cmd["queries"])})
            elif op == "quit":
                send({"ok": True})
                break
            else:
                send({"ok": False, "error": f"unknown op {op}"})
        except Exception as e:  # report and keep serving commands
            traceback.print_exc()
            send({"ok": False, "error": f"{type(e).__name__}: {e}"})
    if server is not None:
        server.shutdown()
    stop_session(spark)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
