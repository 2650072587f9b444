#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: ``olap_batch`` (registry builders and a streaming drain,
in-process) and ``served`` (the gateway in its own process, driven by
this process as the load generator: one closed loop, one statement in
flight, over four connections used in turn). Inputs come
from ``--seed``; each run starts from a fresh warehouse under
``.perfbench/`` in the repository root.

With ``--trace 0`` the run measures the end-to-end metrics; with
``--trace 1`` it measures half the window untraced and half with spans
around every layer, and reports the per-layer metrics. Lines before the
last describe the run for a reader (every metric with its unit and
sample count, the box facts); the last line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Any wrong answer or
failed statement makes the run exit non-zero.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# import the package as ``perfbench.*`` from the repository root, never
# its modules by bare name (``trace`` would shadow the stdlib module)
if sys.path and os.path.abspath(sys.path[0]) == os.path.dirname(
    os.path.abspath(__file__)
):
    sys.path[0] = ROOT
else:
    sys.path.insert(0, ROOT)

WORKLOADS = ("olap_batch", "served")
# scale factor of the generated tables per workload: the served tables
# are small enough that a statement's fixed cost, not its scan, sets the
# statement rate, and the set-up CTAS fits the run
SF = {"olap_batch": 0.1, "served": 0.02}
CPUS = len(os.sched_getaffinity(0))
SETUP_PROBES = 5
# whole cycles every served window holds at least, so each class has as
# many samples on a slow host (two; one in each half of a traced run)
SERVED_MIN_CYCLES = 2
OLAP_MIN_ROUNDS = 3  # timed rounds, so each builder's median has three runs
WATCHDOG_S = 170.0

END_TO_END = {
    "setup_s": "s",
    "class_p50_ms": "ms",
    "round_s": "s",
}

# name → unit. Times are self times; "/stmt" divides by the statements
# (builder runs on olap_batch) of the traced window; counts and bytes
# are totals over that window.
PER_LAYER = {
    "router.calls": "count",
    "router.ms": "ms/stmt",
    "engine.execute_ms": "ms/stmt",
    "engine.lock_wait_ms": "ms/stmt",
    "engine.lock_hold_ms": "ms/stmt",
    "engine.plan_ms": "ms/stmt",
    "engine.cache_key_ms": "ms/stmt",
    "engine.collect_ms": "ms/stmt",
    "engine.transfer_ms": "ms/stmt",
    "engine.result_cache.lookups": "count",
    "engine.result_cache.hits": "count",
    "engine.result_cache.hit_ratio": "ratio",
    "engine.rows_out": "count",
    "spark.analysis_ms": "ms/stmt",
    "spark.optimization_ms": "ms/stmt",
    "spark.planning_ms": "ms/stmt",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_wall_ms": "ms/stmt",
    "spark.executor_run_ms": "ms/stmt",
    "spark.executor_cpu_ms": "ms/stmt",
    "spark.shuffle_write_bytes": "B",
    "spark.input_bytes": "B",
    "queries.build_ms": "ms/stmt",
    "drain.build_ms": "ms/stmt",
    "drain.run_ms": "ms/stmt",
    "drain.jobs": "count",
    "astha.polls": "count",
    "astha.poll_ms": "ms/poll",
    "astha.events": "count",
    "wire.http.encode_ms": "ms/stmt",
    "wire.pgwire.encode_ms": "ms/stmt",
    "wire.native.encode_ms": "ms/stmt",
    "wire.native.compress_ms": "ms/stmt",
    "wire.send_ms": "ms/stmt",
    "wire.http.bytes_out": "B",
    "wire.pgwire.bytes_out": "B",
    "wire.native.bytes_out": "B",
    "wire.http.send_calls": "count",
    "wire.pgwire.send_calls": "count",
    "wire.native.send_calls": "count",
    "commit.count": "count",
    "commit.ms": "ms/commit",
    "catalog.mutate_ms": "ms/stmt",
    "catalog.load_ms": "ms/stmt",
    "iceberg.emit_ms": "ms/commit",
    "commit.files_added": "count",
    "commit.bytes_written": "B",
    "table.live_files": "count",
    "server.cpu_s": "s",
    "server.threads": "count",
    "server.fds": "count",
    "gen.cpu_s": "s",
    "trace.stmts": "count",
    "layer.accounted_ratio": "ratio",
    "layer.unaccounted_ms": "ms/stmt",
    "trace.overhead_ms": "ms",
}

# span name → per-layer metric (self time per statement)
SPAN_METRIC = {
    "router": "router.ms",
    "engine.execute": "engine.execute_ms",
    "engine.lock_wait": "engine.lock_wait_ms",
    "engine.lock_hold": "engine.lock_hold_ms",
    "engine.plan": "engine.plan_ms",
    "engine.cache_key": "engine.cache_key_ms",
    "engine.collect": "engine.collect_ms",
    "queries.build": "queries.build_ms",
    "drain.build": "drain.build_ms",
    "drain.run": "drain.run_ms",
    "wire.http.encode": "wire.http.encode_ms",
    "wire.pgwire.encode": "wire.pgwire.encode_ms",
    "wire.native.encode": "wire.native.encode_ms",
    "wire.native.compress": "wire.native.compress_ms",
    "wire.send": "wire.send_ms",
    "catalog.mutate": "catalog.mutate_ms",
    "catalog.load": "catalog.load_ms",
}


T0 = time.perf_counter()


def say(msg: str) -> None:
    print(msg, flush=True)


def phase(msg: str) -> None:
    """A progress mark with the seconds since the run started."""
    say(f"[{time.perf_counter() - T0:6.1f} s] {msg}")


def ms(xs: list[float]) -> list[float]:
    return [x * 1000.0 for x in xs]


def line(name: str, value, unit: str, n=None, extra: str = "") -> None:
    """One human-readable metric line (the JSON line comes last)."""
    v = f"{value:.6g}" if isinstance(value, (int, float)) else str(value)
    cnt = f" n={n}" if n is not None else ""
    say(f"  {name:<30} {v:>14} {unit:<8}{cnt}{extra}")


def pct_line(name: str, samples_ms: list[float], q: float) -> None:
    """A latency percentile with its sample count and, for a tail, the
    number of samples beyond it."""
    from perfbench.stats import beyond, percentile

    if not samples_ms:
        line(name, "none", "ms", 0)
        return
    n = len(samples_ms)
    note = ""
    if q > 50:
        b = beyond(n, q)
        note = f" beyond={b}" + ("" if b >= 10 else " (fewer than 10 beyond)")
    line(name, percentile(samples_ms, q), "ms", n, note)


def class_p50_ms(groups: dict[str, list[float]]) -> float:
    """Geometric mean over statement classes of each class's median
    latency (ms): one number that weighs a point lookup's cost as much
    as an aggregate's, and whose median never falls on the boundary
    between two classes of very different cost."""
    meds = [statistics.median(v) * 1000.0 for v in groups.values() if v]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def round_s(groups: dict[str, list[float]], weights: dict[str, int]) -> float:
    """Seconds of one round of the workload (every builder once; every
    slot of the served cycle once), each statement taken at its class's
    median latency: the time a user waits for the whole mix, without
    the pull of a single slow outlier."""
    return sum(statistics.median(v) * weights.get(c, 1)
               for c, v in groups.items() if v)


# ----------------------------------------------------------------- server
class ServerProc:
    """A benchmark-owned server process (``perfbench.server``)."""

    def __init__(self, run_dir: str, trace: int, name: str):
        self.log = open(os.path.join(run_dir, f"{name}.log"), "w")
        env = dict(os.environ, PYTHONPATH=ROOT)
        self.p = subprocess.Popen(
            [sys.executable, "-m", "perfbench.server", run_dir, str(trace),
             str(CPUS)],
            cwd=ROOT, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self.log, text=True,
        )
        self.pid = self.p.pid
        self.pids = [self.pid]  # the tree to kill in ``close``
        self.quitting = False

    def _read(self) -> dict:
        line_ = self.p.stdout.readline()
        if not line_:
            raise RuntimeError(f"server exited; see {self.log.name}")
        r = json.loads(line_)
        if not r.get("ok"):
            raise RuntimeError(f"server: {r.get('error')}")
        return r

    def ready(self) -> dict:
        return self._read()

    def call(self, **cmd) -> dict:
        self.p.stdin.write(json.dumps(cmd) + "\n")
        self.p.stdin.flush()
        return self._read()

    def quit(self) -> None:
        """Ask the server to stop, once; ``close`` waits for it."""
        from perfbench import box

        if self.quitting or self.p.poll() is not None:
            return
        self.quitting = True
        self.pids = box.tree(self.pid)  # before the JVM can be orphaned
        try:
            self.call(op="quit")
        except (RuntimeError, OSError, ValueError):
            pass

    def close(self) -> None:
        self.quit()
        try:
            self.p.wait(timeout=60)
        except subprocess.TimeoutExpired:
            pass
        stop_pids(self.pids)
        self.log.close()


def stop_pids(pids) -> None:
    """Kill whatever of ``pids`` is still alive, reap our children, and
    wait until every one has ended (a JVM is a grandchild: only its end,
    not its exit status, can be waited for)."""
    from perfbench.box import alive

    left = [p for p in pids if p != os.getpid()]
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.perf_counter() + 30.0
    while left and time.perf_counter() < deadline:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        left = [p for p in left if alive(p)]
        if left:
            time.sleep(0.05)


# -------------------------------------------------------------- workloads
def cpu_self() -> float:
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return ru.ru_utime + ru.ru_stime


def windows(args) -> list[tuple[str, float]]:
    if args.trace:
        return [("untraced", args.seconds / 2), ("traced", args.seconds / 2)]
    return [("untraced", args.seconds)]


def served(args, run_dir: str, data_dir: str, data) -> dict:
    """Set up the server, load, run the closed loop for each window,
    check every answer, then recover the warehouse in a second, fresh
    server process. ``data`` is the future of the generated tables: the
    server boots while they are made."""
    import duckdb
    import pyarrow.parquet as pq

    from perfbench import box, served as sv
    from perfbench.clients import HttpClient, NativeSql, PgClient

    srv = ServerProc(run_dir, args.trace, "server")
    fresh = None
    out: dict = {"box": {}}
    rss = None
    clients: dict = {}
    try:
        tables = data.result()
        con = duckdb.connect()
        sv.load_duck(con, data_dir)
        model = sv.IngestModel(con)
        srv.ready()
        phase("server up")
        rss = box.RssSampler(srv.pid).start()
        out["setups"] = srv.call(
            op="probe", data_dir=data_dir, k=SETUP_PROBES
        )["setup_s"]
        phase("set-up probes done")
        # the recovery process boots while the tables load and the loop
        # warms up: after the timed probes, before the window
        fresh = ServerProc(run_dir, 0, "recover")
        ports = srv.call(op="start")["ports"]
        http = HttpClient(ports["http"])
        http.query(f"CREATE DATABASE {sv.DB};")
        for t in sv.SERVED_TABLES:
            http.query(
                f"CREATE TABLE {sv.DB}.{t} AS SELECT * FROM "
                f"parquet.`{data_dir}/{t}.parquet`;"
            )
        for sql in sv.INGEST_SETUP:
            http.query(sql + ";")
        phase("tables loaded")
        clients = {
            "http": http,
            "pgwire": PgClient(ports["jdbc"]),
            "native": NativeSql(ports["native"]),
            "native-zstd": NativeSql(ports["native"], "zstd"),
        }
        plan = iter(sv.Plan(args.seed, clients, model,
                            tables["orders"].num_rows,
                            tables["customer"].num_rows))
        # warm-up: one whole cycle, so every class has run once and the
        # hot aggregates are in the result cache
        warm: list = []
        sv.closed_loop(plan, warm, len(sv.CYCLE))
        out["warm"] = warm
        fresh.ready()
        phase("warm-up done")
        out["windows"] = {}
        for wname, secs in windows(args):
            if wname == "traced":
                srv.call(op="trace", on=True)
            ops: list = []
            win = box.Window()
            cpu_s0, cpu_g0 = box.tree_cpu_s(srv.pid), cpu_self()
            cycles = SERVED_MIN_CYCLES // len(windows(args))
            sv.closed_loop(plan, ops, cycles * len(sv.CYCLE),
                           time.perf_counter() + secs)
            # the window ends when the last statement started in it
            # answers; rates divide by that wall, not by ``secs``
            wbox = win.close()
            out["box"][wname] = dict(
                wbox,
                server_cpu_s=round(box.tree_cpu_s(srv.pid) - cpu_s0, 3),
                gen_cpu_s=round(cpu_self() - cpu_g0, 3),
            )
            out["windows"][wname] = (ops, wbox["seconds"])
            if wname == "traced":
                out["threads_fds"] = box.tree_threads_fds(srv.pid)
                out["report"] = srv.call(op="report")["report"]
        phase("windows done")
        all_ops = warm + [op for ops, _ in out["windows"].values() for op in ops]
        checks = sv.check_reads(con, all_ops)
        checks += sv.check_ingest(http, clients["pgwire"], model,
                                  random.Random(args.seed))
        phase("answers checked")
        tb = srv.call(op="table_bytes", table="ing.events")
        user = os.path.join(run_dir, "user_rows.parquet")
        pq.write_table(model.events_table(), user, compression="snappy")
        out["stored_ratio"] = tb["bytes"] / os.path.getsize(user)
        out["live_files"] = tb["live_files"]
        for c in clients.values():
            c.close()
        srv.call(op="stop")
        rec = fresh.call(op="recover", warehouse=os.path.join(run_dir, "wh"),
                         queries=sv.RECOVER_QUERIES)
        out["recover_s"] = rec["recover_s"]
        phase("recovered")
        checks += sv.check_recovered(rec["answers"], model)
        out["checks"] = checks
        out["rows_model"] = len(model.rows())
        out["n_checked"] = len(all_ops) + sv.N_INGEST_CHECKS
    finally:
        # both shut down at once
        procs = [p for p in (srv, fresh) if p is not None]
        for p in procs:
            p.quit()
        for p in procs:
            p.close()
        out["rss_peak_mb"] = rss.stop() if rss else 0.0
    return out


def olap(args, run_dir: str, data_dir: str, data) -> dict:
    from perfbench import box, olap as ol

    rss = box.RssSampler(os.getpid()).start()
    win = box.Window()
    cpu0 = cpu_self()
    try:
        res = ol.run(args, run_dir, data_dir, data, CPUS, phase,
                     OLAP_MIN_ROUNDS)
    finally:
        stop_pids(box.tree(os.getpid()))
        res_rss = rss.stop()
    phase("timed rounds done")
    res["rss_peak_mb"] = res_rss
    res["box"] = {"run": dict(win.close(), cpu_s=round(cpu_self() - cpu0, 3))}
    return res


# ---------------------------------------------------------------- reports
def report_olap(args, r: dict) -> tuple[dict, int, int]:
    from perfbench.olap import DRAINS

    med = {n: statistics.median(w) for n, w in r["walls"].items() if w}
    rows = {n: r["checked"][n][0] for n in r["names"]}
    bad = [n for n, (_rows, ok) in r["checked"].items() if not ok]
    runs = [(n, w) for n, ws in r["walls"].items() for w in ws]
    attempted = len(r["checked"]) + len(runs)
    wall = sum(w for _n, w in runs)
    metrics = {
        "setup_s": statistics.median(r["setups"]),
        "class_p50_ms": class_p50_ms(r["walls"]),
        "round_s": round_s(r["walls"], {}),
    }
    say(f"olap_batch: {r['rounds']} timed rounds after the correctness round "
        f"({', '.join(f'{w:.2f}' for w in r['round_walls'])} s)")
    line("setup_s", metrics["setup_s"], "s", len(r["setups"]),
         " (median load of every table from fresh files)")
    line("batch_query_s", sum(v for n, v in med.items() if n not in DRAINS),
         "s", sum(len(w) for n, w in r["walls"].items() if n not in DRAINS),
         " (sum of per-builder medians)")
    line("drain_s", sum(v for n, v in med.items() if n in DRAINS), "s",
         sum(len(w) for n, w in r["walls"].items() if n in DRAINS))
    line("class_p50_ms", metrics["class_p50_ms"], "ms", len(runs),
         f" ({len(med)} builders)")
    line("round_s", metrics["round_s"], "s", len(runs),
         " (batch_query_s + drain_s)")
    line("stmt_per_s", len(runs) / wall, "stmt/s", len(runs))
    line("rows_per_s", sum(rows[n] for n, _w in runs) / wall, "rows/s",
         len(runs))
    line("fail_ratio", len(bad) / attempted, "ratio", attempted)
    line("rss_peak_mb", r["rss_peak_mb"], "MB", None, " (this process + JVM)")
    for n in r["names"]:
        line(f"  {n}", med.get(n, float("nan")) * 1000.0, "ms",
             len(r["walls"][n]), f" rows={rows[n]}")
    for n in bad:
        say(f"MISMATCH {n}: output differs from its DuckDB oracle")
    return metrics, attempted, len(bad)


def report_served(args, r: dict) -> tuple[dict, int, int]:
    from perfbench.served import WRITE_CLASSES, cycle_weights

    ops, secs = r["windows"]["untraced"]
    ok = [o for o in ops if o.ok]
    by_kind: dict[str, list[float]] = {c: [] for c in cycle_weights()}
    by_kind.update(_by_class(ops))
    reads = [o for o in ok if o.kind not in WRITE_CLASSES]
    writes = [o for o in ok if o.kind in WRITE_CLASSES]
    every = r["warm"] + [o for ops_, _ in r["windows"].values() for o in ops_]
    failed = sum(not o.ok for o in every if not o.error.startswith("answer"))
    failed += len(r["checks"])
    attempted = r["n_checked"]
    read_rows = sum(o.n_rows for o in reads)
    metrics = {
        "setup_s": statistics.median(r["setups"]),
        "class_p50_ms": class_p50_ms(by_kind),
        "round_s": round_s(by_kind, cycle_weights()),
    }
    missing = [c for c, v in by_kind.items() if not v]
    say(f"served: {len(ops)} statements in {secs:.1f} s, one closed loop "
        "over 4 connections (http, pgwire, native, native+zstd)")
    line("setup_s", metrics["setup_s"], "s", len(r["setups"]),
         " (median composition-root start + first lookup)")
    line("class_p50_ms", metrics["class_p50_ms"], "ms", len(ok),
         f" ({len(by_kind) - len(missing)} classes"
         + (f"; none of {missing} in the window)" if missing else ")"))
    line("round_s", metrics["round_s"], "s", len(ok),
         " (one cycle at the class medians)")
    line("stmt_per_s", len(ok) / secs, "stmt/s", len(ok))
    rl = ms([o.end - o.start for o in reads])
    line("read_qps", len(reads) / secs, "stmt/s", len(reads))
    pct_line("read_p50_ms", rl, 50.0)
    pct_line("read_p95_ms", rl, 95.0)
    line("rows_out_per_s", read_rows / secs, "rows/s", len(reads))
    wl = ms([o.end - o.start for o in writes])
    pct_line("write_p50_ms", wl, 50.0)
    pct_line("write_p90_ms", wl, 90.0)
    line("write_rows_per_s", sum(o.n_rows for o in writes) / secs, "rows/s",
         len(writes))
    line("stored_bytes_per_user_byte", r["stored_ratio"], "ratio", 1,
         f" model_rows={r['rows_model']}")
    line("recover_s", r["recover_s"], "s", 1, " (fresh process)")
    line("fail_ratio", failed / attempted, "ratio", attempted)
    line("rss_peak_mb", r["rss_peak_mb"], "MB", None, " (server tree)")
    for k, v in by_kind.items():
        pct_line(f"  {k}_p50_ms", ms(v), 50.0)
    for o in every:
        if not o.ok:
            say(f"FAILED {o.client}: {o.error} :: {o.sql[:120]}")
    for c in r["checks"]:
        say(f"MISMATCH {c}")
    return metrics, attempted, failed


def layers_served(args, r: dict) -> dict:
    rep = r["report"]
    lay = rep["layers"]
    n = max(1, lay["roots"])
    out = {k: 0.0 for k in PER_LAYER}
    for span, metric in SPAN_METRIC.items():
        out[metric] = lay["self_s"].get(span, 0.0) * 1000.0 / n
    cnt = rep["counts"]
    for k in PER_LAYER:
        if k in cnt and not k.endswith("_ms"):
            out[k] = float(cnt[k])
    for k in ("analysis", "optimization", "planning"):
        out[f"spark.{k}_ms"] = cnt.get(f"spark.{k}_ms", 0.0) / n
    out["router.calls"] = float(lay["calls"].get("router", 0))
    out["engine.transfer_ms"] = rep["transfer_s"] * 1000.0 / n
    lk = out["engine.result_cache.lookups"]
    out["engine.result_cache.hit_ratio"] = (
        out["engine.result_cache.hits"] / lk if lk else 0.0
    )
    _spark_metrics(out, rep["spark"], n)
    commits = cnt.get("commit.count", 0)
    if commits:
        out["commit.ms"] = lay["self_s"].get("commit", 0.0) * 1000.0 / commits
        out["iceberg.emit_ms"] = (
            lay["self_s"].get("iceberg.emit", 0.0) * 1000.0 / commits
        )
    polls = cnt.get("astha.polls", 0)
    if polls:
        out["astha.poll_ms"] = lay["self_s"].get("astha.poll", 0.0) * 1000.0 / polls
    out["table.live_files"] = float(r.get("live_files", 0))
    b = r["box"]["traced"]
    out["server.cpu_s"] = b["server_cpu_s"]
    out["gen.cpu_s"] = b["gen_cpu_s"]
    out["server.threads"], out["server.fds"] = map(float, r["threads_fds"])
    _accounting(out, lay, n)
    out["trace.overhead_ms"] = _overhead(
        _by_class(r["windows"]["traced"][0]),
        _by_class(r["windows"]["untraced"][0]),
    )
    return out


def layers_olap(args, r: dict) -> dict:
    lay = r["layers"]
    n = max(1, lay["roots"])
    out = {k: 0.0 for k in PER_LAYER}
    for span, metric in SPAN_METRIC.items():
        out[metric] = lay["self_s"].get(span, 0.0) * 1000.0 / n
    cnt = r["counts"]
    for k in ("analysis", "optimization", "planning"):
        out[f"spark.{k}_ms"] = cnt.get(f"spark.{k}_ms", 0.0) / n
    _spark_metrics(out, r["spark"], n)
    out["drain.jobs"] = float(r["drain_jobs"])
    b = r["box"]["run"]
    out["server.cpu_s"] = b["cpu_s"]
    out["gen.cpu_s"] = b["cpu_s"]
    out["server.threads"], out["server.fds"] = map(float, r["threads_fds"])
    _accounting(out, lay, n)
    out["trace.overhead_ms"] = _overhead(r["traced_walls"], r["walls"])
    return out


def _accounting(out: dict, lay: dict, n: int) -> None:
    out["trace.stmts"] = float(lay["roots"])
    out["layer.accounted_ratio"] = lay["accounted_ratio"] or 0.0
    out["layer.unaccounted_ms"] = lay["unaccounted_s"] * 1000.0 / n


def _spark_metrics(out: dict, sp: dict, n: int) -> None:
    for k in ("jobs", "stages", "tasks", "shuffle_write_bytes", "input_bytes"):
        out[f"spark.{k}"] = float(sp.get(k, 0))
    for k in ("job_wall_ms", "executor_run_ms", "executor_cpu_ms"):
        out[f"spark.{k}"] = sp.get(k, 0.0) / n


def _by_class(ops) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for o in ops:
        if o.ok:
            out.setdefault(o.kind, []).append(o.end - o.start)
    return out


def _overhead(traced: dict, untraced: dict) -> float:
    """``class_p50_ms`` of the traced window minus that of the untraced
    one, over the classes both hold."""
    both = [c for c in traced if traced[c] and untraced.get(c)]
    if not both:
        return 0.0
    return (class_p50_ms({c: traced[c] for c in both})
            - class_p50_ms({c: untraced[c] for c in both}))


def print_layers(out: dict) -> None:
    say("per-layer metrics (traced window):")
    for k, unit in PER_LAYER.items():
        line(k, out[k], unit)
    ratio = out["layer.accounted_ratio"]
    say(f"layer accounting: {ratio:.1%} of statement time is inside a "
        f"measured layer ({'ok' if ratio >= 0.9 else 'BELOW 90%'}); "
        f"unaccounted {out['layer.unaccounted_ms']:.3f} ms/stmt")


# ------------------------------------------------------------------- main
def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "ranger_spark")):
        print("perfbench: run from a ranger_spark checkout (package not found)",
              file=sys.stderr)
        return 2
    from perfbench import box, datagen

    run_dir = os.path.join(
        ROOT, ".perfbench",
        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}",
    )
    os.makedirs(run_dir)
    watchdog = threading.Timer(WATCHDOG_S, _expire, args=(run_dir,))
    watchdog.daemon = True
    watchdog.start()
    t_start = time.perf_counter()
    try:
        data_dir = os.path.join(run_dir, "data")

        def make_data():
            tables = datagen.generate(args.seed, SF[args.workload])
            datagen.write(tables, data_dir)
            return tables

        # the tables are made while Spark boots
        pool = ThreadPoolExecutor(1)
        data = pool.submit(make_data)
        pool.shutdown(wait=False)
        if args.workload == "olap_batch":
            raw = olap(args, run_dir, data_dir, data)
            metrics, attempted, failed = report_olap(args, raw)
            layers = layers_olap(args, raw) if args.trace else None
        else:
            raw = served(args, run_dir, data_dir, data)
            metrics, attempted, failed = report_served(args, raw)
            layers = layers_served(args, raw) if args.trace else None
        say("box: " + json.dumps({
            "nproc": os.cpu_count(),
            "cpus_used": CPUS,
            "windows": raw["box"],
            "versions": box.versions(),
            "git_sha": box.git_sha(ROOT),
            "flush_policy": "no fsync; recovery is checked from disk with "
                            "the OS page cache intact",
            "timer": "time.perf_counter",
            "run_wall_s": round(time.perf_counter() - t_start, 2),
        }))
        if layers is not None:
            print_layers(layers)
            chosen = {k: {"value": layers[k], "unit": u}
                      for k, u in PER_LAYER.items()}
        else:
            chosen = {k: {"value": metrics[k], "unit": u}
                      for k, u in END_TO_END.items()}
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": chosen,
        }
        with open(os.path.join(run_dir, "result.json"), "w") as f:
            json.dump(result, f)
    finally:
        watchdog.cancel()
        for sub in os.listdir(run_dir):
            if sub in ("result.json", "spans.jsonl") or sub.endswith(".log"):
                continue
            p = os.path.join(run_dir, sub)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                os.remove(p)
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


def _expire(run_dir: str) -> None:
    """Hard stop: kill every process this run started and exit."""
    from perfbench import box

    print(f"perfbench: run exceeded {WATCHDOG_S:.0f} s; stopping",
          file=sys.stderr, flush=True)
    stop_pids(box.tree(os.getpid()))
    os._exit(3)


if __name__ == "__main__":
    sys.exit(main())
