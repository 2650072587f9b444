"""The ``served`` workload: one closed loop through the gateway over four
connections, one per protocol (HTTP, pgwire, native, native with zstd),
used in turn with one statement in flight.

The loop walks a fixed cycle of ``CYCLE`` slots; each slot names the
connection and the statement class. Every class is one statement shape
of one cost, so the median of each class is steady even over a short
window; ``run.py`` reports per-class medians.

Reads on tables loaded with CTAS, their answers checked against DuckDB
on the same Parquet:

- ``point_orders``, ``point_customer``: a point lookup;
- ``agg_hot``: a q1-, q3- or q5-shaped aggregate with the run's hot
  parameter of that shape. Three statements, each sent once a cycle,
  so they stay in the engine's 32-entry result cache: these are hits;
- ``q1``, ``q3``, ``q5``: the same shapes with a parameter never sent
  before in the run, so never in the cache;
- ``scan.<connection>``: a ``lineitem`` range scan of about 8k rows,
  one per connection (the wire encoding differs per protocol).

Ingest and maintenance on a separate events table, so they never
invalidate the read tables' cached results:

- ``write_http``: ``INSERT ... VALUES`` batches of 200 rows;
- ``write_native``: ``ClientData`` blocks of 1000 rows, each confirmed
  by ping;
- ``dml`` (pgwire): copy-on-write UPDATE, DELETE or INSERT on a
  dimension table; ``refresh`` (pgwire): ``REFRESH MATERIALIZED VIEW``
  on an aggregate of the events table;
- native with zstd: ``time_travel`` (``VERSION AS OF n``), ``changes``
  (``CHANGES SINCE VERSION n``), ``events_join`` (events joined with the
  dimension table) and ``snapshots`` (``SHOW SNAPSHOTS``).

A DuckDB model of the acknowledged writes checks the end state, after
one ``OPTIMIZE`` of the events table. OPTIMIZE runs there and not in
the loop: one of them costs as much as many statements, so whether one
landed in a window would set the window's figures.

The seed draws every parameter: the hot and cold aggregate parameters,
lookup keys, scan starts and the ingested rows.
"""

from __future__ import annotations

import datetime as dt
import itertools
import random
import threading
import time
from dataclasses import dataclass, field

from perfbench.clients import StatementError
from perfbench.stats import canon_rows

DB = "bench"
AGG_VALUES = 200  # parameters per aggregate shape
SCAN_WIDTH = 2000  # order keys per scan: about 8k lineitem rows
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_CENTS = "CAST(round(l_extendedprice * 100) AS BIGINT)"
_DISC = "(100 - CAST(round(l_discount * 100) AS BIGINT))"
SERVED_TABLES = ("lineitem", "orders", "customer", "supplier", "nation", "region")

# (connection, class) of every slot of one cycle; a scan's class is
# ``scan.<connection>``
CYCLE = (
    ("http", "point_orders"), ("pgwire", "agg_hot"),
    ("native", "scan"), ("native-zstd", "time_travel"),
    ("pgwire", "point_customer"), ("native", "q1"),
    ("http", "write_http"), ("native-zstd", "scan"),
    ("native", "point_orders"), ("http", "agg_hot"),
    ("pgwire", "scan"), ("native-zstd", "changes"),
    ("native-zstd", "point_customer"), ("pgwire", "q3"),
    ("native", "write_native"), ("http", "scan"),
    ("http", "q5"), ("pgwire", "dml"),
    ("native", "agg_hot"), ("native-zstd", "events_join"),
    ("pgwire", "refresh"), ("native-zstd", "snapshots"),
)
WRITE_CLASSES = ("write_http", "write_native", "dml", "refresh")


def slot_class(conn: str, kind: str) -> str:
    return f"scan.{conn}" if kind == "scan" else kind


def cycle_weights() -> dict[str, int]:
    """Class → slots of that class in one cycle."""
    out: dict[str, int] = {}
    for conn, kind in CYCLE:
        c = slot_class(conn, kind)
        out[c] = out.get(c, 0) + 1
    return out


@dataclass
class Op:
    """One statement as the loop saw it."""

    client: str
    kind: str  # the statement class
    sql: str
    start: float
    end: float
    ok: bool
    rows: list = field(default_factory=list)  # kept only for checked reads
    n_rows: int = 0
    error: str = ""
    check: bool = False  # compare with DuckDB after the run


# ------------------------------------------------------------------ reads
def _day(base: str, days: int) -> str:
    d = dt.date.fromisoformat(base) + dt.timedelta(days=days)
    return f"{d.isoformat()} 00:00:00"


def q1_sql(k: int) -> str:
    return (
        "SELECT l_returnflag, l_linestatus, "
        "CAST(sum(l_quantity) AS BIGINT) AS sum_qty, "
        f"sum({_CENTS}) AS sum_base_cents, count(*) AS count_order "
        f"FROM {DB}.lineitem WHERE l_shipdate <= TIMESTAMP "
        f"'{_day('2001-06-01', -7 * k)}' "
        "GROUP BY l_returnflag, l_linestatus "
        "ORDER BY l_returnflag, l_linestatus"
    )


def q3_sql(k: int) -> str:
    seg = SEGMENTS[k % 5]
    d = _day("1996-01-01", 30 * (k // 5))
    return (
        f"SELECT l_orderkey, sum({_CENTS} * {_DISC}) AS revenue, o_orderdate "
        f"FROM {DB}.customer c JOIN {DB}.orders o ON c.c_custkey = o.o_custkey "
        f"JOIN {DB}.lineitem l ON l.l_orderkey = o.o_orderkey "
        f"WHERE c.c_mktsegment = '{seg}' AND o.o_orderdate < TIMESTAMP '{d}' "
        f"AND l.l_shipdate > TIMESTAMP '{d}' "
        "GROUP BY l_orderkey, o_orderdate "
        "ORDER BY revenue DESC, l_orderkey LIMIT 10"
    )


def q5_sql(k: int) -> str:
    region = REGIONS[k % 5]
    d0 = _day("1995-01-01", 45 * (k // 5))
    d1 = _day("1995-01-01", 45 * (k // 5) + 365)
    return (
        f"SELECT n_name, sum({_CENTS} * {_DISC}) AS revenue "
        f"FROM {DB}.customer, {DB}.orders, {DB}.lineitem, {DB}.supplier, "
        f"{DB}.nation, {DB}.region "
        "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey "
        "AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
        "AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey "
        f"AND r_name = '{region}' AND o_orderdate >= TIMESTAMP '{d0}' "
        f"AND o_orderdate < TIMESTAMP '{d1}' "
        "GROUP BY n_name ORDER BY revenue DESC, n_name"
    )


SHAPES = {"q1": q1_sql, "q3": q3_sql, "q5": q5_sql}


class Reads:
    """Seed-determined read statements on the CTAS tables."""

    def __init__(self, rng: random.Random, n_orders: int, n_cust: int):
        self.rng = rng
        self.n_orders = n_orders
        self.n_cust = n_cust
        self.hot = {s: rng.randrange(AGG_VALUES) for s in SHAPES}
        # cold parameters: each shape's values but its hot one, in a
        # seeded order, never repeated within a run
        self.cold = {}
        for s, h in self.hot.items():
            ks = [k for k in range(AGG_VALUES) if k != h]
            rng.shuffle(ks)
            self.cold[s] = itertools.cycle(ks)
        self.hot_turn = itertools.cycle(SHAPES)

    def make(self, kind: str) -> str:
        rng = self.rng
        if kind == "point_orders":
            return (f"SELECT * FROM {DB}.orders WHERE o_orderkey = "
                    f"{rng.randrange(self.n_orders)}")
        if kind == "point_customer":
            return (f"SELECT * FROM {DB}.customer WHERE c_custkey = "
                    f"{rng.randrange(self.n_cust)}")
        if kind == "agg_hot":
            s = next(self.hot_turn)
            return SHAPES[s](self.hot[s])
        if kind in SHAPES:
            return SHAPES[kind](next(self.cold[kind]))
        lo = rng.randrange(self.n_orders - SCAN_WIDTH)
        return (
            "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, "
            f"l_shipdate FROM {DB}.lineitem "
            f"WHERE l_orderkey >= {lo} AND l_orderkey < {lo + SCAN_WIDTH}"
        )


READ_KINDS = ("point_orders", "point_customer", "agg_hot", *SHAPES, "scan")


# ----------------------------------------------------------------- ingest
EVENT_COLS = ["batch_id", "event_id", "user_id", "kind", "value_cents"]
KINDS = ["click", "view", "cart", "buy", "error"]
DIM_USERS = 200
MV_SQL = (
    "SELECT kind, COUNT(*) AS n, SUM(value_cents) AS total "
    "FROM ing.events GROUP BY kind"
)
INGEST_SETUP = [
    "CREATE DATABASE ing",
    "CREATE TABLE ing.events (batch_id int64, event_id int64, "
    "user_id int64, kind string, value_cents int64)",
    "CREATE TABLE ing.dim (user_id int64, tier int64, name string)",
    "INSERT INTO ing.dim (user_id, tier, name) VALUES "
    + ", ".join(f"({u}, {u % 3}, 'u{u}')" for u in range(DIM_USERS)),
    f"CREATE MATERIALIZED VIEW ing.ev_agg AS {MV_SQL}",
]


def event_batch(rng: random.Random, batch_id: int, n: int) -> list[tuple]:
    return [
        (
            batch_id,
            batch_id * 100_000 + i,
            rng.randrange(DIM_USERS),
            KINDS[rng.randrange(5)],
            rng.randrange(1, 100_000),
        )
        for i in range(n)
    ]


class IngestModel:
    """Acknowledged writes: event batches in memory, the dimension
    table in DuckDB with every acknowledged DML applied in order."""

    def __init__(self, con):
        self.con = con
        self.batches: dict[int, list[tuple]] = {}
        self.ids = itertools.count()
        self._lock = threading.Lock()
        con.execute("CREATE SCHEMA ing")
        con.execute(
            "CREATE TABLE ing.dim (user_id BIGINT, tier BIGINT, name VARCHAR)"
        )
        con.execute(
            "INSERT INTO ing.dim SELECT u, u % 3, 'u' || u FROM range(?) t(u)",
            [DIM_USERS],
        )

    def next_id(self) -> int:
        with self._lock:
            return next(self.ids)

    def ack_batch(self, batch_id: int, rows: list[tuple]) -> None:
        with self._lock:
            self.batches[batch_id] = rows

    def rows(self) -> list[tuple]:
        return [r for b in self.batches.values() for r in b]

    def events_table(self):
        import pyarrow as pa

        cols = list(zip(*self.rows())) or [[]] * 5
        return pa.table(
            {
                "batch_id": pa.array(cols[0], pa.int64()),
                "event_id": pa.array(cols[1], pa.int64()),
                "user_id": pa.array(cols[2], pa.int64()),
                "kind": pa.array(cols[3], pa.string()),
                "value_cents": pa.array(cols[4], pa.int64()),
            }
        )

    def mv_rows(self) -> list[tuple]:
        """The MV's rows recomputed from scratch over the model."""
        self.con.register("model_events", self.events_table())
        try:
            return self.con.execute(
                "SELECT kind, count(*), sum(value_cents) FROM model_events "
                "GROUP BY kind"
            ).fetchall()
        finally:
            self.con.unregister("model_events")


def dml_statements(rng: random.Random):
    """Copy-on-write DML on the dimension table, applied to the model
    once acknowledged."""
    while True:
        yield (f"UPDATE ing.dim SET tier = tier + 1 WHERE user_id % 7 = "
               f"{rng.randrange(7)}")
        u = rng.randrange(DIM_USERS)
        yield f"DELETE FROM ing.dim WHERE user_id = {u}"
        yield (f"INSERT INTO ing.dim (user_id, tier, name) VALUES "
               f"({u}, 0, 'u{u}')")


class Plan:
    """The endless, seed-determined statement stream of the loop: one
    ``(connection, client, class, sql, act)`` per slot of ``CYCLE`` in
    turn.
    ``act`` is None for a read checked against DuckDB, else a callable
    that runs the statement and returns its row count."""

    def __init__(self, seed: int, clients: dict, model: IngestModel,
                 n_orders: int, n_cust: int):
        rng = random.Random(seed)
        self.clients = clients
        self.model = model
        self.reads = Reads(random.Random(rng.random()), n_orders, n_cust)
        self.rows_rng = random.Random(rng.random())
        self.pick_rng = random.Random(rng.random())
        self.dml = dml_statements(random.Random(rng.random()))
        self.versions = [1]  # refreshed by every ``snapshots`` statement

    def __iter__(self):
        for i in itertools.count():
            conn, kind = CYCLE[i % len(CYCLE)]
            sql, act = self.make(conn, kind)
            yield conn, self.clients.get(conn), slot_class(conn, kind), sql, act

    def make(self, conn: str, kind: str):
        c = self.clients.get(conn)
        if kind in READ_KINDS:
            return self.reads.make(kind), None
        if kind in ("write_http", "write_native"):
            n = 200 if kind == "write_http" else 1000
            b = self.model.next_id()
            rows = event_batch(self.rows_rng, b, n)
            send = _http_insert if kind == "write_http" else _native_insert

            def write() -> int:
                send(c, rows)
                self.model.ack_batch(b, rows)
                return n

            return f"INSERT INTO ing.events ({n} rows)", write
        if kind == "dml":
            sql = next(self.dml)

            def dml() -> int:
                c.query(sql + ";")
                self.model.con.execute(sql)
                return 0

            return sql, dml
        sql = self._ingest_read(kind)

        def read() -> int:
            _cols, rows = c.query(sql + ";")
            if kind == "snapshots" and rows:
                self.versions[:] = [int(r[0]) for r in rows]
            return len(rows)

        return sql, read

    def _ingest_read(self, kind: str) -> str:
        v = self.versions[self.pick_rng.randrange(len(self.versions))]
        return {
            "refresh": "REFRESH MATERIALIZED VIEW ing.ev_agg",
            "time_travel": f"SELECT count(*) AS n FROM ing.events VERSION AS OF {v}",
            "changes": ("SELECT count(*) AS n FROM ing.events "
                        f"CHANGES SINCE VERSION {v}"),
            "events_join": ("SELECT d.tier, count(*) AS n FROM ing.events e "
                            "JOIN ing.dim d ON e.user_id = d.user_id "
                            "GROUP BY d.tier ORDER BY d.tier"),
            "snapshots": "SHOW SNAPSHOTS FROM ing.events",
        }[kind]


def _http_insert(client, rows: list[tuple]) -> None:
    batch = client.c.prepare_batch("ing.events", EVENT_COLS)
    for r in rows:
        batch.append(*r)
    try:
        batch.send()
    except Exception as e:  # the SDK raises its own error type
        raise StatementError(f"http insert: {e}") from None


def _native_insert(client, rows: list[tuple]) -> None:
    client.insert("ing.events", EVENT_COLS, rows)


def closed_loop(stream, ops: list, count: int,
                deadline: float | None = None) -> None:
    """Send the next statement only when the previous one answered:
    ``count`` statements, and then more until ``deadline`` passes."""
    for i in itertools.count():
        if i >= count and (
            deadline is None or time.perf_counter() >= deadline
        ):
            return
        name, client, kind, sql, act = next(stream)
        t0 = time.perf_counter()
        try:
            if act is None:
                _cols, rows = client.query(sql + ";")
                ops.append(Op(name, kind, sql, t0, time.perf_counter(), True,
                              rows, len(rows), check=True))
            else:
                n = act()
                ops.append(Op(name, kind, sql, t0, time.perf_counter(), True,
                              n_rows=n))
        except (StatementError, OSError) as e:
            ops.append(Op(name, kind, sql, t0, time.perf_counter(), False,
                          error=str(e)[:300]))


def load_duck(con, data_dir: str) -> None:
    con.execute(f"CREATE SCHEMA IF NOT EXISTS {DB}")
    for t in SERVED_TABLES:
        con.execute(
            f"CREATE TABLE {DB}.{t} AS SELECT * FROM "
            f"read_parquet('{data_dir}/{t}.parquet')"
        )


def check_reads(con, ops: list[Op]) -> list[str]:
    """Compare every answered read on the CTAS tables with DuckDB's
    answer to the same statement, computed once per distinct one."""
    expected: dict[str, list] = {}
    bad = []
    for op in ops:
        if not (op.ok and op.check):
            continue
        if op.sql not in expected:
            expected[op.sql] = canon_rows(con.execute(op.sql).fetchall())
        if canon_rows(op.rows) != expected[op.sql]:
            op.ok = False
            op.error = "answer differs from DuckDB"
            bad.append(op.sql)
        op.rows = []
    return bad


# ----------------------------------------------------------------- checks
def check_ingest(http, pg, model: IngestModel, rng: random.Random) -> list[str]:
    """End-state checks against the model; returns the failures."""
    bad = []
    pg.query("OPTIMIZE ing.events;")
    pg.query("REFRESH MATERIALIZED VIEW ing.ev_agg;")
    _c, got = http.query("SELECT * FROM ing.events;")
    if canon_rows(got) != canon_rows(model.rows()):
        bad.append(f"ing.events: {len(got)} rows vs model {len(model.rows())}")
    _c, got = http.query("SELECT * FROM ing.dim;")
    want = model.con.execute("SELECT * FROM ing.dim").fetchall()
    if canon_rows(got) != canon_rows(want):
        bad.append("ing.dim differs from the model")
    _c, got = http.query("SELECT * FROM ing.ev_agg;")
    if canon_rows(got) != canon_rows(model.mv_rows()):
        bad.append("ing.ev_agg differs from a full recompute")
    # VERSION AS OF n: every sampled version holds whole acknowledged
    # batches, each holds the batches of the one before, and the newest
    # holds them all
    _c, snaps = http.query("SHOW SNAPSHOTS FROM ing.events;")
    versions = sorted(int(r[0]) for r in snaps)
    sample = sorted(set(rng.sample(versions, min(3, len(versions)))
                        + [versions[-1]]))
    prev: set = set()
    for v in sample:
        _c, got = http.query(
            "SELECT batch_id, count(*) AS n FROM ing.events "
            f"VERSION AS OF {v} GROUP BY batch_id;"
        )
        seen = {int(b): int(n) for b, n in got}
        if any(len(model.batches.get(b, ())) != n for b, n in seen.items()):
            bad.append(f"version {v} holds a partial or unacknowledged batch")
        if not prev <= set(seen):
            bad.append(f"version {v} lost batches of an earlier version")
        prev = set(seen)
    if prev != set(model.batches):
        bad.append("newest version does not hold every acknowledged batch")
    return bad


# events, dim, MV, the three version properties, the recovered answers
N_INGEST_CHECKS = 7

RECOVER_QUERIES = [
    "SELECT count(*) AS n, sum(value_cents) AS s FROM ing.events;",
    "SELECT * FROM ing.dim;",
    "SELECT * FROM ing.ev_agg;",
]


def check_recovered(answers, model: IngestModel) -> list[str]:
    rows = model.rows()
    want = [
        [(len(rows), sum(r[4] for r in rows) if rows else None)],
        model.con.execute("SELECT * FROM ing.dim").fetchall(),
        model.mv_rows(),
    ]
    return [
        f"recovered answer differs: {q}"
        for q, got, exp in zip(RECOVER_QUERIES, answers, want)
        if canon_rows(got) != canon_rows(exp)
    ]
