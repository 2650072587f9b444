"""``olap_batch``: nine of the ten headline registry builders plus the
``stream_windowed_daily`` drain, in-process with one caller and no
gateway. ``dedup_minhash_lsh`` is left out: cold, it alone sets the
length of the correctness round, and warm it takes two fifths of each
timed round, so keeping it would halve the rounds a run can time.

Every round starts from a fresh copy of the generated sf0.1 files, so
no cache keyed on file identity serves a repeat, and runs the ten
in a seed-shuffled order, each materialized through the ``noop`` sink.
The first round is the warm-up and the correctness round: it collects
each output, several builders at a time, and compares its row count and
value hash with the registry's DuckDB oracle. Timed rounds follow, one
caller: a round starts while ``--seconds`` have not passed, and at
least ``min_rounds`` run. The JIT still speeds the builders up over the
first timed rounds; a builder's median over three or more rounds moves
little with their number.
"""

from __future__ import annotations

import os
import random
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench.box import tree_threads_fds
from perfbench.stats import frame_hash
from perfbench.trace import Tracer, spark_job_metrics, spark_phases

DRAINS = ("stream_windowed_daily",)
LEFT_OUT = ("dedup_minhash_lsh",)


def headline() -> list[str]:
    from bench import HEADLINE

    return [n for n in HEADLINE if n not in LEFT_OUT]


def oracle_hashes(registry, names, data_dir: str, out: dict) -> None:
    """DuckDB oracle (row count, hash) per builder; fills ``out``."""
    import duckdb

    from ranger_spark.tables import TABLES

    con = duckdb.connect()
    # leave most cores to the Spark JVM booting and warming beside it
    con.execute("SET threads TO 1")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{data_dir}/{t}.parquet')"
        )
    for n in names:
        out[n] = frame_hash(con.execute(registry[n].oracle).fetchdf())
    con.close()


def load_all_tables(spark, sf_dir: str) -> float:
    """Set-up, timed: load every table from files Spark has not read yet
    (file listing and schema inference)."""
    from ranger_spark.tables import TABLES, load

    t0 = time.perf_counter()
    for t in TABLES:
        load(spark, sf_dir, t)
    return time.perf_counter() - t0


def fresh_copy(spark, data_dir: str, dst: str) -> float:
    """Set-up of one round: copy the files (untimed), then load them."""
    shutil.copytree(data_dir, dst)
    return load_all_tables(spark, dst)


class Olap:
    def __init__(self, spark, registry, names, rng: random.Random,
                 tracer: Tracer):
        self.spark = spark
        self.registry = registry
        self.names = names
        self.rng = rng
        self.t = tracer
        self.groups: list[str] = []
        self.phases: dict[str, float] = {}

    def run_one(self, name: str, sf_dir: str, gid: str) -> float:
        """One builder run materialized through the noop sink; returns
        its wall seconds. Spans: the build (which for a drain runs the
        stream) and the run, plus Catalyst planning when traced."""
        t = self.t
        drain = name in DRAINS
        self.spark.sparkContext.setJobGroup(gid, name, True)
        if t.enabled:
            self.groups.append(gid)
        t0 = time.perf_counter()
        with t.span("olap.builder", gid):
            with t.span("drain.build" if drain else "queries.build"):
                df = self.registry[name].builder(self.spark, sf_dir)
            if t.enabled:
                with t.span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
                for k, v in spark_phases(df).items():
                    t.add(f"spark.{k}_ms", v)
            with t.span("drain.run" if drain else "spark.run"):
                df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        self.spark.sparkContext.setJobGroup("", "")
        return wall

    def check_round(self, sf_dir: str, oracles: dict, oracle_ready,
                    workers: int) -> dict:
        """Warm-up round, untimed and ``workers`` builders at a time:
        collect each output and compare with its oracle. Returns
        name → (rows, ok)."""

        def one(n: str):
            pdf = self.registry[n].builder(self.spark, sf_dir).toPandas()
            return n, frame_hash(pdf)

        # the costliest (the drain, the dedup and text builders) sit at
        # the end of the list: starting them first ends the round sooner
        with ThreadPoolExecutor(workers) as ex:
            got = dict(ex.map(one, self.names[::-1]))
        oracle_ready.wait()
        return {n: (got[n][0], got[n] == oracles.get(n)) for n in self.names}


def run(args, run_dir: str, data_dir: str, data, cpus: int, say,
        min_rounds: int) -> dict:
    """Measure olap_batch; returns raw samples for run.py to report.
    ``data`` is the future of the generated tables: Spark boots while
    they are made."""
    from perfbench.server import session, stop_session
    from ranger_spark.queries import load_all

    registry = load_all()
    names = headline() + list(DRAINS)
    oracles: dict = {}
    ready = threading.Event()

    def _oracles():
        try:
            data.result()
            oracle_hashes(registry, names, data_dir, oracles)
        finally:
            ready.set()

    threading.Thread(target=_oracles, daemon=True).start()
    spark = session(run_dir, cpus, "perfbench-olap")
    say("Spark session up")
    tracer = Tracer()
    rng = random.Random(args.seed)
    o = Olap(spark, registry, names, rng, tracer)
    data.result()
    setups = [load_all_tables(spark, data_dir)]
    copy0 = os.path.join(run_dir, "copy0")
    setups.append(fresh_copy(spark, data_dir, copy0))
    checked = o.check_round(copy0, oracles, ready, cpus)
    say(f"correctness round done, {sum(ok for _, ok in checked.values())}"
        f"/{len(checked)} outputs match their oracle")
    shutil.rmtree(copy0, ignore_errors=True)
    walls: dict[str, list[float]] = {n: [] for n in names}
    traced_walls: dict[str, list[float]] = {n: [] for n in names}
    round_walls: list[float] = []

    def one_round(tag: str, traced: bool) -> None:
        t_round = time.perf_counter()
        copy = os.path.join(run_dir, f"copy-{tag}")
        setups.append(fresh_copy(spark, data_dir, copy))
        tracer.enabled = traced
        order = list(names)
        rng.shuffle(order)
        for n in order:
            w = o.run_one(n, copy, f"olap-{tag}-{n}")
            (traced_walls if traced else walls)[n].append(w)
        tracer.enabled = False
        shutil.rmtree(copy, ignore_errors=True)
        if not traced:
            round_walls.append(time.perf_counter() - t_round)

    t_end = time.perf_counter() + args.seconds
    rnd = 0
    while rnd < min_rounds or time.perf_counter() < t_end:
        rnd += 1
        # traced runs alternate untraced and traced rounds
        one_round(str(rnd), bool(args.trace) and rnd % 2 == 0)
    jm = spark_job_metrics(spark, o.groups) if args.trace else None
    layers = tracer.layer_report("olap.builder") if args.trace else None
    drain_groups = [g for g in o.groups if g.rsplit("-", 1)[-1] in DRAINS]
    drain_jobs = (
        spark_job_metrics(spark, drain_groups)["totals"].get("jobs", 0)
        if args.trace else 0
    )
    if args.trace:
        tracer.dump(os.path.join(run_dir, "spans.jsonl"))
    threads_fds = tree_threads_fds(os.getpid())  # while the JVM is up
    stop_session(spark)
    return {
        "names": names,
        "walls": walls,
        "setups": setups,
        "checked": checked,
        "rounds": rnd,
        "round_walls": round_walls,
        "traced_walls": traced_walls,
        "layers": layers,
        "counts": dict(tracer.counts),
        "spark": jm["totals"] if jm else {},
        "drain_jobs": drain_jobs,
        "threads_fds": threads_fds,
    }
