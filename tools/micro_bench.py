"""Micro-benchmarks against the reference's own asserted thresholds
(BASELINE.md): parse/route latency, insert-validation overhead, schema
retrieval. Prints a table and exits non-zero if any reference threshold is
missed.

Reference thresholds (see BASELINE.md):
- SQL parse latency        < 1 ms/statement (avg over 1,000 iters)
- insert validation overhead vs no validation < 20 %
- schema retrieval         < 10 ms avg
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import types as st

from ranger_spark.engine import Engine, _cell_type_error
from ranger_spark.router import route
from ranger_spark.session import get_spark


def bench_route() -> float:
    sql = "SELECT * FROM users WHERE id = 123;"
    n = 1000
    t0 = time.perf_counter()
    for _ in range(n):
        route(sql)
    return (time.perf_counter() - t0) / n * 1000  # ms


def bench_validation_overhead(engine: Engine) -> float:
    """End-to-end 1,000-row INSERT with validation vs with validation
    bypassed — the reference's <20% threshold compares the full insert
    path (validation_performance_test.go:513-519), where the storage
    write dominates."""
    engine.execute("CREATE DATABASE IF NOT EXISTS mb;")
    engine.execute("DROP TABLE IF EXISTS mb.ins;")
    engine.execute("CREATE TABLE mb.ins (id int32 NOT NULL, name string, bal float64);")
    values = ", ".join(f"({i}, 'user{i}', {i}.5)" for i in range(1000))
    stmt = f"INSERT INTO mb.ins (id, name, bal) VALUES {values};"

    def run(n):
        t0 = time.perf_counter()
        for _ in range(n):
            engine.execute(stmt)
        return time.perf_counter() - t0

    run(1)  # warm
    with_val = run(3)
    orig = engine._validate_batch
    try:
        engine._validate_batch = lambda *a, **k: []
        without = run(3)
    finally:
        engine._validate_batch = orig
    return (with_val - without) / without * 100  # % overhead


def bench_schema_retrieval(engine: Engine) -> float:
    engine.execute("CREATE DATABASE IF NOT EXISTS mb;")
    engine.execute("DROP TABLE IF EXISTS mb.t;")
    engine.execute(
        "CREATE TABLE mb.t (id int64, name string, tags list<string>);"
    )
    n = 100
    t0 = time.perf_counter()
    for _ in range(n):
        engine._column_info("mb.t")
    cached = (time.perf_counter() - t0) / n * 1000
    return cached


def main() -> int:
    route_ms = bench_route()
    spark = get_spark("micro_bench", cpus=4)
    engine = Engine(spark)
    overhead_pct = bench_validation_overhead(engine)
    schema_ms = bench_schema_retrieval(engine)
    cell_us = None
    t0 = time.perf_counter()
    for _ in range(100_000):
        _cell_type_error(42, st.IntegerType())
    cell_us = (time.perf_counter() - t0) / 100_000 * 1e6

    rows = [
        ("route/parse latency", f"{route_ms:.4f} ms", "< 1 ms", route_ms < 1),
        (
            "insert validation overhead",
            f"{overhead_pct:.1f} %",
            "< 20 %",
            overhead_pct < 20,
        ),
        ("schema retrieval (registry)", f"{schema_ms:.4f} ms", "< 10 ms", schema_ms < 10),
        ("per-cell type check", f"{cell_us:.2f} µs", "(info)", True),
    ]
    ok = True
    for name, val, thresh, passed in rows:
        ok &= passed
        print(f"{'PASS' if passed else 'FAIL'}  {name:30s} {val:>12s}  (reference: {thresh})")
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
