"""Self-tests of the benchmark's own arithmetic and generators. They
start no Spark session:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import os
import random

import pytest

from perfbench import datagen, served
from perfbench.stats import (
    beyond,
    canon,
    canon_rows,
    percentile,
    self_times,
    spread,
)
from perfbench.trace import Tracer, overlap_s

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ------------------------------------------------ percentiles and counts
def test_percentile_interpolates():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == pytest.approx(50.5)
    assert percentile(xs, 0) == 1 and percentile(xs, 100) == 100
    assert percentile([3.0], 95) == 3.0
    assert percentile([10, 20], 25) == pytest.approx(12.5)


def test_samples_beyond_and_supported_tail():
    assert beyond(100, 95) == 5
    assert beyond(200, 95) == 10
    assert beyond(1000, 99) == 10
    assert beyond(199, 95) == 9  # too few beyond p95 to report it as a tail
    assert beyond(20, 90) == 2


def test_spread_is_iqr_over_median():
    vals = [10.0] * 5 + [11.0] * 5
    q1, q2, q3 = 10.0, 10.5, 11.0
    assert spread(vals) == pytest.approx((q3 - q1) / q2)


def test_guarded_summaries_use_class_medians():
    from perfbench.run import class_p50_ms, round_s

    groups = {"a": [0.1, 0.3, 0.2, 9.0, 0.2], "b": [1.0], "c": []}
    # medians 0.2 s and 1.0 s; an empty class is skipped
    assert class_p50_ms(groups) == pytest.approx((200.0 * 1000.0) ** 0.5)
    assert round_s(groups, {"a": 3}) == pytest.approx(3 * 0.2 + 1.0)


# ------------------------------------------------------------- self time
def test_self_time_subtracts_direct_children_only():
    spans = [
        (0.0, 10.0, None),  # root
        (1.0, 4.0, 0),  # child
        (2.0, 3.0, 1),  # grandchild: not subtracted from the root
        (5.0, 9.0, 0),  # child
    ]
    assert self_times(spans) == pytest.approx([3.0, 2.0, 1.0, 4.0])


def test_self_time_merges_overlapping_children_and_clips():
    spans = [(0.0, 10.0, None), (1.0, 5.0, 0), (3.0, 7.0, 0), (9.0, 12.0, 0)]
    # children cover [1,7] and [9,10] of the root: 6 + 1
    assert self_times(spans)[0] == pytest.approx(3.0)


def test_overlap_of_job_intervals():
    assert overlap_s((0.0, 10.0), [(1.0, 3.0), (2.0, 4.0), (8.0, 12.0)]) == (
        pytest.approx(5.0)
    )


def test_tracer_accounting():
    t = Tracer()
    t.enabled = True
    root = t.begin("stmt.http")
    child = t.begin("engine.execute")
    t.end(child)
    t.end(root)
    t.spans[root][1:3] = [0.0, 1.0]
    t.spans[child][1:3] = [0.05, 0.95]
    rep = t.layer_report("stmt.")
    assert rep["roots"] == 1
    assert rep["accounted_ratio"] == pytest.approx(0.9)
    assert rep["unaccounted_s"] == pytest.approx(0.1)
    assert rep["self_s"]["engine.execute"] == pytest.approx(0.9)


def test_tracer_off_records_nothing():
    t = Tracer()

    class Box:
        def f(self, x):
            return x + 1

    t.wrap(Box, "f", "box.f")
    assert Box().f(1) == 2 and t.spans == []
    t.enabled = True
    assert Box().f(1) == 2 and [s[0] for s in t.spans] == ["box.f"]


# ------------------------------------------------------ seed determinism
def test_datagen_is_seed_determined():
    a = datagen.generate(5, sf=0.001)
    b = datagen.generate(5, sf=0.001)
    c = datagen.generate(6, sf=0.001)
    assert set(a) == set(datagen.generate(5, sf=0.001))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["orders"].num_rows == 1500


def _take(gen, n):
    return list(itertools.islice(gen, n))


def _stream(seed, n):
    """(connection, class, sql) of the loop's first ``n`` statements;
    nothing is sent."""
    import duckdb

    model = served.IngestModel(duckdb.connect())
    plan = served.Plan(seed, {}, model, 30_000, 3_000)
    return [(conn, cls, sql) for conn, _c, cls, sql, _act in _take(plan, n)]


def test_statement_streams_are_seed_determined():
    a = _stream(3, 200)
    assert a == _stream(3, 200)
    assert a != _stream(4, 200)
    m1 = _take(served.dml_statements(random.Random(9)), 30)
    m2 = _take(served.dml_statements(random.Random(9)), 30)
    assert m1 == m2
    assert served.event_batch(random.Random(4), 7, 50) == served.event_batch(
        random.Random(4), 7, 50
    )


def test_cycle_classes_and_cache_fit():
    n = len(served.CYCLE)
    stmts = _stream(1, 10 * n)
    by = {}
    for _conn, cls, sql in stmts:
        by.setdefault(cls, []).append(sql)
    weights = served.cycle_weights()
    assert set(by) == set(weights)
    assert all(len(v) == 10 * weights[c] for c, v in by.items())
    # every connection runs a scan of its own class
    assert {c for c in by if c.startswith("scan.")} == {
        "scan.http", "scan.pgwire", "scan.native", "scan.native-zstd"}
    assert all("l_orderkey >= " in s for c in by if c.startswith("scan.")
               for s in by[c])
    assert all(" = " in s and "GROUP BY" not in s
               for c in ("point_orders", "point_customer") for s in by[c])
    # three hot aggregates, each once a cycle; cold ones never repeat
    assert len(set(by["agg_hot"])) == 3
    assert all(s == by["agg_hot"][i % 3] for i, s in enumerate(by["agg_hot"]))
    for shape in ("q1", "q3", "q5"):
        assert len(set(by[shape])) == len(by[shape])
        assert not set(by[shape]) & set(by["agg_hot"])
    # between two uses of a hot statement, fewer distinct cacheable
    # reads than the 32-entry result cache holds
    reads = {"point_orders", "point_customer", "q1", "q3", "q5",
             "time_travel", "changes", "events_join"}
    per_cycle = sum(w for c, w in weights.items()
                    if c in reads or c.startswith("scan."))
    assert per_cycle + 2 < 32


# ------------------------------------------- cross-protocol normalization
ROW = (
    7,
    84197.04,
    0.1 + 0.2,
    "Customer#000000007",
    dt.datetime(1996, 9, 13, 0, 0),
    12345678901234567,
)


def _via_http(row):
    from ranger_spark.sources.http_server import _json_default

    body = json.dumps({"data": [list(row)]}, default=_json_default)
    return json.loads(body)["data"][0]


def _via_pgwire(row):
    from perfbench.clients import parse_data_row
    from ranger_spark.sources.pgwire_server import _data_row

    msg = _data_row(row)
    return parse_data_row(msg[5:])


def _via_native(row):
    from ranger_spark.sources.native_server import (
        pack_server_data,
        unpack_server_data,
    )

    cols = [(f"c{i}", "String") for i in range(len(row))]
    return unpack_server_data(pack_server_data(cols, [row]))["rows"][0]


def test_protocol_encodings_normalize_to_one_text():
    want = tuple(canon(v) for v in ROW)
    for enc in (_via_http, _via_pgwire, _via_native):
        assert tuple(canon(v) for v in enc(ROW)) == want, enc.__name__


def test_duckdb_values_normalize_like_spark_rows():
    import duckdb

    con = duckdb.connect()
    got = con.execute(
        "SELECT 7::BIGINT, 84197.04::DOUBLE, 0.1::DOUBLE + 0.2::DOUBLE, "
        "'Customer#000000007', TIMESTAMP '1996-09-13 00:00:00', "
        "sum(x) FROM (SELECT 12345678901234567::BIGINT AS x)"
    ).fetchall()
    assert canon_rows(got) == canon_rows([ROW])


# ------------------------------------------------------- BENCHMARK.json
def test_benchmark_json_matches_the_reported_metrics():
    from perfbench.run import END_TO_END, PER_LAYER, WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert max(m["bound"] for m in bench["end_to_end"]) == next(
        m["bound"] for m in bench["end_to_end"] if m["name"] == "setup_s"
    )
