"""Driver-side Arrow fast path (operators/fastpath.py): regime switch
guards and VALUES-relation literal fidelity.
The end-to-end value check is the oracle gate (date_extract /
agg_minmax_countd run through this path at bench SFs)."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ranger_spark.operators import fastpath


def test_values_relation_literals(spark):
    df = fastpath.values_relation(
        spark,
        [(1, 1.5, "it's", None), (2, float("nan"), "b", "x")],
        [
            "CAST(col1 AS INT) AS a",
            "CAST(col2 AS DOUBLE) AS b",
            "col3 AS c",
            "col4 AS d",
        ],
    )
    rows = {r["a"]: r for r in df.collect()}
    assert rows[1]["b"] == 1.5 and rows[1]["c"] == "it's"
    assert rows[1]["d"] is None
    assert rows[2]["b"] != rows[2]["b"]  # NaN
    # shortest-round-trip floats are value-exact
    df2 = fastpath.values_relation(
        spark, [(0.1 + 0.2,)], ["CAST(col1 AS DOUBLE) AS v"]
    )
    assert df2.collect()[0]["v"] == 0.1 + 0.2


def test_local_input_bytes_guards(tmp_path):
    f = tmp_path / "t.parquet"
    pq.write_table(pa.table({"x": [1, 2, 3]}), f)
    assert 0 < fastpath._local_input_bytes(str(f)) < 10_000
    assert fastpath._local_input_bytes(str(tmp_path)) > 0
    # non-local schemes never engage
    assert fastpath._local_input_bytes("s3://bucket/k.parquet") == 1 << 62
    assert fastpath._local_input_bytes(str(tmp_path / "missing")) == 1 << 62


def test_local_parquet_agg_and_threshold(spark, tmp_path):
    f = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"g": ["a", "a", "b"], "v": [1, 2, 10]}), f)

    def compute(tbl):
        pdf = tbl.to_pandas()
        g = pdf.groupby("g")["v"].sum()
        return [(k, int(s)) for k, s in sorted(g.items())]

    exprs = ["col1 AS g", "CAST(col2 AS BIGINT) AS s"]
    df = fastpath.local_parquet_agg(spark, f, ["g", "v"], compute, exprs)
    assert df is not None
    assert {(r["g"], r["s"]) for r in df.collect()} == {("a", 3), ("b", 10)}
    # over-threshold input → None (caller keeps the distributed plan)
    assert (
        fastpath.local_parquet_agg(
            spark, f, ["g", "v"], compute, exprs, max_bytes=1
        )
        is None
    )


def test_plan_size_bytes_estimates(spark):
    df = spark.range(10)
    assert fastpath.plan_size_bytes(df) > 0


def test_fastpath_result_matches_distributed(spark):
    """Same query, both regimes, identical rows (sf0.001 documents are
    tiny so the fast path engages; forcing max_bytes=0 yields the
    distributed plan)."""
    from ranger_spark.queries import load_all

    sf = "/root/testdata/sf0.001"
    reg = load_all()
    fast = reg["date_extract"].builder(spark, sf)
    old = fastpath.ARROW_LOCAL_MAX_BYTES
    fastpath.ARROW_LOCAL_MAX_BYTES = 0
    try:
        slow = reg["date_extract"].builder(spark, sf)
    finally:
        fastpath.ARROW_LOCAL_MAX_BYTES = old
    key = lambda r: (r["order_year"], r["order_month"])  # noqa: E731
    assert sorted(map(tuple, fast.collect()), key=lambda t: t[:2]) == sorted(
        map(tuple, slow.collect()), key=lambda t: t[:2]
    )


def test_pruned_footer_bytes_and_gate(spark, tmp_path):
    """gate="pruned" engages on the read-column slice of a wide table
    that the whole-file gate would reject (the date_extract@64× shape),
    and still refuses non-local paths."""
    f = str(tmp_path / "wide.parquet")
    pq.write_table(
        pa.table(
            {
                "g": ["a", "b"] * 500,
                "v": list(range(1000)),
                "pad": ["x" * 2000] * 1000,  # bulk lives in unread cols
            }
        ),
        f,
    )
    whole = fastpath._local_input_bytes(f)
    pruned = fastpath.pruned_footer_bytes(f, ["g", "v"])
    assert 0 < pruned < whole
    assert fastpath.pruned_footer_bytes("s3://b/k.parquet", ["g"]) == 1 << 62
    assert fastpath.pruned_footer_bytes(str(tmp_path / "nope"), ["g"]) == 1 << 62

    def compute(tbl):
        pdf = tbl.to_pandas()
        return [(k, int(s)) for k, s in sorted(pdf.groupby("g")["v"].sum().items())]

    exprs = ["col1 AS g", "CAST(col2 AS BIGINT) AS s"]
    # threshold between pruned and whole: file gate refuses, pruned gate engages
    mid = (pruned + whole) // 2
    assert (
        fastpath.local_parquet_agg(spark, f, ["g", "v"], compute, exprs, max_bytes=mid)
        is None
    )
    df = fastpath.local_parquet_agg(
        spark, f, ["g", "v"], compute, exprs, max_bytes=mid, gate="pruned"
    )
    assert df is not None and df.count() == 2


def test_local_parquet_agg_never_memoizes_results(spark):
    """The result-plan memo was retired (VERDICT r14 #1): every call
    must read the parquet and run ``compute`` again — a timed bench loop
    can never be served a cached result plan or a cached input."""
    from ranger_spark.operators import fastpath

    calls = []

    def compute(tbl):
        calls.append(1)
        return [(int(tbl.num_rows),)]

    args = (
        spark,
        "/root/testdata/sf0.001/region.parquet",
        ["r_regionkey"],
        compute,
        ["CAST(col1 AS BIGINT) AS n"],
    )
    a = fastpath.local_parquet_agg(*args)
    b = fastpath.local_parquet_agg(*args)
    assert a is not b and len(calls) == 2  # recomputed, not memoized
    assert a.collect()[0]["n"] == 5
