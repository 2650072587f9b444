"""Driver-side Arrow fast path for tiny scan→aggregate queries.

Spark's per-job constant (~0.1-0.2 s scheduling + task launch on this
box) dominates queries whose *data* a single core chews through in
milliseconds — a scan+agg over a few MB runs 5-15× slower than a
single-node engine purely on fixed overhead (r6 verdict: date_extract
13.1×, agg_minmax_countd 6.4× vs DuckDB, both pure scan+agg). The fix
mirrors the ANN kernel's auto-selection (operators/similarity.py): when
the local parquet input is small, read its pruned columns on the driver
with pyarrow (no Spark job), aggregate there, and re-emit the handful
of result rows as a SQL VALUES LocalRelation (~10 ms, no job at
collect).

At scale the guard disengages: the gate is file bytes (or the footer's
bytes of the read columns), so a 100 TB table blows past the threshold
and the query keeps its distributed hash-aggregate plan — the fast path
is a small-input regime switch, never a semantics change. Callers MUST
apply any result rounding in Spark SQL on the emitted relation (not in
pandas) so both regimes round with the identical function.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ranger_spark import sqltext

# Pruned-input bytes above which the distributed plan is kept. The
# bound is set by DRIVER COMPUTE, not pull cost: measured on the 16×
# bench replica, a 173 MB six-column aggregate ran 3.5× slower on the
# driver than the 32-way hash aggregate (r7 bench), while a 43 MB
# two-column one still won — 128 MB keeps every win and sheds the
# regression. A real cluster-scale input never fits regardless.
ARROW_LOCAL_MAX_BYTES = 128 << 20


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's sizeInBytes estimate — driver-side metadata only
    (file sizes × column pruning), no job launch."""
    try:
        return int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())  # noqa: SLF001
        )
    except Exception:  # non-JVM plan / API drift → force distributed
        return 1 << 62


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return repr(v)  # shortest round-trip form — value-exact
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str):
        return sqltext.quote(v)
    raise TypeError(f"unsupported VALUES literal type {type(v).__name__}")


def values_relation(
    spark: SparkSession, rows: list[tuple], select_exprs: list[str]
) -> DataFrame:
    """Emit driver-side rows as ``SELECT <exprs> FROM VALUES ...`` — a
    LocalRelation Catalyst folds at plan time (collect launches NO job,
    unlike ``createDataFrame`` whose LogicalRDD costs a ~0.35 s job per
    action). ``select_exprs`` reference columns ``col1..colN`` and carry
    the casts/rounding so both regimes shape results identically."""
    vals = ", ".join(
        "(" + ", ".join(_sql_literal(v) for v in r) + ")" for r in rows
    )
    return spark.sql(f"SELECT {', '.join(select_exprs)} FROM VALUES {vals}")


def _local_input_bytes(path: str) -> int:
    """On-disk bytes of a local parquet file or directory; a huge
    sentinel for non-local paths (s3://, hdfs://) so the fast path
    never engages off-box."""
    import os

    if "://" in path and not path.startswith("file://"):
        return 1 << 62
    p = path.removeprefix("file://")
    if os.path.isfile(p):
        return os.path.getsize(p)
    if os.path.isdir(p):
        total = 0
        for root, _, files in os.walk(p):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
        return total
    return 1 << 62


def pruned_footer_bytes(path: str, columns: list[str]) -> int:
    """UNCOMPRESSED bytes of just ``columns`` summed from the parquet
    footers (metadata only, ~6 ms for 32 files at 64×) — the same
    estimate Catalyst's column-pruned sizeInBytes approximates, but
    exact. Non-local paths return a huge sentinel like
    :func:`_local_input_bytes`."""
    import glob
    import os

    import pyarrow.parquet as pq

    if "://" in path and not path.startswith("file://"):
        return 1 << 62
    p = path.removeprefix("file://")
    files = (
        sorted(glob.glob(os.path.join(p, "*.parquet")))
        if os.path.isdir(p)
        else [p]
    )
    if not files:
        return 1 << 62
    want = set(columns)
    total = 0
    try:
        for f in files:
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    c = g.column(ci)
                    if c.path_in_schema.split(".")[0] in want:
                        total += c.total_uncompressed_size
    except Exception:
        return 1 << 62
    return total


def local_parquet_agg(
    spark: SparkSession,
    path: str,
    columns: list[str],
    compute: Callable[["object"], list[tuple]],
    select_exprs: list[str],
    max_bytes: int | None = None,
    gate: str = "file",
) -> DataFrame | None:
    """Zero-job fast path for single-table scans: read the pruned
    columns straight off the local parquet file with pyarrow (~10 ms
    for a few MB — no Spark job at all, which is the whole cost of a
    tiny scan+agg), aggregate on the driver, emit a VALUES relation.
    By default the WHOLE-FILE size gates engagement;
    ``gate="pruned"`` gates on the footer-exact bytes of just the read
    columns instead — for queries whose driver compute is KNOWN cheap
    (few narrow columns, low-cardinality groups), so a wide table whose
    pruned slice is small still takes the fast path. Either way a
    cluster-scale or object-store input keeps the distributed plan; the
    file read is the same parquet the distributed scan would read, so
    results are identical by construction."""
    if max_bytes is None:
        max_bytes = ARROW_LOCAL_MAX_BYTES  # read at call time (testable)
    size = (
        pruned_footer_bytes(path, columns)
        if gate == "pruned"
        else _local_input_bytes(path)
    )
    if size > max_bytes:
        return None
    import pyarrow.parquet as pq

    try:
        tbl = pq.read_table(path.removeprefix("file://"), columns=columns)
    except Exception:  # unreadable locally → distributed path
        return None
    rows = compute(tbl)
    if not rows:
        return None
    return values_relation(spark, rows, select_exprs)

