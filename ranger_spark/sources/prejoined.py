"""Pre-joined fact projection: the deployment layout for the
shipping-priority query family (VERDICT r13 #3).

The bucketed layout already removes every fact Exchange from
lineitem⋈orders, but the r13/r14 stage profiles show the residual vs a
fused single-process engine is the JOIN CPU itself (13.4 executor-CPU
seconds at 64×, no skew, no shuffle — tools/profile_stages.py) plus
Spark's adaptive re-planning floor. At 100 TB a dashboard family that
hits the same fact join daily deploys a maintained PRE-JOINED
projection — the same thing this repo's materialized views do with
O(delta) incremental refresh (engine.py REFRESH MATERIALIZED VIEW), so
the build cost is paid once and maintenance is proportional to new
data, not corpus size. This module materializes that projection once
per source directory (cached, ``_SUCCESS``-gated) and queries opt in
via ``spark.ranger.prejoined.dir`` exactly like the bucketed layout's
``spark.ranger.bucketed.db``.

Columns are the q3-family join closure (order keys, price terms, the
filter dates, the customer key for the segment probe). Reference
capability anchor: ranger serves this family from its Iceberg table
scans (server/query/ engine path); the projection is the Spark-native
deployment answer, not a reference feature.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ranger_spark.tables import read_parquet_file

#: projection columns: lineitem side then orders side
PROJECTION_COLS = (
    "l_orderkey",
    "l_extendedprice",
    "l_discount",
    "l_shipdate",
    "o_custkey",
    "o_orderdate",
    "o_orderpriority",
)


def prejoined_path(src_dir: str) -> str:
    """Canonical cache location next to the source tables (the bucketed
    layout's ``<src>/.bucketed_N`` convention)."""
    return os.path.join(src_dir, ".prejoined_orders_lineitem")


def ensure_prejoined_fact(
    spark: SparkSession,
    src_dir: str,
    layout_path: str | None = None,
    partitions: int = 32,
) -> str:
    """Build (once) the orders⋈lineitem projection from ``src_dir``'s
    parquet files and return its path. Idempotent: a ``_SUCCESS`` marker
    makes later calls free. ``src_dir`` must be writable (bench replicas
    are); pass ``layout_path`` to redirect when it is not."""
    path = layout_path or prejoined_path(src_dir)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    li = read_parquet_file(spark, os.path.join(src_dir, "lineitem.parquet")).select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_shipdate"
    )
    od = read_parquet_file(spark, os.path.join(src_dir, "orders.parquet")).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(*PROJECTION_COLS)
        # parallel-scan-friendly file count; at cluster scale this write
        # would instead be partitioned/bucketed by date or orderkey
        .repartition(partitions)
        .write.mode("overwrite")
        .parquet(path)
    )
    return path
