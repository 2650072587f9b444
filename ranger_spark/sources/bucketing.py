"""Bucketed tables: co-located joins and aggregations without shuffles.

At 100 TB the dominant cost of fact-to-fact joins (lineitem ⋈ orders) is
the shuffle of both sides. Writing both tables bucketed by the join key
pre-partitions the data on disk; Spark's scan then reports the bucket
distribution and Catalyst elides the Exchange on both sides — the join
runs shuffle-free regardless of data size. (The reference's Iceberg layer
always writes an empty partition spec — SURVEY §1.3 — so it never gets
this; Iceberg's bucket partition transform is the connector-native
equivalent of what this module does with Spark bucketing.)

Verified in tests/test_bucketing.py: the bucketed join plan contains zero
shuffle Exchanges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ranger_spark.tables import parquet_schema, read_parquet_file


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 16,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write df as a bucketed (and optionally sorted) managed table.

    The df is repartitioned on the bucket column first — Spark's
    HashPartitioning and its bucket spec both use Murmur3 pmod, so each
    write task then holds exactly one bucket and every bucket lands in
    ONE file. That single-file-per-bucket property is what lets the scan
    honor the SORTED BY flag (multi-file buckets force a re-sort before
    a sort-merge join) and keeps the file count at num_buckets instead
    of num_buckets × write-tasks."""
    w = (
        df.repartition(num_buckets, bucket_col)
        .write.mode(mode)
        .bucketBy(num_buckets, bucket_col)
    )
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def colocated_join(
    spark: SparkSession, left_table: str, right_table: str, on: str, how: str = "inner"
) -> DataFrame:
    """Join two tables bucketed on the same key: with
    spark.sql.sources.bucketing.enabled (default true) and matching bucket
    counts this plans with no Exchange on either side."""
    return spark.table(left_table).join(spark.table(right_table), on, how)


# star-join fact tables and their co-location key (lineitem⋈orders is the
# one fact-fact join in the TPC-H-shaped workload). customer rides along
# bucketed on its key for the beyond-broadcast regime: it scales with the
# facts (TPC-H: 1 customer per 10 orders), and once it outgrows a
# broadcast the custkey join is at least one-sided — only the fact
# stream exchanges, never the customer scan.
FACT_BUCKETS = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "customer": "c_custkey",
}


def ensure_bucketed_layout(
    spark: SparkSession,
    src_dir: str,
    db: str,
    buckets: int = 32,
    tables: dict[str, str] | None = None,
    layout_dir: str | None = None,
) -> None:
    """Build (once) and register a bucketed copy of the fact tables from
    ``src_dir``'s parquet files, for use via ``spark.ranger.bucketed.db``.

    Files are written next to the source under ``<src_dir>/.bucketed_N``
    with bucket-id file naming (bucketBy + saveAsTable through an
    external path), so the build cost is paid once; later sessions —
    whose in-memory metastore forgot the tables — just re-register the
    bucket spec over the existing files (CREATE TABLE ... CLUSTERED BY
    ... LOCATION), which Spark honors because the bucket id is encoded
    in the file names. Idempotent and cheap when already built."""
    import os

    tables = dict(FACT_BUCKETS) if tables is None else tables
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    # propagate the buckets' SORTED BY into the scan's outputOrdering so
    # sort-merge joins skip their Sort entirely (measured −29% on the q3
    # fact-fact join). Spark only claims the ordering when a bucket is a
    # single file — guaranteed by the repartition-first write below — and
    # the conf's cost (file listing at planning) is trivial here.
    # NOTE: this is a session-wide conf (deliberate: callers of this
    # opt-in layout want it for every scan of these tables); it is
    # correctness-neutral for other bucketed tables — Spark still only
    # claims ordering for single-file buckets — and costs them at most
    # planning-time file listing.
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    # layout files default next to the source; pass layout_dir when the
    # source directory is read-only
    root = layout_dir or os.path.join(src_dir, f".bucketed_{buckets}")
    for name, key in tables.items():
        qual = f"{db}.{name}"
        if spark.catalog.tableExists(qual):
            continue
        loc = os.path.join(root, name)
        built = os.path.exists(os.path.join(loc, "_SUCCESS"))
        if built:
            schema = parquet_schema(spark, f"{src_dir}/{name}.parquet")
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
            )
            spark.sql(
                f"CREATE TABLE {qual} ({cols}) USING parquet"
                f" CLUSTERED BY ({key}) SORTED BY ({key})"
                f" INTO {buckets} BUCKETS LOCATION '{loc}'"
            )
        else:
            (
                # repartition on the key first: HashPartitioning and the
                # bucket spec share Murmur3 pmod, so each bucket lands in
                # exactly ONE file — required for the scan to trust
                # SORTED BY (multi-file buckets re-sort before SMJ)
                read_parquet_file(spark, f"{src_dir}/{name}.parquet")
                .repartition(buckets, key)
                .write.mode("overwrite")
                .bucketBy(buckets, key)
                .sortBy(key)
                .option("path", loc)
                .saveAsTable(qual)
            )
