"""SparkSession factory.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads,
single JVM); the conf below is chosen so the *same* logical plans scale to a
multi-executor cluster at ~100 TB:

- AQE on (runtime coalesce of shuffle partitions, skew-join splitting,
  dynamic join-strategy demotion to broadcast) — the single most important
  knob for plans that must survive a 1000× scale-up without retuning.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster AQE's coalescing makes the initial number mostly irrelevant
  as long as it is high enough, so deployments should raise it to
  2–3× total cores.
- Arrow enabled for the few Pandas-UDF operators (multimodal decode,
  vectorized similarity) — everything else stays JVM-side.
- Session timezone pinned to UTC so timestamp semantics are deterministic
  and engine-independent (the reference's DuckDB runs naive timestamps).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ranger_spark.protoshim import ensure_protobuf

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "ranger_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-ready defaults."""
    # Must run before the JVM starts: exports PYTHONPATH so Python
    # workers (separate processes) can import google.protobuf — real
    # runtime when installed, the vendored shim otherwise. This is what
    # un-gates transformWithStateInPandas in protobuf-less environments.
    ensure_protobuf()
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Keep the broadcast threshold at Spark's stock 10 MB: raising it to
        # 64 MB made the local bench BROADCAST THE FACT TABLE (600k-row
        # cached lineitem fits) — a single-threaded driver-side hash build
        # that measured ~2x slower than the 32-way shuffle join AND the
        # wrong plan shape at 100 TB. Dimension tables still broadcast; AQE
        # demotes filtered fact sides at runtime when they genuinely shrink.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # Runtime bloom-filter join pruning: Spark's stock application-side
        # threshold (10 GB) never fires in local bench regimes, but a
        # selective dimension/date filter pruning a fact scan is exactly
        # the 100 TB win (row-level runtime filters). 256 MB keeps the
        # filter off small joins (build cost ≈ an extra aggregate of the
        # creation side) while the 64× fact joins qualify — measured −9%
        # on the q5 fact-fact join at 64× (r7).
        .config(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            str(256 * 1024 * 1024),
        )
        # ...and the CREATION side must be allowed to build it: the stock
        # 10 MB cap rejected q5's date-filtered orders stream (53 MB
        # pruned estimate at 64×), so no bloom ever fired. 128 MB admits
        # selective fact/dimension streams — the build is one extra
        # aggregate over ≤128 MB of join keys — while the 256 MB scan
        # threshold above still keeps blooms off small probe sides.
        # Measured: q5@64× 3.71→2.90 s (lineitem shuffle rows pruned
        # map-side before the exchange).
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            str(128 * 1024 * 1024),
        )
        # Prefer shuffled-hash over sort-merge when Catalyst's size guard
        # admits a local hash build (side < threshold×partitions, or ≪ the
        # other side): skips both sort passes of the fact joins — the
        # hash-join-first default of DuckDB/Trino. Measured at sf0.1×64,
        # min-of-3 warm: q5 2.96→2.47 s, q3 1.54→1.39, q18 4.65→4.32,
        # q1 0.43→0.36; full oracle gate stays green at both SFs (money
        # sums are grid-snapped, so partial-sum order can't flip them).
        # AQE still re-plans per-stage, and oversized builds fall back to
        # SMJ by the same guard at cluster scale.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # An Arrow-built frame (frames.local_frame) under this size is a
        # driver-held LocalRelation; above it, an RDD of Arrow batches the
        # executors decode. Spark's 48 MB default keeps a 10 MB COPY on the
        # driver, which re-ships its rows to every job: a 200k-row COPY
        # measured 2.3 s that way vs 0.8 s as Arrow batches (4 vCPUs). 4 MB
        # is spark.sql.files.openCostInBytes, where local_frame starts to
        # split a batch.
        .config("spark.sql.execution.arrow.localRelationThreshold", str(4 << 20))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Reference caps a single DuckDB at 512 MB (server/query/engine.go:48);
        # we size for the container but keep result-collection capped in the
        # engine layer instead (engine.py), which is the scalable shape.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    # Shuffle/spill dirs on tmpfs when available: /tmp here is disk-backed
    # ext4, so shuffle writes otherwise pay ext4 journaling. The cluster
    # analog is pointing spark.local.dir at local NVMe — a deployment knob,
    # not a plan change. Shuffle volumes in this repo's workloads are MBs
    # (digests/keys, never documents), so tmpfs capacity is not a concern.
    if os.access("/dev/shm", os.W_OK):
        b = b.config("spark.local.dir", "/dev/shm/spark-local")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # first-class Python data sources (spark.read.format("warc"));
    # registration is driver-side metadata — cheap and idempotent.
    # Only the absence of the DataSource API (old runtimes: no
    # pyspark.sql.datasource module / no spark.dataSource attribute) is
    # tolerated; real registration failures must surface here, not as a
    # later DATA_SOURCE_NOT_FOUND.
    try:
        from ranger_spark.sources.warc_datasource import register_warc_source

        register_warc_source(spark)
    except (ImportError, AttributeError):  # pragma: no cover - old runtimes
        pass
    return spark
