"""Driver-side rows → Spark DataFrame, through Arrow.

``spark.createDataFrame(<python list>)`` pickles the rows into an RDD, so
every use of the frame runs a Python-worker job, and a write of it lands
one file per default-parallelism slice. :func:`local_frame` builds a
``pyarrow.Table`` instead and hands it to ``createDataFrame``: a small
batch becomes a ``LocalRelation`` (a ``LocalTableScan`` in the plan) and a
large one Arrow batches the executors decode. No Python worker runs either
way, and a small append writes one Parquet file.

Values pass through the schema's own ``toInternal`` first, so every cell
means what the row-list path made of it — a naive ``timestamp`` (Spark
``TimestampType``) is local wall time, the reading ``collect()`` gives
back.
"""

from __future__ import annotations

import functools
import math

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as st
from pyspark.sql.pandas.types import to_arrow_schema


@functools.lru_cache(maxsize=64)
def _parse_schema(ddl: str) -> st.StructType:
    return st.StructType.fromDDL(ddl)


def local_frame(
    spark: SparkSession, rows, schema: st.StructType | str
) -> DataFrame:
    """One DataFrame over ``rows`` (tuples in ``schema`` field order),
    built from Arrow. Its partitions are sized the way Spark sizes a file
    scan (``FilePartition.maxSplitBytes``): ``min(maxPartitionBytes,
    max(openCostInBytes, bytes / defaultParallelism))`` of Arrow data
    each. A batch under ``spark.sql.files.openCostInBytes`` (4 MB) is one
    partition, so a small append writes one file; a large COPY still
    spreads over every core. Above
    ``spark.sql.execution.arrow.localRelationThreshold`` (``get_spark``
    sets 4 MB) Spark keeps the batch as Arrow and the executors decode
    it, instead of holding it as driver-side rows."""
    if isinstance(schema, str):
        schema = _parse_schema(schema)
    internal = [schema.toInternal(r) for r in rows]
    columns = list(zip(*internal)) if internal else [()] * len(schema.fields)
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    conf = spark._jconf  # noqa: SLF001
    per_core = table.nbytes / spark.sparkContext.defaultParallelism
    split = min(
        conf.filesMaxPartitionBytes(), max(conf.filesOpenCostInBytes(), per_core)
    )
    parts = max(1, math.ceil(table.nbytes / split))
    return spark.createDataFrame(table, schema).coalesce(parts)
