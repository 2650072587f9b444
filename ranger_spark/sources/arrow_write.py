"""Distributed parquet writes with PER-COLUMN compression codecs.

Spark's parquet writer takes one codec per file (``parquet.compression``),
so the engine's ``column_compression`` SETTINGS only honors uniform
overrides (reference parity gap: ``server/storage/parquet/
compression.go:103-109`` configures codecs per column). This module
closes the mechanism gap: ``mapInArrow`` streams each partition's Arrow
batches into a ``pyarrow.parquet.ParquetWriter`` whose ``compression``
is a column→codec dict — a fully distributed write (one file per
partition, no driver materialization) that produces footers with
different codecs per column chunk.

Scale notes: the Python hop is Arrow-batched (zero-copy columnar), the
write is embarrassingly parallel, and the returned per-partition file
list is exactly what a snapshot manifest commit needs.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame

_CODECS = {"none", "snappy", "gzip", "zstd", "lz4", "brotli"}


def write_parquet_column_codecs(
    df: DataFrame,
    path: str,
    codecs: dict[str, str],
    default: str = "snappy",
) -> list[str]:
    """Write ``df`` under ``path`` as parquet with per-column codecs
    (columns absent from ``codecs`` use ``default``). Returns the list
    of files written (one per non-empty partition).

    The tasks write into an ``_staging-*`` directory under ``path``
    (hidden from Spark's listing and the snapshot walks) whose files move
    into ``path`` only when the job succeeded. A failed job's directory is
    removed: a Python worker can outlive its killed task by
    ``spark.python.task.killTimeout`` and still write its file, which then
    goes to the staging directory, never to ``path``."""
    for col, codec in codecs.items():
        if col not in df.columns:
            raise ValueError(f"column_compression column {col!r} not in schema")
        if codec.lower() not in _CODECS:
            raise ValueError(f"unsupported codec {codec!r} for column {col!r}")
    staging = os.path.join(path, f"_staging-{uuid.uuid4().hex}")
    os.makedirs(staging)
    comp = {c: k.upper() for c, k in codecs.items()}
    default_u = default.upper()

    def run(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from ranger_spark.functions.ulid import generate_ulid

        writer = None
        # ULID names sort by creation time in listings — the reference's
        # data-file naming property (storage.go:307-309)
        fname = os.path.join(staging, f"part-{generate_ulid()}.parquet")
        n = 0
        for batch in batches:
            if writer is None:
                per_col = {
                    f.name: comp.get(f.name, default_u)
                    for f in batch.schema
                }
                writer = pq.ParquetWriter(
                    fname, batch.schema, compression=per_col
                )
            writer.write_batch(batch)
            n += batch.num_rows
        if writer is not None:
            writer.close()
            yield pa.RecordBatch.from_pydict(
                {"file": [fname], "rows": [n]}
            )

    try:
        out = df.mapInArrow(run, "file string, rows long").collect()
        files = []
        for r in out:
            dst = os.path.join(path, os.path.basename(r.file))
            os.rename(r.file, dst)
            files.append(dst)
        return files
    finally:
        shutil.rmtree(staging, ignore_errors=True)
