"""File ingestion: read Parquet/CSV/JSON/ORC/Avro fixtures and append them
to catalog tables (≈ the reference's ingest tool, which reads Parquet/Avro
fixtures into tables — reference scripts/testing/ingest/main.go).

Avro: the spark-avro classes ship in this container but the short
``avro`` alias is not service-registered, so the reader resolves the full
class name when the classes are present and raises a clear capability
error otherwise (deployments with ``org.apache.spark:spark-avro_2.13``
properly registered work either way).

Scale notes: ingestion is a plain distributed read → validated append;
``schema`` should be passed for CSV/JSON at scale (inference is an extra
full scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ranger_spark.errors import UNSUPPORTED_STATEMENT, RangerError
from ranger_spark.jvm import jclass

FORMATS = (
    "parquet",
    "csv",
    "json",
    "orc",
    "avro",
    "text",
    "xml",
    "binaryfile",
)


def avro_available(spark: SparkSession) -> bool:
    """True if the external spark-avro module is on the classpath."""
    try:
        jclass(spark, "java.lang.Class").forName(
            "org.apache.spark.sql.avro.AvroFileFormat"
        )
        return True
    except Exception:
        return False


def read_file(
    spark: SparkSession,
    path: str,
    fmt: str,
    schema: StructType | None = None,
    **options,
) -> DataFrame:
    """Read one file/directory in the given format."""
    fmt = fmt.lower()
    if fmt not in FORMATS:
        raise RangerError(
            UNSUPPORTED_STATEMENT,
            f"unsupported ingest format {fmt!r}; one of {FORMATS}",
        )
    if fmt == "avro":
        if not avro_available(spark):
            raise RangerError(
                UNSUPPORTED_STATEMENT,
                "avro requires the external spark-avro module "
                "(org.apache.spark:spark-avro_2.13) on the classpath",
            )
        fmt = "org.apache.spark.sql.avro.AvroFileFormat"
    if fmt == "binaryfile":
        # opaque-payload ingestion (images/audio/video as binary columns
        # with path/length/modificationTime metadata) — the entry point
        # of the multimodal pipeline (operators/multimodal.py)
        fmt = "binaryFile"
    if fmt == "xml":
        # Spark 4 ships the XML source natively; a rowTag is required
        options.setdefault("rowTag", "row")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt == "csv":
        options.setdefault("inferSchema", "true")
    if fmt == "csv":
        options.setdefault("header", "true")
    return reader.format(fmt).options(**options).load(path)


def ingest_file(
    spark: SparkSession,
    path: str,
    fmt: str,
    table: str,
    schema: StructType | None = None,
    create: bool = False,
    **options,
) -> int:
    """Read a file and append it to a catalog table; returns row count.
    With create=True the table is created from the file schema."""
    df = read_file(spark, path, fmt, schema, **options)
    n = df.count()
    if create and not spark.catalog.tableExists(table):
        df.write.saveAsTable(table)
    else:
        target = spark.table(table)
        df.select(*target.columns).write.mode("append").insertInto(table)
    return n
