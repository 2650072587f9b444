"""The reference's Iceberg-only type system, re-implemented for Spark.

Semantics mirrored from the reference (behavior, not code):
- Only Iceberg type names are legal; classic SQL names get a targeted
  "use Iceberg type X instead" error (reference
  server/query/parser/parser.go:141-174).
- Primitives: boolean int32 int64 float32 float64 decimal(p,s) string
  binary date time timestamp timestamptz uuid
  (reference server/types/iceberg_types.go:13-31).
- Complex: list<T>, map<K,V>, struct<name:type,...>, arbitrarily nested
  with top-level-comma splitting (iceberg_types.go:94-212, 282-310,
  509-558); decimal: precision > 0, 0 ≤ scale ≤ precision (:75-89).

Spark conventions for the two gap types (SURVEY §1.2):
- ``time``  → LongType carrying microseconds-since-midnight (Spark has no
  TimeType); recorded in the column comment so round-trips are explicit.
- ``uuid``  → StringType (canonical hyphenated lowercase form), matching
  how the Iceberg-Spark connector surfaces uuid.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import types as st

from ranger_spark import sqltext
from ranger_spark.errors import (
    COMPLEX_TYPE_PARSE_ERROR,
    INVALID_ICEBERG_TYPE,
    UNSUPPORTED_SQL_TYPE,
    RangerError,
)

PRIMITIVES = (
    "boolean",
    "int32",
    "int64",
    "float32",
    "float64",
    "string",
    "binary",
    "date",
    "time",
    "timestamp",
    "timestamptz",
    "uuid",
)

# Legacy SQL name → suggested Iceberg name (reference parser.go:141-174).
LEGACY_MAPPINGS = {
    "VARCHAR": "string",
    "CHAR": "string",
    "TEXT": "string",
    "INT": "int32",
    "INTEGER": "int32",
    "BIGINT": "int64",
    "SMALLINT": "int32",
    "TINYINT": "int32",
    "FLOAT": "float32",
    "DOUBLE": "float64",
    "REAL": "float32",
    "NUMERIC": "decimal",
    "DECIMAL": "decimal",
    "BOOL": "boolean",
    "DATETIME": "timestamp",
    "BLOB": "binary",
    "VARBINARY": "binary",
}

_SIMPLE_SPARK = {
    "boolean": st.BooleanType(),
    "int32": st.IntegerType(),
    "int64": st.LongType(),
    "float32": st.FloatType(),
    "float64": st.DoubleType(),
    "string": st.StringType(),
    "binary": st.BinaryType(),
    "date": st.DateType(),
    "time": st.LongType(),  # microseconds-since-midnight convention
    "timestamp": st.TimestampNTZType(),  # Iceberg timestamp is zone-less
    "timestamptz": st.TimestampType(),
    "uuid": st.StringType(),  # canonical string form
}


@dataclass(frozen=True)
class IcebergType:
    """A parsed Iceberg type string + its Spark equivalent."""

    text: str
    spark: st.DataType


def split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split a type string (or a CREATE TABLE column block) on separators
    not nested inside <...> or (...) — the behavior of the reference's
    top-level-comma splitter. Literals and comments are opaque."""
    try:
        return sqltext.split(s, sep, angle=True)
    except ValueError as e:
        raise RangerError(COMPLEX_TYPE_PARSE_ERROR, str(e)) from None


def parse_type(text: str, column: str = "?") -> IcebergType:
    """Parse + validate an Iceberg type string; raise RangerError with the
    reference's error shapes on legacy/unknown/invalid types."""
    t = text.strip()
    low = t.lower()

    if low in _SIMPLE_SPARK:
        return IcebergType(low, _SIMPLE_SPARK[low])

    if low.startswith("decimal"):
        return _parse_decimal(t, column)
    if low.startswith("list<") and low.endswith(">"):
        inner = parse_type(t[5:-1], column)
        return IcebergType(f"list<{inner.text}>", st.ArrayType(inner.spark))
    if low.startswith("map<") and low.endswith(">"):
        kv = split_top_level(t[4:-1])
        if len(kv) != 2:
            raise RangerError(
                COMPLEX_TYPE_PARSE_ERROR,
                f"column '{column}': map needs exactly <key,value>, got {t!r}",
            )
        k, v = (parse_type(p, column) for p in kv)
        return IcebergType(f"map<{k.text},{v.text}>", st.MapType(k.spark, v.spark))
    if low.startswith("struct<") and low.endswith(">"):
        fields = []
        for part in split_top_level(t[7:-1]):
            if ":" not in part:
                raise RangerError(
                    COMPLEX_TYPE_PARSE_ERROR,
                    f"column '{column}': struct field needs name:type, got {part!r}",
                )
            fname, ftype = part.split(":", 1)
            ft = parse_type(ftype, column)
            fields.append((fname.strip(), ft))
        return IcebergType(
            "struct<" + ",".join(f"{n}:{ft.text}" for n, ft in fields) + ">",
            st.StructType([st.StructField(n, ft.spark) for n, ft in fields]),
        )

    # Not a valid Iceberg type — targeted error for known legacy names.
    bare = low.split("(")[0].split("<")[0].strip().upper()
    if bare in LEGACY_MAPPINGS:
        raise RangerError(
            UNSUPPORTED_SQL_TYPE,
            f"column '{column}': unsupported SQL type '{text}'. "
            f"Use Iceberg type '{LEGACY_MAPPINGS[bare]}' instead",
            column=column,
            sql_type=text,
        )
    raise RangerError(
        INVALID_ICEBERG_TYPE,
        f"column '{column}': invalid Iceberg type '{text}'. "
        f"Supported types: {list(PRIMITIVES) + ['decimal(p,s)', 'list<T>', 'map<K,V>', 'struct<...>']}",
        column=column,
    )


def _parse_decimal(t: str, column: str) -> IcebergType:
    low = t.lower().replace(" ", "")
    if not (low.startswith("decimal(") and low.endswith(")")):
        raise RangerError(
            COMPLEX_TYPE_PARSE_ERROR,
            f"column '{column}': decimal needs (precision,scale), got {t!r}",
        )
    body = low[len("decimal(") : -1]
    parts = body.split(",")
    if len(parts) != 2:
        raise RangerError(
            COMPLEX_TYPE_PARSE_ERROR,
            f"column '{column}': decimal needs (precision,scale), got {t!r}",
        )
    try:
        p, s = int(parts[0]), int(parts[1])
    except ValueError:
        raise RangerError(
            COMPLEX_TYPE_PARSE_ERROR,
            f"column '{column}': decimal precision/scale must be integers, got {t!r}",
        ) from None
    # reference iceberg_types.go:75-89
    if p <= 0:
        raise RangerError(
            COMPLEX_TYPE_PARSE_ERROR,
            f"column '{column}': decimal precision must be positive, got {p}",
        )
    if not (0 <= s <= p):
        raise RangerError(
            COMPLEX_TYPE_PARSE_ERROR,
            f"column '{column}': decimal scale must be in [0, precision], got {s}",
        )
    return IcebergType(f"decimal({p},{s})", st.DecimalType(p, s))


def to_spark_schema(columns: list[tuple[str, str, bool]]) -> st.StructType:
    """[(name, iceberg_type_text, nullable)] → StructType (validated)."""
    fields = []
    for name, type_text, nullable in columns:
        it = parse_type(type_text, column=name)
        fields.append(st.StructField(name, it.spark, nullable))
    return st.StructType(fields)


_SPARK_TO_ICEBERG = {
    st.BooleanType(): "boolean",
    st.IntegerType(): "int32",
    st.LongType(): "int64",
    st.FloatType(): "float32",
    st.DoubleType(): "float64",
    st.StringType(): "string",
    st.BinaryType(): "binary",
    st.DateType(): "date",
    st.TimestampNTZType(): "timestamp",
    st.TimestampType(): "timestamptz",
}


def from_spark_type(dt: st.DataType, column: str = "?") -> str:
    """Spark type → Iceberg type text (inverse of parse_type, used by
    CTAS to derive declared columns from a SELECT's schema). int64 wins
    the time/uuid convention collisions — the lossy direction is fine for
    inference; declared DDL keeps the precise text."""
    if isinstance(dt, st.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    if isinstance(dt, (st.ByteType, st.ShortType)):
        return "int32"
    t = _SPARK_TO_ICEBERG.get(dt)
    if t is None:
        raise RangerError(
            INVALID_ICEBERG_TYPE,
            f"column '{column}': type {dt.simpleString()!r} has no Iceberg "
            "equivalent in the reference type system",
        )
    return t
