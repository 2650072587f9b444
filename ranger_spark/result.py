"""Statement results, and the one text every wire protocol sends for them.

A read leaves Spark once, as a ``pyarrow.Table``: ``Engine._read``
fetches its capped frame with ``fetch``. ``QueryResult`` carries that
table; statements answered on the driver (SHOW, DESCRIBE, messages) carry
Python rows instead. Either way the protocols read the same two
per-column forms:

- ``column_text()``: each cell as ``str()`` of the value ``rows`` holds,
  None for NULL. Native joins it per block, pgwire frames it as DataRows
  and COPY lines.
- ``column_json()``: each cell as ``json.dumps(value, default=str)``, the
  text of HTTP's ``data``.

For scalar Arrow columns the text is built with ``pyarrow.compute``; the
rules below reproduce Python's ``str``/``json.dumps`` exactly (Arrow
prints ``36.0`` as ``36``, ``True`` as ``true`` and every timestamp with
``.000000``). Cells no vectorized rule covers (nested values, binary,
intervals, variants, doubles in exponent form, non-ASCII JSON strings)
take their Python value through Spark's own Arrow-to-rows conversion.
"""

from __future__ import annotations

import calendar
import collections
import datetime
import decimal
import json
import struct
import time

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import types as st


def _python_rows(table: pa.Table, schema: st.StructType) -> list[tuple]:
    """The values ``DataFrame.collect()`` gives for these rows: naive
    local datetimes, ``dict`` for maps, ``Row`` for structs, ``bytes``."""
    from pyspark.sql.conversion import ArrowTableToRowsConversion

    rows = ArrowTableToRowsConversion.convert(
        table, schema, return_as_tuples=True
    )
    fix = {i for i, f in enumerate(schema.fields) if _differs(f.dataType)}
    if not fix:
        return rows
    types = [f.dataType for f in schema.fields]
    return [
        tuple(_classic(v, types[i]) if i in fix else v for i, v in enumerate(r))
        for r in rows
    ]


def fetch(frame) -> pa.Table:
    """``frame``'s rows as one Arrow table, in one Spark action, as
    ``DataFrame.toArrow()`` fetches them: types with no Arrow form
    (year-month and calendar intervals) fail before the job. The batches
    are kept as the JVM sends them; ``toArrow()`` would also cast them to
    a schema whose variant fields are not nullable, which fails on a NULL
    variant (Spark 4.1)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    to_arrow_schema(frame.schema, error_on_duplicated_field_names_in_struct=True)
    return pa.Table.from_batches(
        frame._collect_as_arrow(
            split_batches=False, empty_list_if_zero_records=False
        )
    )


class QueryResult:
    """One statement's answer: ``columns``, ``row_count``, ``message`` and
    either a fetched ``table`` (with its Spark ``schema``) or Python
    ``rows``. ``rows`` is a lazy view on a fetched table."""

    def __init__(
        self,
        columns: list[str],
        rows: list[tuple] | None = None,
        row_count: int | None = None,
        message: str = "",
        query_id: str = "",
        truncated: bool = False,
        table: pa.Table | None = None,
        schema: st.StructType | None = None,
    ):
        self.columns = columns
        self.table = table
        self.schema = schema
        self._rows = [] if rows is None and table is None else rows
        self.row_count = self.num_rows if row_count is None else row_count
        self.message = message
        self.query_id = query_id
        self.truncated = truncated
        # "hit" or "miss" when the engine's result cache may keep this
        # read's result (Engine._read), else None
        self.result_cache: str | None = None

    def __repr__(self) -> str:
        return (
            f"QueryResult(columns={self.columns!r}, "
            f"row_count={self.row_count}, message={self.message!r})"
        )

    def copy(self) -> "QueryResult":
        """A new result over the same table or rows, without the lazily
        built rows of this one."""
        return QueryResult(
            self.columns, self._rows if self.table is None else None,
            self.row_count, self.message, self.query_id, self.truncated,
            self.table, self.schema,
        )

    @property
    def num_rows(self) -> int:
        """Rows held, which ``row_count`` need not be (an UPDATE reports
        its count with no rows)."""
        return self.table.num_rows if self.table is not None else len(self._rows)

    @property
    def rows(self) -> list[tuple]:
        if self._rows is None:
            self._rows = _python_rows(self.table, self.schema)
        return self._rows

    def column_text(self) -> list[pa.Array]:
        """Each column's cells as ``str()`` of their value; NULL is None."""
        return self._columns(_text_rule, str, None)

    def column_json(self) -> list[pa.Array]:
        """Each column's cells as ``json.dumps(value, default=str)``."""
        return self._columns(_json_rule, _json, "null")

    def _columns(self, rule, fmt, null) -> list[pa.Array]:
        if self.table is None:
            return [
                pa.array(
                    [
                        null if i >= len(r) or r[i] is None else fmt(r[i])
                        for r in self._rows
                    ],
                    pa.string(),
                )
                for i in range(len(self.columns))
            ]
        out = []
        for i, field in enumerate(self.schema.fields):
            one = self.table.select([i])
            one_schema = st.StructType([field])

            def values(mask, one=one, one_schema=one_schema):
                return [
                    r[0] for r in _python_rows(one.filter(mask), one_schema)
                ]

            out.append(rule(self.table.column(i), values))
        return out


def joined(cells: pa.Array, sep):
    """All of ``cells`` (no NULLs) joined by ``sep`` in one pyarrow call,
    as ``str`` or ``bytes`` like the cells."""
    one = pa.ListArray.from_arrays(pa.array([0, len(cells)], pa.int32()), cells)
    return pc.binary_join(one, sep)[0].as_py()


# ------------------------------------------- collect()'s Python values
# collect() hands Python the values Py4J's pickler makes of Spark's Java
# ones: a decimal is parsed from BigDecimal.toEngineeringString, a map is
# a java.util.HashMap in its bucket order, a variant holds bytearrays.
# Spark's Arrow-to-rows conversion gives the plain values; these bring
# them to collect()'s, so str() and json.dumps of a cell stay the same.
def _differs(t: st.DataType) -> bool:
    if isinstance(t, (st.DecimalType, st.MapType, st.VariantType)):
        return True
    if isinstance(t, st.ArrayType):
        return _differs(t.elementType)
    if isinstance(t, st.StructType):
        return any(_differs(f.dataType) for f in t.fields)
    return False


def _classic(v, t: st.DataType):
    if v is None:
        return None
    if isinstance(t, st.DecimalType):
        return _engineering(v)
    if isinstance(t, st.VariantType):
        return st.VariantVal(bytearray(v.value), bytearray(v.metadata))
    if isinstance(t, st.ArrayType):
        if not _differs(t.elementType):
            return v
        return [_classic(x, t.elementType) for x in v]
    if isinstance(t, st.StructType):
        return st._create_row(
            t.names, [_classic(x, f.dataType) for x, f in zip(v, t.fields)]
        )
    if isinstance(t, st.MapType):
        items = [
            (_classic(k, t.keyType), _classic(x, t.valueType))
            for k, x in v.items()
        ]
        return dict(_hash_map_order(items, t.keyType))
    return v


def _engineering(d: decimal.Decimal) -> decimal.Decimal:
    """``Decimal(BigDecimal.toEngineeringString())``: in exponent form the
    exponent is a multiple of 3, and a short coefficient is padded with
    zeros to reach it (1E-10 becomes 100E-12, whose str is 1.00E-10)."""
    sign, digits, exp = d.as_tuple()
    if exp >= 0 or d.adjusted() >= -6 or not any(digits):
        return d
    pad = d.adjusted() % 3 + 1 - len(digits)
    if pad <= 0:
        return d
    return decimal.Decimal((sign, digits + (0,) * pad, exp - pad))


def _i32(h: int) -> int:
    h &= 0xFFFFFFFF
    return h - (1 << 32) if h & 0x80000000 else h


def _java_hash(k, t: st.DataType) -> int | None:
    """``hashCode()`` of the Java object a map key of type ``t`` becomes,
    or None for the identity hash of binary, array and struct keys."""
    if isinstance(t, st.StringType):
        h = 0
        for hi, lo in zip(*[iter(k.encode("utf-16-be"))] * 2):
            h = (31 * h + (hi << 8 | lo)) & 0xFFFFFFFF
        return _i32(h)
    if isinstance(t, (st.ByteType, st.ShortType, st.IntegerType)):
        return k
    if isinstance(t, st.DateType):  # an Integer of days
        return (k - datetime.date(1970, 1, 1)).days
    if isinstance(t, (st.TimestampType, st.TimestampNTZType)):
        # a Long of microseconds; a zoned key's naive value is local time
        seconds = (
            calendar.timegm(k.timetuple())
            if isinstance(t, st.TimestampNTZType)
            else int(k.replace(microsecond=0).timestamp())
        )
        return _java_hash(seconds * 1_000_000 + k.microsecond, st.LongType())
    if isinstance(t, st.LongType):
        return _i32(k ^ ((k & 0xFFFFFFFFFFFFFFFF) >> 32))
    if isinstance(t, st.BooleanType):
        return 1231 if k else 1237
    if isinstance(t, (st.DoubleType, st.FloatType)):
        if isinstance(t, st.FloatType):
            return _i32(struct.unpack(">i", struct.pack(">f", k))[0]
                        if k == k else 0x7FC00000)
        bits = (struct.unpack(">q", struct.pack(">d", k))[0]
                if k == k else 0x7FF8000000000000)
        return _i32(bits ^ ((bits & 0xFFFFFFFFFFFFFFFF) >> 32))
    if isinstance(t, st.DecimalType):
        unscaled = int(k.scaleb(t.scale))
        h, mag = 0, abs(unscaled)
        words = []
        while mag:
            words.append(mag & 0xFFFFFFFF)
            mag >>= 32
        for w in reversed(words):
            h = (31 * h + w) & 0xFFFFFFFF
        h = _i32(h) * (1 if unscaled > 0 else -1 if unscaled else 0)
        return _i32(31 * h + t.scale)
    return None


def _hash_map_order(items: list, key_type: st.DataType) -> list:
    """``items`` in the iteration order of a java.util.HashMap sized for
    them and filled in their order: by bucket, then by insertion. A
    bucket of 8 or more keys makes Java reorder it as a tree; then, as
    for keys without a reproduced hash, the map keeps its own order."""
    hashes = [_java_hash(k, key_type) for k, _ in items]
    if len(items) < 2 or hashes[0] is None:
        return items
    # new HashMap(n): a table of the next power of two, doubled while n
    # passes three quarters of it
    cap = 1 << (len(items) - 1).bit_length()
    while len(items) > cap * 3 // 4:
        cap *= 2
    buckets = [((h & 0xFFFFFFFF) ^ ((h & 0xFFFFFFFF) >> 16)) & (cap - 1)
               for h in hashes]
    if max(collections.Counter(buckets).values()) >= 8:
        return items
    order = sorted(range(len(items)), key=lambda i: (buckets[i], i))
    return [items[i] for i in order]


# ------------------------------------------------------------ the rules
def _json(v) -> str:
    return json.dumps(v, default=str)


def _array(a) -> pa.Array:
    return a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a


def _patch(text, mask, values, fmt) -> pa.Array:
    """``text`` with each cell under ``mask`` replaced by ``fmt`` of its
    Python value; ``values(mask)`` gives those values in order."""
    text, mask = _array(text), _array(mask)
    if not pc.any(mask).as_py():
        return text
    return pc.replace_with_mask(
        text, mask, pa.array([fmt(v) for v in values(mask)], pa.string())
    )


def _from_python(col, values, fmt) -> pa.Array:
    """Every non-NULL cell as ``fmt`` of its Python value."""
    return _patch(pa.nulls(len(col), pa.string()), pc.is_valid(col), values, fmt)


def _scalar_text(col, t: pa.DataType):
    """``str()`` text of a column type with a vectorized rule, or None."""
    if pa.types.is_integer(t) or pa.types.is_string(t) or pa.types.is_date32(t):
        return pc.cast(col, pa.string())
    if pa.types.is_boolean(t):
        return pc.if_else(col, "True", "False")
    if pa.types.is_timestamp(t) and t.unit == "us" and (
        t.tz is None or time.timezone == time.altzone == 0
    ):
        # rows hold naive wall time, local time for a zoned column (here
        # UTC, Arrow's own); str() leaves out a zero fraction
        naive = pc.cast(col, pa.timestamp(t.unit))
        return pc.replace_substring(pc.cast(naive, pa.string()), ".000000", "")
    return None


def _float_text(col, fmt) -> pa.Array:
    """``fmt`` (repr or json.dumps) of each double. Arrow prints the same
    shortest digits as Python, in fixed form for most values in Python's
    fixed range [1e-4, 1e16), where only a whole number's ``.0`` is
    missing. Exponent forms, values outside that range, NaN and ±inf are
    formatted in Python."""
    x = pc.cast(col, pa.float64())
    text = pc.cast(x, pa.string())
    size = pc.abs(x)
    fixed = pc.and_(
        pc.or_(
            pc.and_(pc.greater_equal(size, 1e-4), pc.less(size, 1e16)),
            pc.equal(size, 0),
        ),
        pc.invert(pc.match_substring(text, "e")),
    )
    whole = pc.and_(fixed, pc.invert(pc.match_substring(text, ".")))
    text = pc.if_else(whole, pc.binary_join_element_wise(text, ".0", ""), text)
    odd = pc.and_(pc.is_valid(x), pc.invert(fixed))
    return _patch(text, odd, lambda mask: pc.filter(x, mask).to_pylist(), fmt)


def _decimal_text(col, values, fmt) -> pa.Array:
    """Arrow and Python agree on a decimal in plain form; exponent forms
    (under 1e-6 at a scale over 6) are formatted in Python."""
    text = pc.cast(col, pa.string())
    odd = pc.fill_null(pc.match_substring(text, "E"), False)
    return _patch(text, odd, values, fmt)


def _text_rule(col, values) -> pa.Array:
    t = col.type
    if pa.types.is_floating(t):
        return _float_text(col, repr)
    if pa.types.is_decimal(t):
        return _decimal_text(col, values, str)
    text = _scalar_text(col, t)
    if text is None:
        return _from_python(col, values, str)
    return _array(text)


def _json_rule(col, values) -> pa.Array:
    t = col.type
    if pa.types.is_integer(t):
        text = pc.cast(col, pa.string())
    elif pa.types.is_boolean(t):
        text = pc.if_else(col, "true", "false")
    elif pa.types.is_floating(t):
        text = _float_text(col, _json)
    elif pa.types.is_decimal(t):
        text = pc.binary_join_element_wise(
            '"', _decimal_text(col, values, str), '"', ""
        )
    elif pa.types.is_string(t):
        # json.dumps escapes everything outside printable ASCII as \uXXXX;
        # those rare cells take Python's own encoder
        escaped = pc.replace_substring(
            pc.replace_substring(col, "\\", "\\\\"), '"', '\\"'
        )
        text = _patch(
            pc.binary_join_element_wise('"', escaped, '"', ""),
            pc.fill_null(pc.match_substring_regex(col, r"[^\x20-\x7e]"), False),
            lambda mask: pc.filter(col, mask).to_pylist(),
            _json,
        )
    else:
        text = _scalar_text(col, t)
        if text is None:
            text = _from_python(col, values, _json)
        else:  # dates and timestamps go through default=str
            text = pc.binary_join_element_wise('"', text, '"', "")
    return _array(pc.fill_null(text, "null"))
