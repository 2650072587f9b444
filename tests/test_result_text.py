"""The text every wire protocol sends for a fetched result is Python's own
``str()`` / ``json.dumps(default=str)`` of the values ``QueryResult.rows``
holds, and those values are the ones ``DataFrame.collect()`` gives. The
per-cell Python formatting is the reference the vectorized rules are
checked against."""

from __future__ import annotations

import datetime as dt
import decimal
import json

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from ranger_spark import result


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.floats(width=64)),
            st.one_of(st.none(), st.floats(width=32)),
            st.one_of(st.none(), st.decimals(
                min_value=-(10 ** 8), max_value=10 ** 8, places=10,
                allow_nan=False,
            )),
            st.one_of(st.none(), st.text(max_size=12)),
            st.one_of(st.none(), st.datetimes(
                min_value=dt.datetime(1900, 1, 1),
                max_value=dt.datetime(2200, 1, 1),
            )),
            st.one_of(st.none(), st.booleans()),
            st.one_of(st.none(), st.dictionaries(
                st.text(max_size=4), st.integers(-5, 5), max_size=9
            )),
        ),
        max_size=40,
    )
)
def test_column_text_is_str_and_json_of_the_rows(rows):
    """The vectorized text of every column equals ``str()`` and
    ``json.dumps(default=str)`` of the values ``rows`` holds: the Python
    formatting the wire encoders used to run per cell is the reference."""
    schema = T.StructType([
        T.StructField("d", T.DoubleType()),
        T.StructField("f", T.FloatType()),
        T.StructField("dec", T.DecimalType(19, 10)),
        T.StructField("s", T.StringType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("m", T.MapType(T.StringType(), T.IntegerType())),
    ])
    arrow_types = [
        pa.float64(), pa.float32(), pa.decimal128(19, 10), pa.string(),
        pa.timestamp("us"), pa.bool_(), pa.map_(pa.string(), pa.int32()),
    ]
    cols = list(zip(*rows)) if rows else [()] * len(arrow_types)
    table = pa.table(
        [
            pa.array(
                [list(v.items()) if isinstance(v, dict) else v for v in c],
                t,
            )
            for c, t in zip(cols, arrow_types)
        ],
        names=schema.names,
    )
    r = result.QueryResult(schema.names, table=table, schema=schema)
    values = list(zip(*r.rows)) if rows else [()] * len(arrow_types)
    for name, got, want in zip(schema.names, r.column_text(), values):
        assert got.to_pylist() == [
            None if v is None else str(v) for v in want
        ], name
    for name, got, want in zip(schema.names, r.column_json(), values):
        assert got.to_pylist() == [json.dumps(v, default=str) for v in want], name


def test_decimals_take_collects_engineering_form():
    """collect() parses a decimal from BigDecimal.toEngineeringString, so
    1E-10 at scale 10 comes back as 100E-12 (str 1.00E-10); the plain
    form and a zero keep their exponent."""
    cases = {
        "1E-10": "1.00E-10", "1.2E-9": "1.2E-9", "-1.000E-7": "-1.000E-7",
        "0E-10": "0E-10", "12345.6789000000": "12345.6789000000",
        "1.00E-8": "1.00E-8",
    }
    for arrow, collected in cases.items():
        assert str(result._engineering(decimal.Decimal(arrow))) == collected


def test_map_entries_follow_java_hash_map_order():
    """Orders seen from collect() of string-keyed maps built in this key
    order: java.util.HashMap sized for the entries, iterated by bucket."""
    keys = ["key919é", "key838é", "key757é", "key676é", "key595é"]
    seen = {
        3: ["key919é", "key838é", "key757é"],
        4: ["key919é", "key757é", "key838é", "key676é"],
        5: ["key919é", "key757é", "key595é", "key838é", "key676é"],
    }
    for n, order in seen.items():
        items = [(k, i) for i, k in enumerate(keys[:n])]
        got = result._hash_map_order(items, T.StringType())
        assert [k for k, _ in got] == order
    # dates are Integer days: 1969-01-01, 2000-02-02, then 2024-01-01
    days = [dt.date(2024, 1, 1), dt.date(1969, 1, 1), dt.date(2000, 2, 2)]
    got = result._hash_map_order([(d, 0) for d in days], T.DateType())
    assert [d for d, _ in got] == [days[1], days[2], days[0]]
