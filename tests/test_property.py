"""Property-based tests (hypothesis) — a test family the reference lacks
entirely (SURVEY §5 "Absent"): the type parser round-trips arbitrary
nested types, and the statement splitter never loses content."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from ranger_spark.engine import split_statements
from ranger_spark.sqltext import quote
from ranger_spark.types import PRIMITIVES, parse_type

primitive = st.sampled_from([p for p in PRIMITIVES])
decimal = st.tuples(st.integers(1, 38), st.integers(0, 10)).map(
    lambda ps: f"decimal({ps[0]},{min(ps[1], ps[0])})"
)


def type_strings(depth=2):
    base = st.one_of(primitive, decimal)
    if depth == 0:
        return base
    inner = type_strings(depth - 1)
    name = st.text(alphabet="abcdefgh", min_size=1, max_size=4)
    return st.one_of(
        base,
        inner.map(lambda t: f"list<{t}>"),
        st.tuples(inner, inner).map(lambda kv: f"map<{kv[0]},{kv[1]}>"),
        st.lists(st.tuples(name, inner), min_size=1, max_size=3).map(
            lambda fs: "struct<" + ",".join(f"{n}:{t}" for n, t in fs) + ">"
        ),
    )


@given(type_strings())
@settings(max_examples=300, deadline=None)
def test_type_parse_roundtrip(t):
    parsed = parse_type(t)
    # canonical text re-parses to the same Spark type
    again = parse_type(parsed.text)
    assert again.spark == parsed.spark
    assert again.text == parsed.text


# statements made of complete lexemes: code without quote or comment
# openers, quoted strings and identifiers, and closed comments — any of
# which may hold a ';'
_code_text = st.text(
    alphabet=st.characters(
        blacklist_characters=";'\"`-/rR", max_codepoint=0x7E
    ),
    min_size=1,
    max_size=12,
).filter(lambda s: s.strip())
_lexeme = st.one_of(
    _code_text,
    st.text(max_size=10).map(quote),
    st.text(alphabet="ab;'\"-/* ", max_size=8).map(lambda s: f"`{s}`"),
    st.text(alphabet="ab;'\"`/* ", max_size=8).map(lambda s: f"--{s}\n"),
    st.text(alphabet="ab;'\"`- ", max_size=8).map(lambda s: f"/*{s}*/"),
)


@given(
    st.lists(
        st.tuples(_code_text, st.lists(_lexeme, max_size=4)).map(
            lambda t: " ".join([t[0], *t[1]])
        ),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=200, deadline=None)
def test_split_statements_preserves_content(stmts):
    script = ";".join(stmts) + ";"
    out = split_statements(script)
    assert [s.strip() for s in out] == [s.strip() for s in stmts]


@given(st.text(alphabet="abc'; ", max_size=60))
@settings(max_examples=300, deadline=None)
def test_split_statements_never_crashes(script):
    joined = "".join(split_statements(script))
    # no content outside quotes is invented or dropped (modulo separators)
    assert set(joined) <= set(script) | set()


@given(
    st.lists(
        st.tuples(
            st.integers(-(2**31), 2**31 - 1),
            st.text(
                alphabet=st.characters(min_codepoint=32, max_codepoint=0x7E),
                max_size=20,
            ),
        ),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=200, deadline=None)
def test_insert_values_lexer_roundtrip(rows):
    """The INSERT VALUES lexer must recover exactly the literals that were
    quoted in, for arbitrary printable strings (including quotes/commas)."""
    from ranger_spark.engine import Engine

    sql_rows = ", ".join(f"({i}, {quote(s)})" for i, s in rows)
    eng = Engine.__new__(Engine)  # parsing methods don't touch Spark state
    parsed = eng._parse_value_rows(sql_rows)
    assert parsed == [[i, s] for i, s in rows]


def test_validate_script_collects_all_errors():
    from ranger_spark.router import validate_script

    # (VACUUM became executed in round 5, TRUNCATE in round 6 — the
    # corpus uses two still-unknown keywords)
    errs = validate_script(
        "SELECT 1; UPSERT INTO t VALUES (1); FLUSH x; CREATE TABLE t (a int32)"
    )
    assert len(errs) == 3
    assert sum("unsupported statement" in e.message for e in errs) == 2
    # the unterminated tail statement is a gate violation too
    # (reference parser.go:1125-1127)
    assert sum("semicolon" in e.message for e in errs) == 1


@given(
    st.lists(
        st.floats(min_value=0.05, max_value=1.0),
        min_size=1,
        max_size=5,
    ),
    st.integers(min_value=0, max_value=2**40),
)
@settings(max_examples=200, deadline=None)
def test_hash_split_thresholds_partition_the_hash_space(fracs, h):
    """The cumulative integer thresholds hash_split builds must assign any
    hash value to exactly one bucket, for arbitrary normalized fraction
    vectors (pure threshold math — no Spark needed)."""
    total = sum(fracs)
    fractions = {f"b{i}": f / total for i, f in enumerate(fracs)}
    # replicate hash_split's cumulative thresholds
    denom = 1 << 60
    cum, edges = 0.0, []
    items = list(fractions.items())
    for name, frac in items[:-1]:
        cum += frac
        edges.append((name, int(cum * denom)))
    hits = [n for n, t in edges if h < t]
    bucket = hits[0] if hits else items[-1][0]
    # exactly one bucket claims h, and buckets are monotone in the hash
    assert bucket in fractions
    prev = -1
    for _, t in edges:
        assert t >= prev  # thresholds nondecreasing → ranges disjoint
        prev = t


@given(st.integers(min_value=0, max_value=10**12))
@settings(max_examples=200, deadline=None)
def test_uniform_hash60_python_reference_range(doc_id):
    """The md5-uniform construction stays within [0, 2^60) — the integer
    threshold compare in stratified_sample/hash_split can never overflow
    (Python reference of the Spark/DuckDB expression)."""
    import hashlib

    h = int(hashlib.md5(f"samp:{doc_id}".encode()).hexdigest()[:15], 16)
    assert 0 <= h < (1 << 60)


def _starts(n: int, size: int, overlap: int) -> list[int]:
    # python mirror of operators/chunking.chunk_starts
    stride = size - overlap
    last = max(n - overlap - 1, 0)
    return list(range(0, last + 1, stride))


@given(
    st.integers(0, 500),
    st.integers(2, 64),
    st.integers(0, 32),
)
@settings(max_examples=300, deadline=None)
def test_chunk_starts_invariants(n, size, overlap):
    if overlap >= size:
        overlap = size - 1
    ss = _starts(n, size, overlap)
    assert ss and ss[0] == 0
    # fixed stride
    assert all(b - a == size - overlap for a, b in zip(ss, ss[1:]))
    # full coverage: every token index < n falls in some [s, s+size)
    covered = set()
    for s in ss:
        covered |= set(range(s, min(s + size, n)))
    assert covered == set(range(n))
    # no chunk is a suffix-duplicate: each non-first chunk contributes
    # at least one token index beyond the previous chunk's end
    for a, b in zip(ss, ss[1:]):
        assert b + (size - 1) >= a + size
    # stitchability: dropping each non-first chunk's first `overlap`
    # tokens reconstructs [0, n) exactly once, in order
    stitched = list(range(ss[0], min(ss[0] + size, n)))
    for s in ss[1:]:
        stitched += list(range(s + overlap, min(s + size, n)))
    assert stitched == list(range(n))


@given(st.binary(min_size=0, max_size=4000))
@settings(max_examples=200, deadline=None)
def test_wire_compression_envelope_roundtrip(payload):
    from ranger_spark.sources.native_server import (
        COMPRESSION_GZIP,
        COMPRESSION_LZ4,
        COMPRESSION_LZ4HC,
        COMPRESSION_NONE,
        COMPRESSION_ZLIB,
        unwrap_payload,
        wrap_payload,
    )

    for codec in (
        COMPRESSION_NONE, COMPRESSION_ZLIB, COMPRESSION_LZ4,
        COMPRESSION_LZ4HC, COMPRESSION_GZIP,
    ):
        assert unwrap_payload(wrap_payload(codec, payload)) == payload


@given(
    st.lists(
        st.one_of(st.none(), st.text(max_size=20)),
        max_size=8,
    ),
    st.text(
        alphabet="abcdefg 123456789=<>",
        max_size=60,
    ),
)
@settings(max_examples=200, deadline=None)
def test_pgwire_param_substitution_properties(params, base_sql):
    """$n substitution is a SINGLE pass: every placeholder OUTSIDE a
    string literal is replaced exactly once, NULLs become NULL, values
    are quoted as Spark reads them back (``quote``: backslashes and
    quotes escaped), and '$k' text inside a parameter VALUE stays data
    (never re-substituted). (base_sql alphabet excludes quotes — quoted
    regions are covered by the dedicated literal tests below.)"""
    from ranger_spark.sources.pgwire_server import _substitute_params

    sql = base_sql + "".join(f" ${i + 1}" for i in range(len(params)))
    out = _substitute_params(sql, params)
    expect = base_sql + "".join(
        " " + ("NULL" if v is None else quote(v))
        for v in params
    )
    assert out == expect


def test_pgwire_param_value_containing_placeholder_stays_data():
    from ranger_spark.sources.pgwire_server import _substitute_params

    out = _substitute_params("SELECT $1, $2", ["a", "$1"])
    assert out == "SELECT 'a', '$1'"
    # out-of-range placeholders pass through untouched
    assert _substitute_params("SELECT $3", ["a"]) == "SELECT $3"


def test_pgwire_placeholder_inside_literal_is_data():
    """A $n inside a string literal (or quoted identifier) of the
    PREPARED SQL is literal text, not a parameter — substituting it
    would corrupt stored data (ADVICE r6)."""
    from ranger_spark.sources.pgwire_server import (
        _count_params,
        _substitute_params,
    )

    assert _substitute_params("SELECT '$1'", ["x"]) == "SELECT '$1'"
    assert (
        _substitute_params("SELECT '$1', $1", ["x"]) == "SELECT '$1', 'x'"
    )
    # '' escape doubling does not end the literal early
    assert (
        _substitute_params("SELECT 'it''s $1', $1", ["x"])
        == "SELECT 'it''s $1', 'x'"
    )
    # quoted identifiers are skipped too
    assert _substitute_params('SELECT "$1" FROM t', ["x"]) == 'SELECT "$1" FROM t'
    # ParameterDescription: max(n) outside literals, so gaps count
    # positionally ($1,$3 declares 3) and literal $9 is ignored
    assert _count_params("SELECT $1, $3") == 3
    assert _count_params("SELECT '$9', $2") == 2
    assert _count_params("SELECT 'no params'") == 0


@given(st.text(max_size=1024))
@settings(max_examples=100, deadline=None)
def test_bind_message_roundtrip(param_text):
    """Bind wire encoding → _read_bind recovers portal, statement and
    every parameter exactly (UTF-8 text format), NULLs included."""
    from ranger_spark.sources.pgwire_server import _read_bind

    params = [None, param_text, ""]
    import struct as _s

    body = b"p0\x00" + b"st\x00" + _s.pack("!H", 0)
    body += _s.pack("!H", len(params))
    for p in params:
        if p is None:
            body += _s.pack("!i", -1)
        else:
            b = p.encode()
            body += _s.pack("!i", len(b)) + b
    body += _s.pack("!H", 0)
    portal, stmt, got = _read_bind(body)
    assert (portal, stmt) == ("p0", "st")
    assert got == [None, param_text, ""]


@given(st.text(max_size=300))
@settings(max_examples=150, deadline=None)
def test_ulid_parse_rejects_noise(s):
    """parse_ulid never mis-accepts arbitrary text: only 26-char
    Crockford strings parse, and valid ULIDs round-trip through
    parse → re-encode ordering invariants."""
    from ranger_spark.functions.ulid import generate_ulid, parse_ulid

    if len(s) != 26 or any(
        c.upper() not in "0123456789ABCDEFGHJKMNPQRSTVWXYZ" for c in s
    ):
        import pytest as _pytest

        with _pytest.raises(ValueError):
            parse_ulid(s)
    u = generate_ulid()
    ts, rand = parse_ulid(u)
    assert ts >= 0 and 0 <= rand < 1 << 80


@given(
    st.lists(st.text(alphabet="ab #.…\n-", max_size=12), max_size=6)
)
@settings(max_examples=150, deadline=None)
def test_gopher_metric_bounds(parts):
    """Gopher fraction metrics are bounded in [0, 1] and the verdict is
    boolean for arbitrary text shapes (pure Python mirror of the JVM
    expressions — same tokenization, same line split)."""
    text = "\n".join(parts) if parts else "x"
    toks = [t for t in text.strip().split()] or [""]
    lines = text.split("\n")
    alpha = sum(1 for t in toks if any(c.isalpha() for c in t)) / len(toks)
    bullet = sum(
        1 for ln in lines if ln.lstrip()[:1] in ("-", "*", "•")
    ) / len(lines)
    ell = sum(
        1
        for ln in lines
        if ln.rstrip().endswith("...") or ln.rstrip().endswith("…")
    ) / len(lines)
    for v in (alpha, bullet, ell):
        assert 0.0 <= v <= 1.0


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["response", "request", "warcinfo", "metadata"]),
            st.binary(max_size=512),
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=150, deadline=None)
def test_warc_roundtrip_property(records):
    """Any record sequence synthesized per ISO 28500 framing parses back
    with exact types, lengths, and payload digests — including payloads
    that CONTAIN the record separator bytes (Content-Length framing must
    win over delimiter scanning)."""
    import hashlib

    from ranger_spark.operators.warc import parse_warc_bytes

    buf = b"".join(
        (
            f"WARC/1.0\r\nWARC-Type: {t}\r\n"
            f"WARC-Record-ID: <urn:uuid:{i}>\r\n"
            f"Content-Length: {len(p)}\r\n\r\n"
        ).encode() + p + b"\r\n\r\n"
        for i, (t, p) in enumerate(records)
    )
    parsed = parse_warc_bytes(buf)
    assert len(parsed) == len(records)
    for r, (t, p) in zip(parsed, records):
        assert r["rec_type"] == t
        assert r["content_length"] == len(p)
        assert r["payload_md5"] == hashlib.md5(p).hexdigest()


# ---------------------------------------------------------------- aHash


def _mk_bmp(width, height, pixels):
    """Minimal 24bpp bottom-up BMP from [(b,g,r), ...] row-major
    top-down pixel list."""
    row_size = (width * 3 + 3) & ~3
    body = bytearray()
    for img_row in range(height - 1, -1, -1):  # file stores bottom-up
        row = bytearray()
        for x in range(width):
            b, g, r = pixels[img_row * width + x]
            row += bytes((b, g, r))
        row += b"\x00" * (row_size - len(row))
        body += row
    header = (
        b"BM" + b"\x00" * 8 + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + width.to_bytes(4, "little") + height.to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + b"\x00" * 24
    )
    return bytes(header + body)


@given(
    st.integers(1, 5),
    st.integers(1, 5),
    st.data(),
)
@settings(max_examples=60, deadline=None)
def test_bmp_average_hash_properties(w, h, data):
    from ranger_spark.operators.multimodal import bmp_average_hash

    n = w * h
    pixels = data.draw(
        st.lists(
            st.tuples(
                st.integers(0, 255), st.integers(0, 255), st.integers(0, 255)
            ),
            min_size=n,
            max_size=n,
        )
    )
    out = bmp_average_hash(_mk_bmp(w, h, pixels))
    assert out is not None
    phash, np_ = out
    assert np_ == n
    assert 0 <= phash < (1 << n)
    # a constant image has NO pixel strictly above the mean → hash 0
    flat = bmp_average_hash(_mk_bmp(w, h, [(9, 9, 9)] * n))
    assert flat == (0, n)
    # the hash depends only on pixel content, not on payload framing:
    # identical pixels → identical hash (determinism)
    assert bmp_average_hash(_mk_bmp(w, h, pixels)) == out


@given(st.binary(max_size=60))
@settings(max_examples=120, deadline=None)
def test_bmp_average_hash_never_crashes_on_garbage(payload):
    from ranger_spark.operators.multimodal import bmp_average_hash

    out = bmp_average_hash(payload)
    assert out is None or (isinstance(out, tuple) and len(out) == 2)


@given(st.text(max_size=200))
@settings(max_examples=200, deadline=None)
def test_copy_text_escape_roundtrip_property(s):
    """PG COPY text escapes (r8): escape→unescape is the identity for
    ANY string — control chars, backslashes, lone surrogates excluded by
    st.text() already; the escaped form never contains a raw tab or
    newline (the framing characters)."""
    from ranger_spark.sources.pgwire_server import (
        _escape_copy_text,
        _unescape_copy_text,
    )

    import pyarrow as pa

    esc = _escape_copy_text(pa.array([s]))[0].as_py()
    assert "\t" not in esc and "\n" not in esc and "\r" not in esc
    assert _unescape_copy_text(esc) == s


@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.text(max_size=40)),
            st.one_of(st.none(), st.text(max_size=40)),
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=100, deadline=None)
def test_copy_text_rows_roundtrip_property(rows):
    """Full COPY text round-trip: rows → _copy_out-style framing →
    _parse_copy_rows recovers values and NULLs exactly."""
    from ranger_spark.sources.pgwire_server import (
        _escape_copy_text,
        _parse_copy_rows,
    )

    import pyarrow as pa

    payload = "".join(
        "\t".join(
            "\\N" if v is None else _escape_copy_text(pa.array([v]))[0].as_py()
            for v in row
        )
        + "\n"
        for row in rows
    ).encode()
    assert _parse_copy_rows(payload, "text", 2) == [tuple(r) for r in rows]
