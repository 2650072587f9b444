"""Where SQL literals, identifiers and comments begin and end, and how a
value is quoted: Spark 4.1's lexical rules (``SqlBaseLexer.g4``,
``SparkParserUtils.unescapeSQLString``), in pure Python.

Everything that decides from SQL text and then hands that text to Spark
(routing, rewrites, read-only checks, ``$n`` binding, literal rendering)
asks this module, so it finds literals and comments where Spark does:
``'...'``/``"..."`` strings with backslash escapes and doubled quotes,
``R'...'`` raw strings, `````...````` identifiers, ``--`` line comments
(a backslash-newline continues one) and nested ``/* */`` comments
(``/*+`` opens a hint, which is code). An unterminated region is flagged
``closed=False`` and runs to the end of the text.
"""

from __future__ import annotations

import re
from typing import NamedTuple

CODE, STRING, IDENT, COMMENT = "code", "string", "identifier", "comment"

# One Spark string literal. Also the string rule of the engine's INSERT
# VALUES cell pattern, so the two can never disagree.
STRING_LITERAL = (
    r"(?<![A-Za-z0-9_])[rR](?:'[^']*'|\"[^\"]*\")"
    r"|'[^'\\]*+(?:(?:\\[\s\S]|'')[^'\\]*+)*'"
    r"|\"[^\"\\]*+(?:(?:\\[\s\S]|\"\")[^\"\\]*+)*\""
)

# The next non-code region; the lookahead lets the regex engine skip code.
# A block comment with a nested ``/*``, or none closing it, matches
# ``nested`` and is depth-counted by :func:`_block_comment_end`; a bare
# opener (``open_*``) is an unterminated region running to the end.
_REGION = re.compile(
    rf"""(?=[rR'"`/-])(?:
     (?P<string>{STRING_LITERAL})
    |(?P<identifier>`[^`]*+(?:``[^`]*+)*`)
    |(?P<comment>--(?:\\\n|[^\r\n])*+\r?\n?
        |/\*(?!\+)(?:[^*/]++|\*(?!/)|/(?!\*))*+\*/)
    |(?P<nested>/\*(?!\+))
    |(?P<open_string>(?:['"]|(?<![A-Za-z0-9_])[rR]['"])[\s\S]*)
    |(?P<open_identifier>`[\s\S]*))""",
    re.X,
)
_BLOCK_EDGE = re.compile(r"/\*(?!\+)|\*/")
_PLACEHOLDER = re.compile(r"\$(\d+)")


class Span(NamedTuple):
    kind: str  # CODE, STRING, IDENT or COMMENT
    start: int
    end: int
    closed: bool = True


def _span(kind: str, start: int, end: int, closed: bool = True) -> Span:
    # tuple.__new__ skips NamedTuple's Python-level constructor, which
    # doubled the lexing time of a 1000-row VALUES list
    return _new_tuple(Span, (kind, start, end, closed))


_new_tuple = tuple.__new__


def spans(sql: str) -> list[Span]:
    """Cover ``sql`` with consecutive code, string, identifier and
    comment spans."""
    out: list[Span] = []
    pos, n = 0, len(sql)
    while pos < n:
        for m in _REGION.finditer(sql, pos):
            start, end = m.span()
            kind, closed = m.lastgroup, True
            if start > pos:
                out.append(_span(CODE, pos, start))
            if kind == "nested":
                end, closed = _block_comment_end(sql, end)
                out.append(_span(COMMENT, start, end, closed))
                pos = end
                break  # lex on from the comment's real end
            if kind.startswith("open_"):
                kind, closed = kind[5:], False
            out.append(_span(kind, start, end, closed))
            pos = end
        else:
            break
    if pos < n:
        out.append(_span(CODE, pos, n))
    return out


def _block_comment_end(sql: str, pos: int) -> tuple[int, bool]:
    """End of the ``/*`` comment whose body starts at ``pos``: nested
    comments count, and an unclosed one runs to the end of the text."""
    depth = 1
    for m in _BLOCK_EDGE.finditer(sql, pos):
        depth += 1 if m.group() == "/*" else -1
        if depth == 0:
            return m.end(), True
    return len(sql), False


def blank(sql: str) -> str:
    """``sql`` with every string, identifier and comment replaced by
    spaces, so keyword scans see code only and offsets stay valid."""
    parts, last = [], 0
    for kind, start, end, _ in spans(sql):
        if kind != CODE:
            parts += (sql[last:start], " " * (end - start))
            last = end
    if not parts:
        return sql
    parts.append(sql[last:])
    return "".join(parts)


def split(sql: str, sep: str = ",", angle: bool = False) -> list[str]:
    """Split at every ``sep`` in code that is not nested inside
    parentheses (or, with ``angle``, inside ``<...>`` as in type
    strings). Raises ValueError on unbalanced brackets."""
    code = blank(sql)
    opens = "(<" if angle else "("
    at_sep = re.compile(re.escape(sep))
    cuts, depth, flat = [-1], 0, 0  # code[flat:] is at depth 0
    for m in re.finditer("[()<>]" if angle else "[()]", code):
        if m.group() in opens:
            if depth == 0:
                cuts += [s.start() for s in at_sep.finditer(code, flat, m.start())]
            depth += 1
        else:
            depth -= 1
            if depth < 0:
                raise ValueError(f"unbalanced brackets in {sql!r}")
            flat = m.end()
    if depth:
        raise ValueError(f"unbalanced brackets in {sql!r}")
    cuts += [s.start() for s in at_sep.finditer(code, flat)]
    cuts.append(len(sql))
    return [sql[a + 1 : b] for a, b in zip(cuts, cuts[1:])]


def split_rows(sql: str) -> list[tuple[int, list[str] | None]]:
    """The rows of a VALUES list. For each row: the offset of its first
    character, and its cells split at top-level commas — or None when
    the row is not one ``(...)`` list. Raises ValueError on unbalanced
    parentheses."""
    # split the text with its literals blanked, so it is lexed once, and
    # read each cell from the original at the same offsets
    code = blank(sql)
    rows: list[tuple[int, list[str] | None]] = []
    pos = 0
    for piece in split(code):
        a = pos + len(piece) - len(piece.lstrip())
        b = pos + len(piece.rstrip())
        pos += len(piece) + 1
        if a == b:
            continue
        inner = code[a + 1 : b - 1]
        if code[a] != "(" or code[b - 1] != ")":
            rows.append((a, None))
            continue
        if "(" in inner or ")" in inner:
            try:
                pieces = split(inner)
            except ValueError:  # (1)(2): balanced, but not one list
                rows.append((a, None))
                continue
        else:  # blanked, so every comma left separates cells
            pieces = inner.split(",") if inner.strip() else []
        cells, c = [], a + 1
        for cell in pieces:
            cells.append(sql[c : c + len(cell)])
            c += len(cell) + 1
        rows.append((a, cells))
    return rows


def matching_paren(sql: str, open_at: int) -> int:
    """Offset of the ``)`` that closes the ``(`` at ``open_at``,
    counting parentheses in code only; -1 if it is never closed."""
    depth = 0
    for m in re.finditer(r"[()]", blank(sql)[open_at:]):
        depth += 1 if m.group() == "(" else -1
        if depth == 0:
            return open_at + m.start()
    return -1


def split_statements_with_offsets(script: str) -> list[tuple[str, int]]:
    """The statements of a script — split at every ``;`` in code — each
    stripped and paired with the offset of its first non-whitespace
    character (the anchor for line/column error positions). Pieces
    holding no code (blank, or comments only) are dropped."""
    code = blank(script)
    cuts = [-1, *(m.start() for m in re.finditer(";", code)), len(script)]
    out: list[tuple[str, int]] = []
    for a, b in zip(cuts, cuts[1:]):
        if code[a + 1 : b].strip():
            piece = script[a + 1 : b]
            out.append((piece.strip(), a + 1 + len(piece) - len(piece.lstrip())))
    return out


def split_statements(script: str) -> list[str]:
    return [s for s, _ in split_statements_with_offsets(script)]


def placeholders(sql: str) -> list[tuple[int, int, int]]:
    """``(start, end, n)`` of every ``$n`` parameter in code, in order —
    a ``$1`` inside a literal or comment is text, not a parameter."""
    return [
        (m.start(), m.end(), int(m.group(1)))
        for m in _PLACEHOLDER.finditer(blank(sql))
    ]


def bind(sql: str, literals: list[str]) -> str:
    """Replace each ``$n`` (1 <= n <= len(literals)) with
    ``literals[n - 1]`` in one left-to-right pass; the replacements are
    never rescanned, so a value containing ``$1`` stays data. Other
    placeholders pass through."""
    out, last = [], 0
    for start, end, n in placeholders(sql):
        if 1 <= n <= len(literals):
            out += (sql[last:start], literals[n - 1])
            last = end
    return "".join(out) + sql[last:]


def quote(value: str) -> str:
    """A string literal that Spark reads back as ``value``."""
    return "'" + value.replace("\\", "\\\\").replace("'", "''") + "'"


_SIMPLE_ESCAPES = {
    "0": "\0", "b": "\b", "n": "\n", "r": "\r", "t": "\t", "Z": "\x1a",
    "%": "\\%", "_": "\\_",
}
_ESCAPES = {
    q: re.compile(
        r"\\(?:u[0-9a-fA-F]{4}|U[0-9a-fA-F]{8}|[01][0-7]{2}|[\s\S])|" + q * 2
    )
    for q in "'\""
}


def _unescape(m: re.Match) -> str:
    t = m.group()
    if t[0] != "\\":
        return t[0]  # a doubled quote
    c = t[1]
    if len(t) == 2:
        return _SIMPLE_ESCAPES.get(c, c)
    if c in "01":
        return chr(int(t[1:], 8))
    cp = int(t[2:], 16)
    if cp <= 0x10FFFF:
        return chr(cp)
    # Java packs an out-of-range \U code point into two 16-bit chars
    cp -= 0x10000
    return chr((0xD800 + cp // 1024) & 0xFFFF) + chr(0xDC00 + cp % 1024)


def unquote(literal: str) -> str:
    """The value of one Spark string literal (quotes included)."""
    q = literal[0]
    if q in "rR":
        return literal[2:-1]
    body = literal[1:-1]
    if "\\" not in body and q * 2 not in body:
        return body
    value = _ESCAPES[q].sub(_unescape, body)
    if "\\u" in body or "\\U" in body:
        # \uD83D\uDE00 is one character in Java's UTF-16 strings
        value = value.encode("utf-16-le", "surrogatepass").decode(
            "utf-16-le", "surrogatepass"
        )
    return value
