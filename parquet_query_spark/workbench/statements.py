"""Statement lexing/splitting — reference operator A6.

Semantics re-expressed 1:1 from ``/root/reference/src/App.tsx:66-151``
(``statementAtPosition``): the buffer is lexed with awareness of
single-quoted strings (``''`` escape), double-quoted identifiers (``""``
escape), ``--`` line comments and ``/* */`` block comments; ``;`` outside all
of those splits statements.  The statement containing the cursor wins; if it
is blank, the nearest non-empty statement before (then after) it runs.

This module also owns the ``FROM 'path'`` table-literal rewrite (B4): DuckDB
accepts a quoted file path as a table reference; Spark SQL's native spelling
is ``format.`path```.  The rewrite reads the text through the dialect shim's
lexer (``dialect_core._lex``), which also knows backtick identifiers and
dollar strings, so paths inside comments, identifiers or ordinary string
literals are never touched (SURVEY §7 hard part (c)).  The splitter above
keeps A6's own rules: the reference splits on ``;`` knowing neither.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable
from dataclasses import dataclass

from parquet_query_spark.workbench.dialect_core import CODE, STRING, _lex


@dataclass(frozen=True)
class Segment:
    start: int
    end: int


def _lex_segments(sql: str) -> list[Segment]:
    segments: list[Segment] = []
    start = 0
    in_single = in_double = in_line = in_block = False
    i = 0
    n = len(sql)
    while i < n:
        ch = sql[i]
        nxt = sql[i + 1] if i + 1 < n else ""
        if in_line:
            if ch == "\n":
                in_line = False
        elif in_block:
            if ch == "*" and nxt == "/":
                in_block = False
                i += 1
        elif in_single:
            if ch == "'" and nxt == "'":
                i += 1
            elif ch == "'":
                in_single = False
        elif in_double:
            if ch == '"' and nxt == '"':
                i += 1
            elif ch == '"':
                in_double = False
        elif ch == "-" and nxt == "-":
            in_line = True
            i += 1
        elif ch == "/" and nxt == "*":
            in_block = True
            i += 1
        elif ch == "'":
            in_single = True
        elif ch == '"':
            in_double = True
        elif ch == ";":
            segments.append(Segment(start, i))
            start = i + 1
        i += 1
    segments.append(Segment(start, n))
    return segments


def split_statements(sql: str) -> list[str]:
    """All non-empty ``;``-separated statements, in order (B27)."""
    return [s for seg in _lex_segments(sql) if (s := sql[seg.start : seg.end].strip())]


def statement_at_position(sql: str, position: int) -> str:
    """The statement under the cursor, else nearest non-empty (A6)."""
    segments = _lex_segments(sql)
    pos = max(0, min(position, len(sql)))
    idx = next(
        (i for i, s in enumerate(segments) if s.start <= pos <= s.end),
        len(segments) - 1,
    )

    def pick(i: int) -> str:
        return sql[segments[i].start : segments[i].end].strip()

    if pick(idx):
        return pick(idx)
    for j in range(idx - 1, -1, -1):
        if pick(j):
            return pick(j)
    for j in range(idx + 1, len(segments)):
        if pick(j):
            return pick(j)
    return ""


def has_executable_text(statement: str) -> bool:
    """True if anything other than whitespace/comments remains — a
    comment-only "statement" is not runnable (both engines reject it)."""
    i = 0
    n = len(statement)
    while i < n:
        ch = statement[i]
        nxt = statement[i + 1] if i + 1 < n else ""
        if ch == "-" and nxt == "-":
            while i < n and statement[i] != "\n":
                i += 1
        elif ch == "/" and nxt == "*":
            i += 2
            while i < n - 1 and not (statement[i] == "*" and statement[i + 1] == "/"):
                i += 1
            i += 1
        elif not ch.isspace():
            return True
        i += 1
    return False


_FORMAT_BY_SUFFIX = {
    ".parquet": "parquet",
    ".csv": "csv",
    ".json": "json",
    ".ndjson": "json",
}

# a single-quoted literal in table position, i.e. right after FROM or JOIN
_TABLE_REF_KEYWORD = re.compile(r"(?:\bfrom\b|\bjoin\b)\s*$", re.IGNORECASE)
_CLOSED_LITERAL = re.compile(r"'(?:[^']|'')*'")


def _spark_path_ref(
    path: str,
    root: str | None,
    registered: dict[str, str] | None,
    path_view: Callable[[str, str], str | None] | None = None,
) -> str | None:
    if registered and path in registered:
        # imported file: its per-file view carries the right reader options
        # (csv header/multiline, json multiline, nanos repair)
        return f"`{registered[path]}`"
    lower = path.lower()
    fmt = next(
        (f for suf, f in _FORMAT_BY_SUFFIX.items() if lower.endswith(suf)), None
    )
    if fmt is None:
        return None
    abs_path = path if os.path.isabs(path) else os.path.join(root or ".", path)
    view = path_view(abs_path, fmt) if path_view is not None else None
    if view is not None:
        return f"`{view}`"
    escaped = abs_path.replace("`", "``")
    return f"{fmt}.`{escaped}`"


def rewrite_path_tables(
    sql: str,
    root: str | None = None,
    registered: dict[str, str] | None = None,
    path_view: Callable[[str, str], str | None] | None = None,
) -> str:
    """Rewrite ``FROM 'file.parquet'`` → ``FROM parquet.`/abs/file.parquet```.

    Lexer-aware: only single-quoted literals in table position (immediately
    after FROM/JOIN, outside comments/other strings) are rewritten, and only
    when the literal looks like a supported data file (A3 suffix set).
    A literal that names no ``registered`` file goes to ``path_view(abs_path,
    fmt)`` (``Engine._path_view``): the temp view it returns is referenced
    instead of a bare ``format.`path``` scan, which stays the fallback when
    it returns None.
    """
    out: list[str] = []
    code_before = ""
    for kind, start, end in _lex(sql):
        token = sql[start:end]
        ref = None
        # an unclosed literal runs to the end of the text: it stays as it
        # is, for the parser to reject
        if (
            kind == STRING
            and _TABLE_REF_KEYWORD.search(code_before)
            and _CLOSED_LITERAL.fullmatch(token)
        ):
            ref = _spark_path_ref(token[1:-1].replace("''", "'"), root, registered, path_view)
        out.append(token if ref is None else ref)
        code_before = token if kind == CODE else ""
    return "".join(out)
