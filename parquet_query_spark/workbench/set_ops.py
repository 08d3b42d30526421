"""DuckDB ``UNION [ALL] BY NAME`` (src/duckdb.ts:46-49 pass-through).

Spark SQL has no BY NAME spelling (the engine-side equivalent is
``DataFrame.unionByName(allowMissingColumns=True)``), so the statement is
split at its top-level ``UNION [ALL] BY NAME`` separators, each branch
runs through ``Engine.sql`` (so nested dialect constructs keep working),
and the results fold left with ``unionByName`` — missing columns become
NULL, column order is the left branch's schema then new names appended,
exactly DuckDB's output (probed: ``SELECT 2 AS b, 1 AS a UNION BY NAME
SELECT 1 AS a, 2 AS b`` → columns ``b, a``, one row after dedup).

A top-level ``ORDER BY`` / ``LIMIT`` / ``OFFSET`` tail after the last
branch belongs to the whole union (standard SQL reading); it is cut off
and applied over the combined result through a temp view with a fresh
name, dropped once the tail is analysed (``session.temp_view``).

Mixed top-level set ops fold LEFT in statement order, dispatching BY
NAME vs positional per separator (probed: ``SELECT 1 AS a UNION BY NAME
SELECT 1 AS a UNION ALL SELECT 1 AS a`` → two rows, i.e. the left-assoc
``(A ∪byname B) UNION ALL C``, and ``A UNION ALL A UNION BY NAME A`` →
one row).  ``INTERSECT`` binds TIGHTER than UNION/EXCEPT (probed:
``1 UNION 2 INTERSECT 2`` → ``[1, 2]``), so INTERSECT separators stay
inside their branch text and Spark SQL applies the same precedence.
DuckDB's parser (bundled build) rejects ``INTERSECT BY NAME`` /
``EXCEPT BY NAME``.  A top-level ``EXCEPT`` immediately after ``*`` is
the star-expansion ``* EXCEPT (cols)`` form, not a set op, and is left
in the branch.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from parquet_query_spark.session import temp_view
from parquet_query_spark.workbench.dialect_core import _brackets, _code_mask, _keyword_matches

_UNION_BY_NAME = r"\bUNION\s+(ALL\s+)?BY\s+NAME\b"
# Every separator at UNION's precedence level (INTERSECT binds tighter
# and is intentionally absent — it stays inside the branch text).
_SET_SEP = (
    r"\b(?P<op>UNION|EXCEPT)\b(?P<all>\s+ALL\b)?(?P<byname>\s+BY\s+NAME\b)?"
)
_TAIL_KW = r"\bORDER\s+BY\b|\bLIMIT\b|\bOFFSET\b"

INSERT_BY_NAME = re.compile(
    r"^\s*INSERT\s+INTO\s+([A-Za-z_][\w.]*)\s+BY\s+NAME\b(.*)$",
    re.IGNORECASE | re.DOTALL,
)


def run_insert_by_name(engine, sql: str) -> DataFrame:
    """DuckDB ``INSERT INTO t BY NAME <query>`` — the query's output
    columns match the target by NAME, any unmentioned target column
    fills with NULL (probed).  Spark's column-list INSERT has exactly
    those semantics, so the query runs through ``Engine.sql`` (keeping
    every dialect construct) and lands via
    ``INSERT INTO t (cols) SELECT * FROM <temp view>``."""
    m = INSERT_BY_NAME.match(sql)
    table, query = m.group(1), m.group(2).strip().rstrip(";")
    df = engine.sql(query)
    cols = ", ".join(f"`{c}`" for c in df.columns)
    with temp_view(df, "insert_by_name") as view:
        return engine.spark.sql(f"INSERT INTO {table} ({cols}) SELECT * FROM {view}")


def _top_level_matches(sql: str, pattern: str) -> list[re.Match]:
    mask = _code_mask(sql)
    depths = _brackets(sql).depth
    return [
        m for m in _keyword_matches(sql, mask, pattern) if depths[m.start()] == 0
    ]


def has_union_by_name(sql: str) -> bool:
    return bool(_top_level_matches(sql, _UNION_BY_NAME))


def _is_star_except(sql: str, mask: list[bool], m: re.Match) -> bool:
    """``* EXCEPT (cols)`` star expansion, not a set op: the previous
    non-space code character is ``*``."""
    if m.group("op").upper() != "EXCEPT":
        return False
    i = m.start() - 1
    while i >= 0 and (not mask[i] or sql[i].isspace()):
        i -= 1
    return i >= 0 and sql[i] == "*"


def run_union_by_name(engine, sql: str) -> DataFrame:
    mask = _code_mask(sql)
    seps = [
        m
        for m in _top_level_matches(sql, _SET_SEP)
        if not _is_star_except(sql, mask, m)
    ]
    branches: list[str] = []
    ops: list[tuple[str, bool, bool]] = []  # (op, is_all, by_name)
    pos = 0
    for m in seps:
        branches.append(sql[pos : m.start()])
        ops.append(
            (
                m.group("op").upper(),
                bool(m.group("all")),
                bool(m.group("byname")),
            )
        )
        pos = m.end()
    last = sql[pos:]
    tail = ""
    tails = _top_level_matches(last, _TAIL_KW)
    if tails:
        tail = last[tails[0].start() :].strip().rstrip(";")
        last = last[: tails[0].start()]
    branches.append(last)

    combined = engine.sql(branches[0])
    for (op, is_all, by_name), branch in zip(ops, branches[1:]):
        other = engine.sql(branch)
        if op == "EXCEPT":
            if by_name:  # DuckDB's parser rejects this too
                raise ValueError("EXCEPT BY NAME is not supported")
            combined = (
                combined.exceptAll(other) if is_all else combined.subtract(other)
            )
        elif by_name:
            combined = combined.unionByName(other, allowMissingColumns=True)
            if not is_all:
                combined = combined.distinct()
        else:
            combined = combined.union(other)
            if not is_all:
                combined = combined.distinct()
    if tail:
        # through engine.sql so the tail gets the dialect treatment too
        # (NULLS LAST alignment, function renames, ...)
        with temp_view(combined, "union_by_name") as view:
            return engine.sql(f"SELECT * FROM {view} {tail}")
    return combined
