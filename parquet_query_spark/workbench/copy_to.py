"""DuckDB ``COPY ... TO`` statements on Spark.

The reference forwards user SQL to DuckDB untouched (src/duckdb.ts:46-49),
so ``COPY (SELECT ...) TO 'out.parquet'`` and ``COPY tbl TO 'out.csv'
(HEADER, DELIMITER ',')`` work there out of the box.  This module parses
the statement shape and executes it with Spark writers:

- default: DuckDB semantics — ONE file at the target path.  The plan
  still executes distributed; only the final write is single-stream
  (``coalesce(1)`` into a temp dir, then the part file is moved to the
  target).  This is exactly DuckDB's own constraint — one writer thread
  per output file.
- ``(PER_THREAD_OUTPUT)`` (DuckDB's parallel-write option): the target
  is a DIRECTORY of part files written fully in parallel by Spark's
  native committer — the form that scales to a cluster.

Formats: CSV (HEADER default true, DELIMITER default ','), PARQUET,
JSON (newline-delimited, DuckDB's ARRAY false default).  Format is
taken from the FORMAT option, else inferred from the path extension.

Returns a 1-row (Count BIGINT) DataFrame, mirroring DuckDB's result.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from parquet_query_spark.workbench.dialect_core import _split_top

_COPY_HEAD = re.compile(r"^\s*COPY\b", re.IGNORECASE)


def is_copy_statement(statement: str) -> bool:
    return bool(_COPY_HEAD.match(statement))


_COPY_TABLE = re.compile(
    r"^\s*COPY\s+(?P<src>\"(?:[^\"]|\"\")+\"|[A-Za-z_][\w$.]*)\s+TO\s+"
    r"'(?P<path>(?:[^']|'')+)'\s*(?:\((?P<opts>.*)\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_COPY_QUERY = re.compile(
    r"^\s*COPY\s*\((?P<query>.*)\)\s*TO\s+"
    r"'(?P<path>(?:[^']|'')+)'\s*(?:\((?P<opts>.*)\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _parse_options(text: str | None) -> dict[str, str]:
    """DuckDB option list: ``FORMAT CSV, HEADER, DELIMITER '|'`` — comma
    separated, each ``KEY [value]``; bare keys mean true."""
    opts: dict[str, str] = {}
    if not text:
        return opts
    for p in _split_top(text):
        p = p.strip()
        if not p:
            continue
        m = re.match(r"([A-Za-z_]+)\s*(.*)$", p, re.DOTALL)
        if not m:
            raise ValueError(f"unparseable COPY option: {p!r}")
        key = m.group(1).upper()
        val = m.group(2).strip().strip("'\"") or "true"
        opts[key] = val
    return opts


_EXT_FORMAT = {
    ".csv": "csv",
    ".parquet": "parquet",
    ".json": "json",
    ".ndjson": "json",
    ".jsonl": "json",
}


def _resolve_format(path: str, opts: dict[str, str]) -> str:
    fmt = opts.get("FORMAT", "").lower()
    if fmt in ("csv", "parquet", "json"):
        return fmt
    ext = os.path.splitext(path)[1].lower()
    if ext in _EXT_FORMAT:
        return _EXT_FORMAT[ext]
    raise ValueError(
        f"COPY TO: cannot infer format for {path!r} — add (FORMAT CSV|PARQUET|JSON)"
    )


def _truthy(val: str) -> bool:
    return val.lower() not in ("false", "0", "off", "no")


def _write(df: DataFrame, path: str, fmt: str, opts: dict[str, str]) -> None:
    per_thread = "PER_THREAD_OUTPUT" in opts and _truthy(opts["PER_THREAD_OUTPUT"])
    writer_df = df if per_thread else df.coalesce(1)
    writer = writer_df.write.mode("overwrite")
    if fmt == "csv":
        writer = writer.option(
            "header", str(_truthy(opts.get("HEADER", "true"))).lower()
        ).option("delimiter", opts.get("DELIMITER", opts.get("DELIM", ",")))
        if "COMPRESSION" in opts:
            writer = writer.option("compression", opts["COMPRESSION"].lower())
    elif fmt == "parquet":
        writer = writer.option(
            "compression", opts.get("COMPRESSION", "snappy").lower()
        )
    if per_thread:
        getattr(writer, fmt)(path)
        return
    # single-file semantics: write to a temp dir, move the one part file
    tmp = tempfile.mkdtemp(prefix="copyto_", dir=os.path.dirname(path) or ".")
    try:
        getattr(writer, fmt)(tmp)
        parts = [f for f in os.listdir(tmp) if f.startswith("part-")]
        if len(parts) != 1:  # coalesce(1) guarantees this; belt and braces
            raise RuntimeError(f"expected one part file, found {parts}")
        if os.path.exists(path):
            os.remove(path)
        shutil.move(os.path.join(tmp, parts[0]), path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run_copy(engine, statement: str) -> DataFrame:
    m = _COPY_QUERY.match(statement) or _COPY_TABLE.match(statement)
    if not m:
        raise ValueError(
            "unsupported COPY statement (expected COPY (query) TO 'path' "
            "or COPY table TO 'path')"
        )
    path = m.group("path").replace("''", "'")
    opts = _parse_options(m.group("opts"))
    fmt = _resolve_format(path, opts)
    groups = m.groupdict()
    if "query" in groups and groups["query"] is not None:
        df = engine.sql(groups["query"])
    else:
        src = groups["src"]
        quoted = src.startswith('"')
        name = src[1:-1].replace('""', '"') if quoted else src
        df = engine.sql(f'SELECT * FROM "{name}"' if quoted else f"SELECT * FROM {name}")
    # ADVICE r7: the Count must be the number of rows actually written,
    # from ONE execution of the source plan — a nondeterministic query
    # (LIMIT without ORDER BY, USING SAMPLE) executed twice could write
    # one set of rows and count another, and a second execution doubles
    # the cost.  The Observation counts the rows flowing into the writer
    # during the write job itself, so the plan runs once and the Count is
    # taken on exactly the rows written, whatever the format.
    rows = Observation()
    _write(df.observe(rows, F.count(F.lit(1)).alias("n")), path, fmt, opts)
    n = rows.get["n"]
    # an inline relation: previewing it runs no job (a createDataFrame
    # row is RDD-backed and runs two)
    return engine.spark.sql(f"SELECT * FROM VALUES (CAST({int(n)} AS BIGINT)) AS t(Count)")
