"""Engine facade — the reference workbench's query lifecycle on Spark.

Re-expresses the run path of ``/root/reference/src/App.tsx:424-446``:
statement selection (A6) → dispatch (A7, ``spark.sql``) → 200-row preview +
true count (A10) → canonical cell text (A14) → optional client-side
filter/sort over the *displayed* rows only (A11/A12).

Deliberate scale improvement kept from SURVEY §2.A10: the reference
materializes the FULL result and then slices 200 rows; here the preview is
``df.limit(200)`` (pushed into the plan — TakeOrderedAndProject / CollectLimit)
plus a separate ``count()``, so a 100 TB result never lands on the driver.
"""

from __future__ import annotations

import hashlib
import os
import re
import uuid
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

from parquet_query_spark.session import get_spark
from parquet_query_spark.sources.registry import (
    parquet_glob,
    read_parquet,
    reader_for,
    register_folder,
)
from parquet_query_spark.workbench.csv_sink import export_csv, write_csv_distributed
from parquet_query_spark.workbench.dialect import analyze_dialect
from parquet_query_spark.workbench.dialect_core import _brackets, _code_mask

_ORDER_ALL_TAIL = re.compile(
    r"\bORDER\s+BY\s+ALL"
    r"(?:\s+(?P<dir>ASC|DESC))?"
    r"(?:\s+NULLS\s+(?P<nulls>FIRST|LAST))?"
    r"(?:\s+LIMIT\s+(?P<limit>\d+))?"
    r"(?:\s+OFFSET\s+(?P<offset>\d+))?"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
# CREATE [OR REPLACE] TABLE <name> AS <body> — decomposed in sql() (the
# v1 catalog cannot REPLACE TABLE AS SELECT; PIVOT bodies need routing).
_CREATE_TABLE_AS = re.compile(
    r"(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+"
    r"(IF\s+NOT\s+EXISTS\s+)?(`[^`]+`|[A-Za-z_]\w*)\s+AS\s+(\S[\s\S]*)$"
)
from parquet_query_spark.workbench.formatting import format_cell
from parquet_query_spark.workbench.summarize import (
    summarize,
    summarize_statement_body,
)
from parquet_query_spark.workbench.statements import (
    has_executable_text,
    rewrite_path_tables,
    split_statements,
    statement_at_position,
)

PREVIEW_LIMIT = 200  # src/App.tsx:435


@dataclass
class Result:
    """Preview tuple the reference UI consumes (columns, rows, true count)."""

    columns: list[str]
    rows: list[list[str]]  # ≤ PREVIEW_LIMIT, formatCell-canonical strings
    num_rows: int
    df: DataFrame = field(repr=False, default=None)


_NUMERIC = re.compile(r"^-?\d+(\.\d+)?$")
_DIGIT_RUN = re.compile(r"(\d+)")


def _parse_dateish(value: str) -> float | None:
    """``Date.parse`` stand-in (src/App.tsx:466-470).

    Accepts the formats the workbench renders (ISO dates/timestamps,
    optional trailing Z) plus RFC-2822 strings ("Tue, 01 Nov 2016
    08:00:00 GMT"), which JS ``Date.parse`` also parses — relevant only
    to post-preview client sort of string cells that LOOK like dates."""
    import datetime as _dt

    try:
        return _dt.datetime.fromisoformat(value.rstrip("Z")).timestamp()
    except ValueError:
        pass
    try:
        from email.utils import parsedate_to_datetime

        return parsedate_to_datetime(value).timestamp()
    except (ValueError, TypeError):
        return None


def _natural_parts(value: str) -> list[str | int]:
    return [
        int(p) if p.isdigit() else p
        for p in _DIGIT_RUN.split(value.lower())
        if p != ""
    ]


def _compare_cells(a_raw: str, b_raw: str) -> int:
    """Pairwise comparator of ``compareCells`` (src/App.tsx:456-480):
    values are trimmed first; both-numeric compares numerically;
    both-date-hinted compares by parsed date; empties sort last; otherwise
    a case-insensitive natural compare (digit runs as integers, matching
    ``localeCompare(..., {numeric: true, sensitivity: 'base'})`` — so
    'a2' sorts before 'a10').  Mixed-type cells fall through the pairwise
    rules exactly as the reference does, instead of ordering by type class."""
    a, b = a_raw.strip(), b_raw.strip()
    if a == "" and b == "":
        return 0
    if a == "":
        return 1
    if b == "":
        return -1

    if _NUMERIC.match(a) and _NUMERIC.match(b):
        an, bn = float(a), float(b)
        return (an > bn) - (an < bn)

    a_hint = "-" in a or "T" in a or ":" in a
    b_hint = "-" in b or "T" in b or ":" in b
    if a_hint and b_hint:
        at, bt = _parse_dateish(a), _parse_dateish(b)
        if at is not None and bt is not None:
            return (at > bt) - (at < bt)

    for pa, pb in zip(_natural_parts(a), _natural_parts(b)):
        if pa == pb:
            continue
        if isinstance(pa, int) and isinstance(pb, int):
            return (pa > pb) - (pa < pb)
        sa, sb = str(pa), str(pb)
        return (sa > sb) - (sa < sb)
    la, lb = len(_natural_parts(a)), len(_natural_parts(b))
    return (la > lb) - (la < lb)


def filter_rows(rows: list[list[str]], needle: str) -> list[list[str]]:
    """A11 — case-insensitive substring match across displayed cells only."""
    if not needle:
        return rows
    low = needle.lower()
    return [r for r in rows if any(low in c.lower() for c in r)]


def sort_rows(
    rows: list[list[str]], columns: list[str], column: str, direction: str = "asc"
) -> list[list[str]]:
    """A12 — stable sort of displayed rows by one column (asc/desc).

    Mirrors the reference's sortedTable (src/App.tsx:492-501): the pairwise
    comparator result is direction-multiplied and ties keep original row
    order regardless of direction (Python's stable sort gives exactly
    that)."""
    if column not in columns or direction not in ("asc", "desc"):
        return rows
    idx = columns.index(column)
    import functools

    mul = -1 if direction == "desc" else 1
    cmp = functools.cmp_to_key(lambda ra, rb: mul * _compare_cells(ra[idx], rb[idx]))
    return sorted(rows, key=cmp)


class Engine:
    """``Engine.open(folder)`` → ``run(sql)`` — the reference workbench on Spark."""

    def __init__(self, spark: SparkSession | None = None, root: str | None = None):
        self.spark = spark or get_spark()
        self.root = root
        self.registry: dict[str, DataFrame] = {}
        self.table_name: str | None = None
        # CREATE MACRO session objects (workbench/macros.py)
        self.macros: dict = {}
        self.prepared: dict = {}
        # path-literal scan views (_path_view), by the files they cover
        self._path_views: dict[tuple, str] = {}

    @classmethod
    def open(
        cls,
        folder: str,
        table_name: str | None = None,
        spark: SparkSession | None = None,
    ) -> "Engine":
        eng = cls(spark=spark, root=folder)
        eng.registry = register_folder(eng.spark, folder, table_name)
        eng.table_name = table_name
        return eng

    def _path_view(self, abs_path: str, fmt: str) -> str | None:
        """The temp view a path literal that names no registered file reads
        through, or None to keep Spark's own ``format.`path``` scan.

        A parquet literal (a file or a ``*``/``?`` glob) reads its files
        with their footer schemas; a csv/json file reads with DuckDB-style
        sniffed options (header, delimiter, json array form), which a bare
        ``csv.`path``` scan lacks.  The view is registered once per distinct
        file set — keyed by each file's (path, mtime_ns, size), so a
        rewritten or added file gets a new view — and cached on this
        engine, so a repeated statement, and each retry of it, pays no
        schema inference.  The name is a digest of that key: two
        engines on one session register the same files under the same name
        and never each other's."""
        if fmt == "parquet":
            files = parquet_glob(abs_path)
        else:
            files = [abs_path] if os.path.isfile(abs_path) else None
        if not files:
            return None

        def stamp(path: str) -> tuple[str, int, int]:
            st = os.stat(path)
            return path, st.st_mtime_ns, st.st_size

        try:
            key = (fmt, *map(stamp, files))
        except OSError:  # removed since it was listed
            return None
        view = self._path_views.get(key)
        if view is None:
            view = "__path_scan_" + hashlib.sha1(repr(key).encode()).hexdigest()[:16]
            if fmt != "parquet":
                df = reader_for(self.spark, abs_path, sniff=True)
            else:
                try:
                    df = read_parquet(self.spark, files)
                except Py4JJavaError:
                    # an unreadable footer, incompatible files: Spark's
                    # own scan reports it, as it always has
                    return None
            df.createOrReplaceTempView(view)
            self._path_views[key] = view
        return view

    # A7 — materializing execute
    def _order_by_all_tail(self, statement: str) -> DataFrame | None:
        """Handle a TOP-LEVEL trailing ``ORDER BY ALL [ASC|DESC] [NULLS
        FIRST|LAST] [LIMIT n] [OFFSET n]``: run the head, then sort every
        output column through the DataFrame API with DuckDB's NULLS LAST
        default.  Returns None when the statement has no such tail."""
        m = _ORDER_ALL_TAIL.search(statement)
        if m is None:
            return None
        mask = _code_mask(statement)
        if not all(mask[m.start() : m.start() + 5]) or _brackets(statement).depth[m.start()]:
            return None
        head = statement[: m.start()].rstrip()
        if not head:
            return None
        df = self.sql(head)
        desc = (m.group("dir") or "").upper() == "DESC"
        nulls_first = (m.group("nulls") or "LAST").upper() == "FIRST"
        # MAP-bearing columns are unorderable in Spark
        # (INVALID_ORDERING_TYPE) at ANY nesting depth — a bare MAP, an
        # array<map>, a struct carrying a map field (fuzz v6 seed 94153
        # over nested3) — but DuckDB compares them all by INSERTION-ORDER
        # entry list (probed r11: MAP(['a','z'],[9,9]) <
        # MAP(['b','a'],[1,1]) — positional, NOT key-sorted;
        # shorter-prefix is smaller, matching Spark's array comparison).
        # Convert recursively from the SCHEMA (no trial plan): every MAP
        # becomes its map_entries list — Spark preserves stored entry
        # order — with key/value converted in turn; arrays map the
        # conversion over elements; structs rebuild with converted fields
        # (NULL-guarded: F.struct would turn a NULL struct into a
        # struct-of-NULLs and misrank it).  NULL-valued entries compare
        # smallest here, NULL there — intentional difference #21's
        # element-null class.
        from pyspark.sql import functions as F
        from pyspark.sql.types import ArrayType, MapType, StructType

        def _dir(col):
            if desc:
                return col.desc_nulls_first() if nulls_first else col.desc_nulls_last()
            return col.asc_nulls_first() if nulls_first else col.asc_nulls_last()

        def _contains_map(dt) -> bool:
            if isinstance(dt, MapType):
                return True
            if isinstance(dt, ArrayType):
                return _contains_map(dt.elementType)
            if isinstance(dt, StructType):
                return any(_contains_map(f.dataType) for f in dt.fields)
            return False

        def _orderable(col, dt):
            if isinstance(dt, MapType):
                return F.transform(
                    F.map_entries(col),
                    lambda e: F.struct(
                        _orderable(e["key"], dt.keyType).alias("key"),
                        _orderable(e["value"], dt.valueType).alias("value"),
                    ),
                )
            if isinstance(dt, ArrayType) and _contains_map(dt.elementType):
                return F.transform(col, lambda x: _orderable(x, dt.elementType))
            if isinstance(dt, StructType) and _contains_map(dt):
                rebuilt = F.struct(
                    *[
                        _orderable(col[f.name], f.dataType).alias(f.name)
                        for f in dt.fields
                    ]
                )
                return F.when(col.isNotNull(), rebuilt)
            return col

        keys = [
            _dir(_orderable(df[f.name], f.dataType)) for f in df.schema.fields
        ]
        if keys:
            df = df.orderBy(*keys)
        if m.group("offset"):
            df = df.offset(int(m.group("offset")))
        if m.group("limit"):
            df = df.limit(int(m.group("limit")))
        return df

    def sql(self, statement: str) -> DataFrame:
        from parquet_query_spark.sources.registry import assign_view_names

        # Same insertion-ordered assignment as register_folder, so collided
        # paths resolve to the suffixed view that was actually registered.
        # The dialect shim runs first (QUALIFY / * EXCLUDE / strftime —
        # DuckDB conveniences the reference gets for free from its
        # pass-through, src/duckdb.ts:46-49), then the path-literal
        # rewrite re-lexes the transformed text.
        registered = assign_view_names(self.registry)
        # Comments out first: every routing check and rewrite pass below
        # matches token adjacency with \s+, so a comment between tokens
        # either defeats the match (silent wrong answer: ^ left as XOR) or
        # corrupts the splice (r8 mutation-fuzz findings).  Stripping is
        # safe — comments are semantically neutral in both engines.
        from parquet_query_spark.workbench.dialect_core import (
            _unquote_function_names,
            strip_comments,
        )

        statement = _unquote_function_names(strip_comments(statement))
        # DuckDB CREATE/DROP MACRO — session objects on this Engine; every
        # later statement sees its calls expanded before any other pass.
        from parquet_query_spark.workbench.macros import (
            drop_macro,
            expand_macros,
            is_create_macro,
            is_drop_macro,
            register_macro,
        )

        if is_create_macro(statement):
            register_macro(self.macros, statement)
            return self.spark.sql("SELECT CAST(NULL AS BIGINT) AS Count WHERE false")
        if is_drop_macro(statement):
            drop_macro(self.macros, statement)
            return self.spark.sql("SELECT CAST(NULL AS BIGINT) AS Count WHERE false")
        # DuckDB PREPARE/EXECUTE/DEALLOCATE + transaction markers (r9) —
        # session objects like macros; EXECUTE re-enters sql() so the
        # expanded body gets the full routing (PIVOT, COPY, macros, ...).
        from parquet_query_spark.workbench.prepared import (
            deallocate,
            expand_execute,
            is_deallocate,
            is_execute,
            is_prepare,
            is_transaction_stmt,
            register_prepared,
        )

        if is_transaction_stmt(statement):
            return self.spark.sql("SELECT CAST(NULL AS BIGINT) AS Count WHERE false")
        if is_prepare(statement):
            register_prepared(self.prepared, statement)
            return self.spark.sql("SELECT CAST(NULL AS BIGINT) AS Count WHERE false")
        if is_deallocate(statement):
            deallocate(self.prepared, statement)
            return self.spark.sql("SELECT CAST(NULL AS BIGINT) AS Count WHERE false")
        if is_execute(statement):
            return self.sql(expand_execute(self.prepared, statement))
        pre_macro_statement = statement
        # DuckDB CREATE [OR REPLACE] TABLE <n> AS <body> (r11): Spark's
        # v1 session catalog rejects REPLACE TABLE AS SELECT outright
        # (probed: UNSUPPORTED_FEATURE.TABLE_OPERATION even for a fresh
        # name), and a PIVOT / ORDER BY ALL / COLUMNS(...) body never
        # reaches this engine's statement routing when Spark parses the
        # CTAS natively.  Decompose: the body re-enters sql() (full
        # routing), then writes via saveAsTable — mode("ignore") under
        # IF NOT EXISTS, default error-if-exists otherwise (DuckDB's
        # duplicate error analog).  Matched on the PRE-macro text (the
        # CTAS prefix is literal syntax a macro call can never produce)
        # so the nested sql() receives the raw body and run_pivot's
        # pre-expansion implicit-group judgment still applies (r12).
        m_ctas = _CREATE_TABLE_AS.match(pre_macro_statement)
        if m_ctas:
            name = m_ctas.group(3).strip("`")
            df = self.sql(m_ctas.group(4))
            if m_ctas.group(1):
                # OR REPLACE must snapshot-then-swap, not drop-then-write:
                # DuckDB snapshots the body first, so ``CREATE OR REPLACE
                # TABLE t AS SELECT ... FROM t`` is legal — and Spark's
                # DataFrame is lazy, so dropping t before saveAsTable
                # would both fail the write and destroy the original
                # (r12, ADVICE).  Materialize to a unique staging table,
                # then drop + catalog-rename; a failed body never touches
                # the target.
                q = f"`{name.replace('`', '``')}`"
                # a fresh name per statement: a per-process counter would
                # reuse the warehouse dir a process that died mid-swap left
                tmp = f"__ctas_swap_{uuid.uuid4().hex}"
                df.write.saveAsTable(tmp)
                # Swap via rename-to-backup, NOT drop-then-rename (r12
                # VERDICT #2): the old DROP+RENAME had a window where a
                # failed RENAME after a successful DROP lost BOTH copies
                # (the original was dropped, the except path dropped the
                # staging table).  Moving the original aside first means a
                # failed promotion can always restore it.
                bak = f"{tmp}_bak"
                had_target = self.spark.catalog.tableExists(name)
                try:
                    if had_target:
                        self.spark.sql(f"ALTER TABLE {q} RENAME TO `{bak}`")
                except Exception:
                    self.spark.sql(f"DROP TABLE IF EXISTS `{tmp}`")
                    raise
                try:
                    self.spark.sql(f"ALTER TABLE `{tmp}` RENAME TO {q}")
                except Exception as promote_err:
                    # promotion failed: restore the original, then (only
                    # if the target exists again) drop the staged copy —
                    # never delete the last surviving copy of the data
                    if had_target:
                        try:
                            self.spark.sql(f"ALTER TABLE `{bak}` RENAME TO {q}")
                        except Exception:
                            # original survives only under the internal
                            # backup name — say so, or the data looks lost
                            # (ADVICE r13)
                            if self.spark.catalog.tableExists(name):
                                self.spark.sql(f"DROP TABLE IF EXISTS `{tmp}`")
                            raise RuntimeError(
                                f"CREATE OR REPLACE promotion AND restore "
                                f"both failed for table {name!r}; the "
                                f"original data survives under backup "
                                f"table `{bak}`"
                            ) from promote_err
                    if self.spark.catalog.tableExists(name):
                        self.spark.sql(f"DROP TABLE IF EXISTS `{tmp}`")
                    raise
                if had_target:
                    # The swap has SUCCEEDED: a failure cleaning up the
                    # backup must not surface as a CTAS error (ADVICE
                    # r13) — log and continue; the backup is re-usable
                    # disk, not correctness.
                    try:
                        self.spark.sql(f"DROP TABLE IF EXISTS `{bak}`")
                    except Exception:
                        import logging

                        logging.getLogger(__name__).warning(
                            "CREATE OR REPLACE %s succeeded but dropping "
                            "backup table `%s` failed; it can be dropped "
                            "manually",
                            name,
                            bak,
                        )
            elif m_ctas.group(2):
                df.write.mode("ignore").saveAsTable(name)
            else:
                df.write.saveAsTable(name)
            return self.spark.sql("SELECT CAST(NULL AS BIGINT) AS Count WHERE false")
        statement = expand_macros(statement, self.macros)
        # DuckDB UNION [ALL] BY NAME — engine-side unionByName fold.
        from parquet_query_spark.workbench.set_ops import (
            has_union_by_name,
            run_insert_by_name,
            run_union_by_name,
            INSERT_BY_NAME,
        )

        # DuckDB ORDER BY ALL sorts by every output column left-to-right
        # with NULLS LAST in both directions (DuckDB's default null
        # order).  Spark 4 parses ORDER BY ALL natively but keeps its own
        # NULLS FIRST ascending default and rejects ``ALL NULLS LAST`` —
        # so the tail is stripped here and applied through the DataFrame
        # API over the resolved schema (closes former residual #1).
        oba = self._order_by_all_tail(statement)
        if oba is not None:
            return oba
        if has_union_by_name(statement):
            return run_union_by_name(self, statement)
        # DuckDB INSERT INTO ... BY NAME — name-matched column list;
        # unmentioned target columns fill with NULL in both engines.
        if INSERT_BY_NAME.match(statement):
            return run_insert_by_name(self, statement)
        # DuckDB SUMMARIZE statement (pass-through parity): profile the
        # inner query via one map-side-combined aggregation pass.
        inner = summarize_statement_body(statement)
        if inner is not None:
            return summarize(self.sql(inner))
        # DuckDB PIVOT statement / COLUMNS(...) templates — both need the
        # source schema, so they dispatch here rather than in the
        # pure-text dialect shim.
        from parquet_query_spark.workbench.pivot import (
            expand_columns,
            expand_star_replace,
            has_columns_expr,
            has_star_replace,
            is_pivot_statement,
            run_pivot,
        )

        from parquet_query_spark.workbench.copy_to import (
            is_copy_statement,
            run_copy,
        )

        if is_copy_statement(statement):
            return run_copy(self, statement)
        if is_pivot_statement(statement):
            return run_pivot(self, statement, raw_statement=pre_macro_statement)
        if has_columns_expr(statement):
            return self.sql(expand_columns(self, statement))
        if has_star_replace(statement):
            return self.sql(expand_star_replace(self, statement))
        return analyze_dialect(
            statement,
            lambda text: self.spark.sql(
                rewrite_path_tables(text, self.root, registered, self._path_view)
            ),
        )

    # A6 + A7 + A10 + A14 — the full run path
    def run(
        self,
        sql: str,
        cursor: int | None = None,
        limit: int = PREVIEW_LIMIT,
        with_count: bool = True,
    ) -> Result:
        statement = (
            statement_at_position(sql, cursor) if cursor is not None else None
        ) or (split_statements(sql)[0] if split_statements(sql) else sql.strip())
        if not has_executable_text(statement):
            # reference UI no-ops on an empty buffer; surface a clear error
            # instead of Spark's raw PARSE_EMPTY_STATEMENT
            raise ValueError("no SQL statement to run (buffer is empty)")
        df = self.sql(statement)
        preview = df.limit(limit).collect()
        rows = [[format_cell(v) for v in row] for row in preview]
        if with_count:
            num_rows = df.count() if len(rows) >= limit else len(rows)
        else:
            num_rows = len(rows)
        return Result(columns=list(df.columns), rows=rows, num_rows=num_rows, df=df)

    def run_script(self, sql: str) -> list[Result]:
        """B27 — execute every statement of a multi-statement script."""
        return [self.run(stmt) for stmt in split_statements(sql)]

    # A8 — effect-only execute
    def exec(self, statement: str) -> None:
        self.sql(statement)

    # A13 — CSV sinks
    def export_csv(self, sql: str, path: str, distributed: bool = False) -> int:
        df = self.sql(sql)
        if distributed:
            write_csv_distributed(df, path)
            return -1
        return export_csv(df, path)
