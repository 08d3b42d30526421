"""Source discovery + registration (reference Tier A operators A1-A5).

Reference behavior being re-expressed (see SURVEY.md §2.A):

* A1/A2 — recursive folder walk collecting data files
  (``/root/reference/src/fileImport.ts:17-52``).
* A3 — admit only ``.parquet/.csv/.json/.ndjson``, case-insensitive
  (``/root/reference/src/fileImport.ts:7-15``).
* A4 — every file queryable by its relative path
  (``/root/reference/src/duckdb.ts:41-44``).  Spark: a temp view per file —
  no byte copy; executors read the file in place, which is what removes the
  reference's browser-RAM scale ceiling.
* A5 — optional union view over all parquet files
  (``/root/reference/src/App.tsx:316-327``): one multi-path
  ``spark.read.parquet(*paths)`` scan (schema-merging union), *not* an N-way
  ``UNION ALL`` plan — a single FileScan keeps partition planning and
  pushdown intact at 100k-file scale.

Concurrency rule.  Building a DataFrame over a file runs one Spark
schema-inference job per file (two per CSV, one more for the union), and
each job pays 70-90 ms of scheduling latency even on a warm context.  The
jobs are independent, so ``register_folder`` and ``catalog.views`` run them
concurrently through :func:`concurrent_reads` on ONE process-wide pool
(``_POOL``).  Never create a pool per call: in pinned-thread mode every new
Python thread opens its own py4j connection, served by its own JVM thread,
so a pool per call pays up to 16 thread starts and connections on every
registration, while the shared pool opens them once and keeps the JVM
thread count bounded.  Pool tasks must not submit to the pool themselves —
a task waiting on the pool it runs on can deadlock it.  Temp-view
registration stays on the calling thread, in file order.
"""

from __future__ import annotations

import functools
import os
import tempfile
import threading
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

SUPPORTED_SUFFIXES = (".parquet", ".csv", ".json", ".ndjson")

#: the driver's synthetic tables (TESTDATA.md)
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Inference jobs are latency-bound, not CPU-bound: each is one tiny task
#: behind 70-90 ms of job scheduling, so overlap pays beyond the core count,
#: and more so on a cluster, where there are more executors to run the tasks
#: and more files.  Warm registration of a 16-file folder + union on
#: local[4] (4 vCPU): 1.47-1.76 s in sequence, 0.57-0.75 s at 4 threads,
#: 0.55-0.62 s at 8, 0.56-0.61 s at 16.  16 is a fixed cap, not a tuning
#: knob: it bounds the JVM threads the pool pins and the jobs one
#: registration puts in front of the scheduler at once.
_POOL_SIZE = 16
_POOL = ThreadPoolExecutor(max_workers=_POOL_SIZE, thread_name_prefix="pqs-source-read")


def concurrent_reads(spark: SparkSession, reads: list[Callable[[], DataFrame]]) -> list[DataFrame]:
    """Call each zero-argument callable in ``reads`` on the shared pool and
    return the results in order; the first failing read (in order) raises.

    Each task runs under the caller's job group and local properties, so
    the jobs the pool threads launch are attributed to the caller.  A read
    must not call this itself (no nested submits: see the module rule)."""
    def call(read):
        return read()

    inherit = inheritable_thread_target(spark)
    # pyspark hands the session back unchanged when pinned-thread mode is off
    task = call if inherit is spark else inherit(call)
    return list(_POOL.map(task, reads))


def is_supported_file_path(path: str) -> bool:
    """Format filter — same admitted set as ``src/fileImport.ts:7-15``."""
    return path.lower().endswith(SUPPORTED_SUFFIXES)


@dataclass(frozen=True)
class SourceFile:
    path: str  # relative path, forward slashes (the reference's table key)
    abs_path: str
    size: int


def collect_files(root: str) -> list[SourceFile]:
    """Recursive walk, stable order, extension-filtered (A1-A3)."""
    out: list[SourceFile] = []
    root = os.path.abspath(root)
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for fn in sorted(filenames):
            ap = os.path.join(dirpath, fn)
            rel = os.path.relpath(ap, root).replace(os.sep, "/")
            if is_supported_file_path(rel):
                out.append(SourceFile(rel, ap, os.path.getsize(ap)))
    return out


def sniff_csv_options(path: str) -> dict:
    """Lightweight DuckDB-style CSV auto-detection for path-literal scans
    (r12, fuzz v7): delimiter from {',', ';', '|', tab} by consistent
    per-line count, header by DuckDB's probed rule — the first row is a
    HEADER unless any of its fields parses as a number (probed: ``1,2``
    data rows stay data; an all-string first row is assumed a header even
    over all-string columns).  The engine's folder imports always carry
    headers (reader_for default); this sniffer serves arbitrary re-scanned
    files, e.g. ``COPY ... TO '/tmp/x.csv' (HEADER false)`` round-trips."""
    try:
        with open(path, "rb") as f:
            head = f.read(65536).decode("utf-8", "replace")
    except OSError:
        return {"header": True, "sep": ","}
    lines = [ln for ln in head.splitlines() if ln.strip()][:2]
    if not lines:
        return {"header": True, "sep": ","}
    # Quote-aware counting (fuzz v7 seed 110270): a delimiter INSIDE a
    # quoted field ("u|v") must not make the candidate's per-line counts
    # inconsistent — DuckDB's sniffer is quote-aware too.
    import re as _re

    stripped = [_re.sub(r'"(?:[^"]|"")*"', '""', ln) for ln in lines]
    sep = ","
    best = -1
    for cand in (",", ";", "|", "\t"):
        c0 = stripped[0].count(cand)
        if c0 > best and all(ln.count(cand) == c0 for ln in stripped):
            best, sep = c0, cand

    def _is_num(s: str) -> bool:
        try:
            float(s)
            return True
        except ValueError:
            return False

    fields = [f.strip().strip('"') for f in stripped[0].split(sep)]
    header = not any(_is_num(f) for f in fields if f)
    return {"header": header, "sep": sep}


def reader_for(spark: SparkSession, path: str, sniff: bool = False):
    """Reader dispatch per suffix (A3 → Spark readers).

    Spark's JSON reader natively handles both ndjson (default) and the
    array-of-objects form (``multiLine``); we sniff the first byte for ``[``.
    ``sniff=True`` (path-literal scans, r12) additionally auto-detects CSV
    header/delimiter like DuckDB and names headerless columns column0..N
    (DuckDB's names) instead of Spark's _c0..N.
    """
    lower = path.lower()
    if lower.endswith(".parquet"):
        return spark.read.parquet(path)
    if lower.endswith(".csv"):
        # multiLine + doubled-quote escape: RFC-4180 embedded newlines parse
        # correctly (DuckDB parity).  Note: multiLine makes a CSV file
        # non-splittable — fine for workbench imports; at 100 TB you want
        # newline-free CSV (or parquet) anyway.
        opts = {"header": True}
        if sniff:
            s = sniff_csv_options(path)
            opts = {"header": s["header"], "sep": s["sep"]}
        df = spark.read.options(
            inferSchema=True, multiLine=True, escape='"', **opts
        ).csv(path)
        if not opts["header"]:
            df = df.toDF(*[f"column{i}" for i in range(len(df.columns))])
        return df
    if lower.endswith(".ndjson"):
        return spark.read.json(path)
    if lower.endswith(".json"):
        multiline = False
        try:
            with open(path, "rb") as f:
                head = f.read(64).lstrip()
                multiline = head.startswith(b"[")
        except OSError:
            pass
        return spark.read.option("multiLine", multiline).json(path)
    raise ValueError(f"unsupported source format: {path}")


def _parquet_footer(abs_path: str):
    """The file's footer metadata (schema and row groups), read once with
    pyarrow; None when pyarrow cannot read it (the Spark read then reports
    the error)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        with pq.ParquetFile(abs_path) as pf:
            return pf.metadata
    except (OSError, pa.ArrowException):
        return None


def _nanos_ts_columns(footer) -> list[str]:
    """Columns stored as Parquet TIMESTAMP(NANOS)."""
    if footer is None:
        return []
    schema = footer.schema.to_arrow_schema()
    return [name for name, typ in zip(schema.names, schema.types) if str(typ) == "timestamp[ns]"]


def _fix_nanos(df: DataFrame, cols: list[str]) -> DataFrame:
    """nanos-as-long → TimestampType (micros), matching DuckDB's truncation.

    Stays inside whole-stage codegen (`div` + `timestamp_micros`), so the
    conversion is free relative to the scan even at 100 TB.
    """
    for c in cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def _read_parquet(spark: SparkSession, abs_path: str, footer) -> DataFrame:
    """One ``spark.read.parquet`` (one inference job) with TIMESTAMP(NANOS)
    columns read as int64 nanos and converted."""
    ns_cols = _nanos_ts_columns(footer)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _fix_nanos(spark.read.parquet(abs_path), ns_cols)


def _needs_restage(footer) -> bool:
    """True when the file's row-group layout under-parallelizes the scan:
    fewer groups than the stage width AND enough rows per group that
    splitting pays.  Spark's parquet scan unit is the row group, so a
    320k-row file written as 3 fat groups runs scan-side compute on 3
    cores of 32 (observed: minhash signatures 149 s at 64× vs 18 s after
    restage).  Real 100 TB tables have thousands of groups; this repairs
    badly-laid-out small inputs only."""
    if footer is None or footer.num_row_groups >= _STAGE_PARTITIONS:
        return False
    return (footer.num_rows / max(footer.num_row_groups, 1)) >= _STAGE_MIN_ROWS


_STAGE_PARTITIONS = 32
_STAGE_MIN_ROWS = 1000
_staging_root: str | None = None
_staging_lock = threading.Lock()


def _stage_path(sf_dir: str, name: str) -> str:
    """Per-process staging directory for re-laid-out copies of one sf_dir.

    The leaf directory is keyed by the source file's (mtime_ns, size) so a
    regenerated input (the driver rewrites testdata between rounds)
    invalidates the staged copy instead of silently serving stale rows
    from a long-lived session."""
    global _staging_root
    with _staging_lock:  # loads run concurrently (concurrent_reads)
        if _staging_root is None:
            _staging_root = tempfile.mkdtemp(prefix="pqs_ingest_stage_")
    key = sf_dir.strip("/").replace("/", "_")
    src = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(src)
        fingerprint = f"{name}-{st.st_mtime_ns}-{st.st_size}"
    except OSError:
        fingerprint = name
    return os.path.join(_staging_root, key, fingerprint)


def _restage(spark: SparkSession, df: DataFrame, sf_dir: str, name: str) -> DataFrame:
    """Ingest-time re-layout: rewrite a pathological single-row-group input
    into a multi-row-group copy and read THAT.

    Spark's parquet scan parallelizes at row-group granularity — a table
    packed into one row group serializes every scan-side computation onto
    one core no matter how many executors exist.  Real 100 TB tables have
    thousands of row groups so this never arises at scale; when a small
    input arrives badly laid out, the warehouse answer is the same one
    `maintenance_compact_small_files` applies in reverse: pay one layout
    rewrite at ingest, then every subsequent query scans in parallel.
    The staged copy holds identical rows (only layout changes; repairs
    above are already applied); it is per-process, under the system temp
    dir, and reused across queries in the session."""
    out = _stage_path(sf_dir, name)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        df.repartition(_STAGE_PARTITIONS).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table; transparently repairs nanosecond timestamps
    and restages single-row-group files for scan parallelism."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    footer = _parquet_footer(path)
    df = _read_parquet(spark, path, footer)
    # Parquet TIMESTAMP with isAdjustedToUTC=false surfaces as
    # TIMESTAMP_NTZ, which Spark refuses to cast to numeric types (several
    # operators do epoch arithmetic on ts).  The session timezone is pinned
    # to UTC, so NTZ wall-clock values ARE the UTC instants — cast to the
    # LTZ TimestampType for uniform semantics with DuckDB's naive reads.
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    if _needs_restage(footer):
        df = _restage(spark, df, sf_dir, name)
    return df


def view_name_for_path(path: str, taken: set[str] | None = None) -> str:
    """Spark-safe temp-view name for a file's relative path.

    The reference keys tables by raw relative path (``src/duckdb.ts:41-44``);
    Spark temp-view names are bare identifiers, so SQL access to the *raw*
    path spelling goes through the ``FROM 'path'`` rewrite
    (workbench.statements.rewrite_path_tables) while this sanitized alias
    (``dir/f.parquet`` → ``dir_f_parquet``) is registered as a convenience.

    Sanitization is lossy (``a/b.parquet`` and ``a_b.parquet`` both map to
    ``a_b_parquet``); when ``taken`` holds names already assigned, a
    collision appends a short stable hash of the raw path so the second
    registration cannot silently overwrite the first.
    """
    import hashlib
    import re

    base = re.sub(r"[^A-Za-z0-9_]", "_", path)
    if taken is None or base not in taken:
        return base
    digest = hashlib.md5(path.encode("utf-8")).hexdigest()
    n = 8
    name = f"{base}_{digest[:n]}"
    while name in taken and n < len(digest):
        n += 4
        name = f"{base}_{digest[:n]}"
    return name


def assign_view_names(paths) -> dict[str, str]:
    """Deterministic path→view-name assignment (first-come keeps the plain
    sanitized name; later collisions get a hash suffix).  Registration
    (``register_folder``) and the path-rewrite mapping (``Engine.sql``) both
    derive names through this, over the same insertion-ordered keys, so the
    mapping stays authoritative on both sides."""
    names: dict[str, str] = {}
    taken: set[str] = set()
    for p in paths:
        n = view_name_for_path(p, taken)
        names[p] = n
        taken.add(n)
    return names


def register_folder(
    spark: SparkSession,
    root: str,
    table_name: str | None = None,
) -> dict[str, DataFrame]:
    """Import a folder (A1-A5): per-file views + optional parquet union view.

    Returns the registry mapping view key → DataFrame.  File keys are
    relative paths exactly as in the reference (``registerFileBuffer(path)``,
    ``src/duckdb.ts:41-44``); query them via the path-literal rewrite
    (workbench.statements.rewrite_path_tables) or backticked identifiers.
    """
    files = collect_files(root)
    names = assign_view_names(f.path for f in files)
    parquet_paths = [f.abs_path for f in files if f.path.lower().endswith(".parquet")]

    def read(abs_path: str) -> DataFrame:
        if abs_path.lower().endswith(".parquet"):
            return _read_parquet(spark, abs_path, _parquet_footer(abs_path))
        return reader_for(spark, abs_path)

    reads = [functools.partial(read, f.abs_path) for f in files]
    if table_name is not None and parquet_paths:
        reads.append(lambda: spark.read.option("mergeSchema", True).parquet(*parquet_paths))
    frames = concurrent_reads(spark, reads)

    registry: dict[str, DataFrame] = {}
    for f, df in zip(files, frames):
        df.createOrReplaceTempView(names[f.path])
        registry[f.path] = df

    if table_name is not None:
        if not parquet_paths:
            # reference: createOrReplaceParquetView errors with no parquets
            # (src/App.tsx:318-321)
            raise ValueError("Nenhum arquivo .parquet importado")
        union = frames[-1]
        from parquet_query_spark.workbench.quoting import spark_identifier

        union.createOrReplaceTempView(spark_identifier(table_name))
        registry[table_name] = union
    return registry
