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

Schemas and concurrency.  A parquet file's schema comes from its footer,
read on the driver and converted by Spark's own code
(``ParquetFileFormat.readSchemaFromFooter`` with a
``ParquetToSparkSchemaConverter`` built from the session's SQLConf — what
Spark's schema-inference job runs on an executor), and the file is read
with ``spark.read.schema(s)``: parquet registration launches no job.  CSV
and JSON types depend on the data, so building a DataFrame over one still
runs Spark's schema-inference job (two per CSV), and each job pays 70-90
ms of scheduling latency even on a warm context.  The reads are
independent, so ``register_folder`` and ``catalog.views`` run them
concurrently through :func:`concurrent_reads` on ONE process-wide pool
(``_POOL``); parquet reads go there too, as their footer reads and
analysis are py4j round trips that overlap.  Never create a pool per
call: in pinned-thread mode every new Python thread opens its own py4j
connection, served by its own JVM thread, so a pool per call pays up to
16 thread starts and connections on every registration, while the
shared pool opens them once and keeps the JVM thread count bounded.  Pool
tasks must not submit to the pool themselves — a task waiting on the
pool it runs on can deadlock it.  Temp-view registration stays on the
calling thread, in file order.

Restage.  Spark scans parquet one row group per task, so a driver table
file (``load_table``) with fewer row groups than the cluster has task
slots leaves cores idle in every scan.  Such a file is rewritten once per
process into ``width = min(slots, rows // _STAGE_MIN_ROWS)`` files, where
``slots`` is ``defaultParallelism`` and ``rows`` comes from the footer
already read; it is restaged only when ``width`` exceeds its row-group
count.  The width follows the cluster: 4 files on 4 slots, 32 on 32 for
any table of at least 32k rows, and ``rows // 1000`` for a smaller one,
so no staged file is near-empty.  Measured with the repository
benchmark's ``pipeline_batch`` (4 vCPU, ``local[4]``, sf0.01, ``lineitem``
one 59,928-row group), 32 files → 4: set-up median 1.91 s → 1.22 s over
10 alternating pairs (10/10 wins), ``registry.views_s`` 1.98 s → 1.14 s
and first-pass Spark tasks 513 → 369, with jobs (92) unchanged.  The
restage stays a Spark shuffle + write job.  A driver-side pyarrow
re-split, which runs no job, was tried: it cut set-up further but made
the first pass 6-44% slower over 3 pairs, because the restage jobs are
what JIT-warm the parquet scan, shuffle and writer paths the first
queries run.  The staging dir is a ``tempfile`` dir on the driver, so it
is node-local: it serves ``local[N]`` sessions, whose driver and
executors share one file system.
"""

from __future__ import annotations

import atexit
import functools
import glob
import json
import os
import re
import shutil
import tempfile
import threading
import uuid
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from types import SimpleNamespace
from typing import Any, TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

SUPPORTED_SUFFIXES = (".parquet", ".csv", ".json", ".ndjson")

T = TypeVar("T")

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


#: Inference jobs (CSV/JSON) are latency-bound, not CPU-bound: each is one
#: tiny task behind 70-90 ms of job scheduling, so overlap pays beyond the
#: core count, and more so on a cluster, where there are more executors to
#: run the tasks and more files.  Warm registration of a 16-file folder +
#: union on local[4] (4 vCPU), when every parquet file still ran an
#: inference job: 1.47-1.76 s in sequence, 0.57-0.75 s at 4 threads,
#: 0.55-0.62 s at 8, 0.56-0.61 s at 16.  16 is a fixed cap, not a tuning
#: knob: it bounds the JVM threads the pool pins and the jobs one
#: registration puts in front of the scheduler at once.
_POOL_SIZE = 16
_POOL = ThreadPoolExecutor(max_workers=_POOL_SIZE, thread_name_prefix="pqs-source-read")


def concurrent_reads(spark: SparkSession, reads: list[Callable[[], T]]) -> list[T]:
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
        return read_parquet(spark, [path])
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


#: A top-level TIMESTAMP(NANOS) column in the text of a parquet
#: ``MessageType`` (top-level fields are the lines indented two spaces).
_NANOS_FIELD = re.compile(
    r"^  \w+ int64 (.+) \(TIMESTAMP\(NANOS,(?:true|false)\)\)(?: = \d+)?;$", re.M
)


@functools.cache
def _jvm_api(jvm) -> SimpleNamespace:
    """The JVM entry points the footer step calls, looked up once per
    gateway: every py4j package or class hop is a reflection round trip,
    ~35 per file uncached.  Measured on the 13-file workbench folder
    (local[4], 4 vCPU, warm): pooled footer reads 88 ms → 27 ms,
    ``Engine.open`` median 0.381 s → 0.343 s over 16 alternating opens."""
    spark_parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    return SimpleNamespace(
        Path=jvm.org.apache.hadoop.fs.Path,
        Footer=jvm.org.apache.parquet.hadoop.Footer,
        read_footer=jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter,
        NO_FILTER=jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER,
        Converter=spark_parquet.ParquetToSparkSchemaConverter,
        schema_from_footer=spark_parquet.ParquetFileFormat.readSchemaFromFooter,
    )


@dataclass(frozen=True)
class ParquetFooter:
    """One parquet file's footer as the driver reads it."""

    path: str
    schema: Any  # JVM StructType: Spark's schema for the file
    nanos: tuple[str, ...]  # top-level TIMESTAMP(NANOS) columns
    meta: Any  # JVM ParquetMetadata (row groups)


def _parquet_footer(spark: SparkSession, abs_path: str) -> ParquetFooter:
    """Read one file's footer on the driver and convert its schema exactly
    as Spark's schema-inference job does on an executor: the Spark row
    metadata key when the file carries one, else the parquet schema through
    a converter built from the session's SQLConf (INT96, NTZ, binary-as-
    string and nanos-as-long all follow the session).  Raises, naming the
    file, when it is not a readable parquet file."""
    api = _jvm_api(spark._jvm)
    path = api.Path(abs_path)
    meta = api.read_footer(spark._jsc.hadoopConfiguration(), path, api.NO_FILTER)
    nanos = tuple(_NANOS_FIELD.findall(meta.getFileMetaData().getSchema().toString()))
    if nanos:
        # read as int64 nanos (converted by _fix_nanos); the converter
        # below and the scan both take the flag from the session conf
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    converter = api.Converter(spark._jsparkSession.sessionState().conf())
    schema = api.schema_from_footer(api.Footer(path, meta), converter)
    return ParquetFooter(abs_path, schema, nanos, meta)


def _parquet_parts(abs_path: str) -> list[str]:
    """The data files behind a parquet path: the file itself, or a
    directory's files (recursively, sorted), skipping the ``_``/``.``
    names Spark's listing skips (``_SUCCESS``, ``.crc`` files)."""
    if not os.path.isdir(abs_path):
        return [abs_path]
    parts = []
    for dirpath, dirnames, filenames in os.walk(abs_path):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        parts.extend(os.path.join(dirpath, n) for n in filenames if not n.startswith(("_", ".")))
    return sorted(parts)


def _merged_schema(spark: SparkSession, footers: list[ParquetFooter]) -> StructType:
    """The footers' schemas merged in sorted path order with
    ``StructType.merge`` under the session's case sensitivity — the merge a
    ``mergeSchema`` inference job makes — and made nullable, as Spark makes
    every file source's schema.  Incompatible types raise."""
    footers = sorted(footers, key=lambda f: f.path)
    case_sensitive = spark._jsparkSession.sessionState().conf().caseSensitiveAnalysis()
    merged = footers[0].schema
    for footer in footers[1:]:
        merged = merged.merge(footer.schema, case_sensitive)
    return StructType.fromJson(json.loads(merged.toNullable().json()))


def _fix_nanos(df: DataFrame, cols: list[str]) -> DataFrame:
    """nanos-as-long → TimestampType (micros), matching DuckDB's truncation.

    Stays inside whole-stage codegen (`div` + `timestamp_micros`), so the
    conversion is free relative to the scan even at 100 TB.
    """
    for c in cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def _read_parquet(spark: SparkSession, paths: list[str], footers: list[ParquetFooter]) -> DataFrame:
    """Read ``paths`` with the schema their ``footers`` give (no inference
    job), TIMESTAMP(NANOS) columns converted.  Where the files' schemas
    agree that is Spark's inferred schema; where they differ it is the
    ``mergeSchema`` one, not an arbitrary file's."""
    df = spark.read.schema(_merged_schema(spark, footers)).parquet(*paths)
    return _fix_nanos(df, list(dict.fromkeys(c for f in footers for c in f.nanos)))


def read_parquet(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Read parquet files or directories of part files without a
    schema-inference job (see the module's schema rule)."""
    footers = [_parquet_footer(spark, p) for path in paths for p in _parquet_parts(path)]
    return _read_parquet(spark, paths, footers)


#: glob syntax whose Hadoop and Python meanings differ (``[^..]``,
#: ``{a,b}``, escapes): such literals keep Spark's own path scan
_UNPORTABLE_GLOB = re.compile(r"[\[\]{}\\]")


def parquet_glob(abs_path: str) -> list[str] | None:
    """The files a parquet path literal names, sorted: the file itself or a
    ``*``/``?`` glob's matches.  None when the listing is not that simple —
    no match, a directory, a ``_``/``.`` name Spark's listing would skip,
    or glob syntax beyond ``*``/``?`` — so the caller keeps Spark's scan."""
    if _UNPORTABLE_GLOB.search(abs_path):
        return None
    files = sorted(glob.glob(abs_path)) if any(c in abs_path for c in "*?") else [abs_path]
    ok = all(os.path.isfile(p) and not os.path.basename(p).startswith(("_", ".")) for p in files)
    return files if files and ok else None


def _stage_width(spark: SparkSession, footer: ParquetFooter) -> int:
    """The restage width of a file: one staged file per task slot
    (``defaultParallelism``), capped by its rows at ``_STAGE_MIN_ROWS``
    per file (see the module's restage rule)."""
    rows = sum(g.getRowCount() for g in footer.meta.getBlocks())
    return min(spark.sparkContext.defaultParallelism, rows // _STAGE_MIN_ROWS)


def _needs_restage(footer: ParquetFooter, width: int) -> bool:
    """True when the file's row-group layout under-parallelizes the scan:
    fewer row groups than its restage ``width`` (:func:`_stage_width`).
    Spark's parquet scan unit is the row group, so a 320k-row file written
    as 3 fat groups runs scan-side compute on 3 cores of 32 (observed:
    minhash signatures 149 s at 64× vs 18 s after restage).  The one rule
    also covers thin groups: a file with fewer than ``_STAGE_MIN_ROWS``
    rows per group has ``rows // _STAGE_MIN_ROWS`` below its group count,
    so splitting it cannot pay.  Real 100 TB tables have thousands of
    groups; this repairs badly laid-out small inputs only."""
    return width > footer.meta.getBlocks().size()


#: the fewest rows a staged file is given: below it a file's scan task
#: costs more in scheduling than it saves in parallel compute
_STAGE_MIN_ROWS = 1000
_staging_root: str | None = None
_staging_lock = threading.Lock()


def _remove_staging_root() -> None:
    if _staging_root is not None:
        shutil.rmtree(_staging_root, ignore_errors=True)


atexit.register(_remove_staging_root)


def _stage_path(sf_dir: str, name: str, width: int) -> str:
    """Per-process staging directory for re-laid-out copies of one sf_dir,
    removed at interpreter exit.

    The leaf directory is keyed by the source file's (mtime_ns, size) so a
    regenerated input (the driver rewrites testdata between rounds)
    invalidates the staged copy instead of silently serving stale rows
    from a long-lived session, and by the ``width`` it is laid out for, so
    a session with another slot count never reuses it."""
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
    return os.path.join(_staging_root, key, f"{fingerprint}-w{width}")


def _restage(spark: SparkSession, df: DataFrame, sf_dir: str, name: str, width: int) -> DataFrame:
    """Ingest-time re-layout: rewrite a badly laid-out input (fewer row
    groups than its ``width``) into ``width`` files and read THAT.

    Spark's parquet scan parallelizes at row-group granularity — a table
    packed into one row group serializes every scan-side computation onto
    one core no matter how many executors exist.  Real 100 TB tables have
    thousands of row groups so this never arises at scale; when a small
    input arrives badly laid out, the warehouse answer is the same one
    `maintenance_compact_small_files` applies in reverse: pay one layout
    rewrite at ingest, then every subsequent query scans in parallel.

    The rewrite is a Spark ``repartition(width)`` shuffle + write job (2
    jobs, ``width`` write tasks), not a driver-side split: the set-up's
    restage jobs are what JIT-warm the scan, shuffle and writer paths the
    first queries use (see the module's restage rule).  The copy is
    written under a unique ``<leaf>.<hex>`` name and renamed onto the
    leaf, so a reader never sees a partial copy; when another load in the
    process got there first, its copy is kept and this one removed.  The
    staged copy holds identical rows (only layout changes; repairs above
    are already applied); it is per-process, under the system temp dir,
    and reused across queries in the session.  The copy is read back
    with ``df``'s schema, which it was written with: no inference job."""
    out = _stage_path(sf_dir, name, width)
    if not os.path.isdir(out):
        tmp = f"{out}.{uuid.uuid4().hex}"
        df.repartition(width).write.parquet(tmp)
        try:
            os.rename(tmp, out)
        except OSError:  # the leaf appeared meanwhile: keep that copy
            shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.schema(df.schema).parquet(out)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table — ``<name>.parquet``, a file or a directory of
    part files — with its schema from the footers (no inference job);
    transparently repairs nanosecond timestamps and restages a file whose
    row groups under-parallelize the scan."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    footers = [_parquet_footer(spark, p) for p in _parquet_parts(path)]
    df = _read_parquet(spark, [path], footers)
    # Parquet TIMESTAMP with isAdjustedToUTC=false surfaces as
    # TIMESTAMP_NTZ, which Spark refuses to cast to numeric types (several
    # operators do epoch arithmetic on ts).  The session timezone is pinned
    # to UTC, so NTZ wall-clock values ARE the UTC instants — cast to the
    # LTZ TimestampType for uniform semantics with DuckDB's naive reads.
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    # a directory's parts are laid out by its writer; only a lone file is
    # restaged
    if os.path.isfile(path):
        width = _stage_width(spark, footers[0])
        if _needs_restage(footers[0], width):
            df = _restage(spark, df, sf_dir, name, width)
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

    def read(abs_path: str) -> tuple[DataFrame, ParquetFooter | None]:
        if abs_path.lower().endswith(".parquet"):
            footer = _parquet_footer(spark, abs_path)
            return _read_parquet(spark, [abs_path], [footer]), footer
        return reader_for(spark, abs_path), None

    reads = concurrent_reads(spark, [functools.partial(read, f.abs_path) for f in files])

    registry: dict[str, DataFrame] = {}
    for f, (df, _) in zip(files, reads):
        df.createOrReplaceTempView(names[f.path])
        registry[f.path] = df

    if table_name is not None:
        footers = [footer for _, footer in reads if footer is not None]
        if not footers:
            # reference: createOrReplaceParquetView errors with no parquets
            # (src/App.tsx:318-321)
            raise ValueError("Nenhum arquivo .parquet importado")
        # the per-file schemas merged, as a mergeSchema read would infer
        # them; nanos columns stay int64 here, as that read gives them
        paths = sorted(f.path for f in footers)
        union = spark.read.schema(_merged_schema(spark, footers)).parquet(*paths)
        from parquet_query_spark.workbench.quoting import spark_identifier

        union.createOrReplaceTempView(spark_identifier(table_name))
        registry[table_name] = union
    return registry
