"""Query/operator catalog — the engine's SURVEY §2 coverage inventory.

Every implemented operator registers here as a :class:`QuerySpec`:

* ``fn(spark, sf_dir) -> DataFrame`` — the Spark implementation (DataFrame
  API or ``spark.sql`` — whichever reads better; Catalyst sees the same plan).
* ``oracle`` — the equivalent ANSI SQL DuckDB runs over the same parquet
  files (views: region nation customer supplier part orders lineitem events
  documents embeddings).  ``None`` marks a genuinely non-SQL-expressible
  operator (the driver then records a weaker rows-only check).

Binding rule: an operator reads its tables as the DataFrames
:func:`views` returns for ITS ``sf_dir``.  SQL-text operators name them as
``{table}`` placeholders and call ``spark.sql(text, **views(spark, sf_dir))``;
PySpark binds each referenced frame under a throwaway name and drops it
after analysis.  Nothing is registered in the session, so two sf_dirs
interleave safely on one session and the user's own views are never
replaced.  The text is a format string, so literal braces in it are
doubled; where one text serves both engines, the oracle is rendered with
:func:`bare_names`.

Placement rule: an operator lives in the module of its domain, and the
headings of the README's "Operator catalog" section are the domain list.
Relational spans ``tpch.py``/``tpch_full.py`` (the TPC-H shapes),
``relational.py`` (joins, windows, set ops, subqueries and SQL constructs,
business analytics over the TPC-H tables), ``advanced.py`` (aggregate and
window long tail, profiles, sampling) and ``templates.py``; every other
domain has one module (``temporal.py``, ``scale_patterns.py``,
``events_ops.py``, ``text.py``, ``dedup.py``, ``similarity.py``,
``multimodal.py``, ``udfs.py``, ``sink_queries.py``, ``pipeline.py``,
``graph.py``, and the ``streaming`` package).  A name registers once:
:func:`query` raises on a name already in the catalog.

Sharing rule: a kernel or an oracle CTE that two operators share is
written once, in its domain module, and imported everywhere else — the
shingle expressions, the minhash chain, the hot-key tiled self-join and
the near-duplicate graph CTEs live in ``dedup.py``; twin operators (a
batch operator and its streaming or bucketed twin) pass the same
module-level oracle constant.

Determinism contract for oracle-checked queries (the driver hash-compares
values): every floating-point aggregate is rounded; every LIMIT/top-k has a
total order (unique tie-break key); column names are identical on both sides.

Order rule: an operator's answer is a multiset of rows, so it ends in no
global sort.  The DuckDB oracle comparison (``oracle.canon_rows``) and the
benchmark digest both compare rows without regard to order, while a final
``orderBy`` costs a range-sampling job, a range exchange and a sort stage
(and the sampling job computes the child a second time).  A sort stays
only where order is part of the answer: one that feeds a ``LIMIT``
(planned as ``TakeOrderedAndProject``), one inside a window or an ordered
aggregate, and the ``template``-tagged operators, which keep the
reference's verbatim SQL.  The oracle follows the same rule: it drops its
final ``ORDER BY`` unless a ``LIMIT`` reads it.  The parity tests assert
that no other operator's physical plan holds a ``rangepartitioning``
exchange.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from parquet_query_spark.sources.registry import TESTDATA_TABLES, concurrent_reads, load_table


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    tags: tuple[str, ...] = ()
    doc: str = ""


CATALOG: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Register an operator implementation in the catalog; a name that is
    already registered raises ``ValueError``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in CATALOG:
            raise ValueError(f"operator {name!r} is already registered")
        CATALOG[name] = QuerySpec(name, fn, oracle, tuple(tags), fn.__doc__ or "")
        return fn

    return deco


@functools.cache
def views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the driver tables under ``sf_dir`` as DataFrames, by table name.

    No side effect: nothing is registered in the session (see the module's
    binding rule).  Memoized per (session, dir) — loading reads every
    table's parquet footers on the driver (no schema-inference job) and
    may restage a table, which writes a copy.  The tables load
    concurrently, one ``load_table`` call each on the registry's shared
    pool (``sources.registry.concurrent_reads``), under the caller's job
    group."""
    names = [n for n in TESTDATA_TABLES if os.path.exists(os.path.join(sf_dir, f"{n}.parquet"))]
    if not names:
        raise FileNotFoundError(f"no driver parquet tables found in {sf_dir!r}")
    loads = [functools.partial(load_table, spark, sf_dir, n) for n in names]
    return dict(zip(names, concurrent_reads(spark, loads)))


def bare_names(text: str) -> str:
    """A ``{table}``-placeholder SQL text with the placeholders rendered as
    the bare table names — the DuckDB oracle's spelling of the same text."""
    return text.format(**{t: t for t in TESTDATA_TABLES})


def load_all() -> dict[str, QuerySpec]:
    """Import every operator module so the catalog is fully populated."""
    from parquet_query_spark.operators import (  # noqa: F401
        tpch,
        tpch_full,
        relational,
        advanced,
        templates,
        events_ops,
        text,
        dedup,
        similarity,
        multimodal,
        pipeline,
        temporal,
        scale_patterns,
        sink_queries,
        udfs,
        graph,
    )
    from parquet_query_spark.streaming import (  # noqa: F401
        stateful,
        streaming_ops,
    )

    return CATALOG
