#!/usr/bin/env python
"""A SHA-256 prefix of each catalog operator's optimized logical plan.

Usage: python plans/plan_digest.py [--sf DIR] [names...]

The Spark-side twin of ``rewrite_digest.py``.  For every non-streaming
catalog operator (or the named subset), it builds the DataFrame over
``--sf DIR`` (default ``$SPARK_GRAFT_SF_DIR``; a small scale such as
sf0.001 is enough) and prints one line, ``<name> <digest>``: the
first 16 hex digits of the SHA-256 of ``optimizedPlan().toString()``, with
expression ids (``#12``, ``#12L``), ``plan_id=N`` and the counter suffix
of a Python lambda's variable (``lambda x_3``) normalized away: the
counter is process-wide, so it follows the order operators are built in.  An
operator whose build raises prints ``<name> error:<ExceptionType>``.
Run it on two checkouts: equal lines mean the change left that operator's
Spark plan where it was; run both with the same task slots
(``SPARK_GRAFT_CPUS``), because explicit repartition counts follow them.
Streaming operators run a drive when built, so they are skipped.  Some
operators' plans already vary run to run (a multi-distinct ``Expand``
order, for one), so compare against two runs of the base when a line
differs.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

_EXPR_ID = re.compile(r"#\d+L?")
_PLAN_ID = re.compile(r"plan_id=\d+")
_LAMBDA_VAR = re.compile(r"\b(lambda \w+?)_\d+\b")


def plan_digest(df) -> str:
    text = df._jdf.queryExecution().optimizedPlan().toString()
    text = _PLAN_ID.sub("plan_id=N", _EXPR_ID.sub("#N", text))
    text = _LAMBDA_VAR.sub(r"\1_N", text)
    return hashlib.sha256(text.encode("utf-8")).hexdigest()[:16]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"), help="driver table folder")
    ap.add_argument("names", nargs="*", help="operators to digest (default: all non-streaming)")
    args = ap.parse_args()
    if not args.sf:
        ap.error("give --sf DIR or set SPARK_GRAFT_SF_DIR")

    from parquet_query_spark.operators.catalog import load_all
    from parquet_query_spark.session import get_spark

    spark = get_spark("plan-digest")
    # the default of 25 fields truncates wide plans and would hide a change
    spark.conf.set("spark.sql.debug.maxToStringFields", "100000")
    catalog = load_all()
    only = set(args.names)
    for name, spec in catalog.items():
        if (only and name not in only) or (not only and "streaming" in spec.tags):
            continue
        try:
            digest = plan_digest(spec.fn(spark, args.sf))
        except Exception as exc:  # noqa: BLE001 - the line records the failure
            digest = f"error:{type(exc).__name__}"
        print(name, digest, flush=True)


if __name__ == "__main__":
    main()
