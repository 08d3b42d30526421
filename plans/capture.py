#!/usr/bin/env python
"""Capture ``.explain('formatted')`` for catalog operators.

Usage: python plans/capture.py <out_dir> <suffix> [names...]

Writes ``<out_dir>/<operator>_<suffix>.txt`` for each named operator, or
for every bench-tagged one when none is named, built over
``$SPARK_GRAFT_SF_DIR`` (default sf0.1).
Run it once on each side of a change, with suffixes ``before`` and
``after``, to commit plan evidence next to the change.
"""

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    out_dir, suffix = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    from parquet_query_spark.operators.catalog import load_all
    from parquet_query_spark.session import get_spark

    spark = get_spark("plan-capture")
    catalog = load_all()
    os.makedirs(out_dir, exist_ok=True)
    for name, spec in catalog.items():
        wanted = name in only if only else "bench" in spec.tags
        if not wanted:
            continue
        df = spec.fn(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
