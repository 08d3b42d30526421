#!/usr/bin/env python
"""One SHA-256 over the pure-text rewrite layer of the workbench.

Usage: python plans/rewrite_digest.py [--seeds N]

The corpus is every text ``fuzz_dialect.py`` renders for seeds 0..N-1 (the
full ``gen_query`` query, its ``mutate`` variant under the fuzzer's own
mutation seed, and each statement of ``gen_statement_seq``), followed by
every string constant in ``tests/*.py`` that contains SELECT, FROM or WITH.
Each text goes through ``strip_comments``, ``_code_mask``,
``rewrite_duckdb_dialect``, ``rewrite_path_tables(text, "/data")`` and
``split_statements``; an exception is recorded by its type name.  The digest covers every result in
order, so two checkouts whose rewrite layer is byte-identical on the corpus
print the same line.  No Spark session starts.  The text count and the wall
time go to stderr.
"""

from __future__ import annotations

import argparse
import ast
import glob
import hashlib
import os
import random
import re
import sys
import time

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
sys.path.insert(0, ROOT)

_SQL_WORD = re.compile(r"\b(?:SELECT|FROM|WITH)\b", re.IGNORECASE)


def test_strings(root: str = ROOT) -> list[str]:
    """String constants of ``tests/*.py`` that look like SQL, by file and
    then in ``ast.walk`` order."""
    out: list[str] = []
    for path in sorted(glob.glob(os.path.join(root, "tests", "*.py"))):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        out += [
            node.value
            for node in ast.walk(tree)
            if isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and _SQL_WORD.search(node.value)
        ]
    return out


def corpus(seeds: int, root: str = ROOT) -> list[str]:
    import fuzz_dialect as fz

    texts: list[str] = []
    for seed in range(seeds):
        render, exprs = fz.gen_query(random.Random(seed))
        query = render(exprs)
        texts.append(query)
        texts.append(fz.mutate(query, random.Random(seed * 1000003 + 17)))
        texts += fz.gen_statement_seq(random.Random(seed))
    return texts + test_strings(root)


def record(text: str) -> list[str]:
    """One entry per rewrite function: its result, or ``!<ExceptionType>``."""
    from parquet_query_spark.workbench.dialect import rewrite_duckdb_dialect
    from parquet_query_spark.workbench.dialect_core import _code_mask, strip_comments
    from parquet_query_spark.workbench.statements import (
        rewrite_path_tables,
        split_statements,
    )

    fns = (
        strip_comments,
        lambda t: "".join("1" if c else "0" for c in _code_mask(t)),
        rewrite_duckdb_dialect,
        lambda t: rewrite_path_tables(t, "/data"),
        split_statements,
    )
    out = []
    for fn in fns:
        try:
            out.append(repr(fn(text)))
        except Exception as e:  # noqa: BLE001 — the type IS the result
            out.append("!" + type(e).__name__)
    return out


def digest(texts: list[str]) -> str:
    h = hashlib.sha256()
    for text in texts:
        for part in (repr(text), *record(text)):
            h.update(part.encode("utf-8", "surrogatepass"))
            h.update(b"\0")
    return h.hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=300)
    args = ap.parse_args()
    t0 = time.perf_counter()
    texts = corpus(args.seeds)
    print(digest(texts))
    print(
        f"texts={len(texts)} seconds={time.perf_counter() - t0:.1f}",
        file=sys.stderr,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
