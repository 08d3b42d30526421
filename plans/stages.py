#!/usr/bin/env python
"""Per-stage profile of catalog operators, read in-process from Spark.

Usage: python plans/stages.py <op> [<op> ...] [--sf DIR]

Builds and collects each op over ``DIR`` (default ``$SPARK_GRAFT_SF_DIR``)
in one ``get_spark`` session, UI off, and prints one JSON line per op from
``plans.stage_metrics``: wall time, jobs, stages, shuffle-write bytes, the
stage table, the task spread (largest task, median busy task) of the stage
that wrote the most shuffle records and of the one with the most executor
run time, and ``oracle.compare``'s match after the measured collect.  Ops
run in the order given; list one twice to measure it warm.
"""

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def spread(stage: dict, key: str) -> dict:
    values = stage[key]
    busy = [v for v in values if v > 0]
    top, med = max(values, default=0), statistics.median(busy) if busy else 0
    ratio = round(top / med, 2) if med else None
    return {"stage": stage["stage"], "max": top, "median_busy": med, "max_over_median": ratio}


def profile(spark, spec, sf: str) -> dict:
    from parquet_query_spark.oracle import compare
    from parquet_query_spark.plans import stage_metrics

    def build_and_collect():
        df = spec.fn(spark, sf)
        return df, df.collect()

    t0 = time.perf_counter()
    (df, rows), jobs, stages = stage_metrics(spark, build_and_collect)
    out = {
        "op": spec.name,
        "sf": sf,
        "wall_s": round(time.perf_counter() - t0, 3),
        "jobs": len(jobs),
        "stages": len(stages),
        "rows": len(rows),
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "stage_table": [{k: v for k, v in s.items() if not k.startswith("task_")} for s in stages],
    }
    if stages:
        out["write_records_spread"] = spread(
            max(stages, key=lambda s: s["shuffle_write_records"]), "task_write_records"
        )
        out["task_ms_spread"] = spread(max(stages, key=lambda s: s["executor_run_ms"]), "task_ms")
    out["oracle_match"] = compare(spark, sf, df, spec.oracle)["match"] if spec.oracle else None
    return out


def main() -> None:
    argv = sys.argv[1:]
    sf = os.environ.get("SPARK_GRAFT_SF_DIR")
    if "--sf" in argv:
        i = argv.index("--sf")
        sf = argv[i + 1]
        del argv[i : i + 2]
    if not argv or not sf:
        sys.exit(__doc__)
    from parquet_query_spark.operators.catalog import load_all
    from parquet_query_spark.session import get_spark

    spark = get_spark("plan-stages")
    catalog = load_all()
    for name in argv:
        print(json.dumps(profile(spark, catalog[name], sf)), flush=True)


if __name__ == "__main__":
    main()
