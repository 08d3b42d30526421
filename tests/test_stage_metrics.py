"""Runs are measured through Spark's in-process status store.

``plans.stage_metrics`` reads stage and task metrics with the UI off, and
no script in the repository outside the benchmark reads the Spark REST API
or turns the UI on to measure.
"""

import os
import re

from pyspark.sql import functions as F

from parquet_query_spark.plans import stage_metrics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_stage_metrics_reads_shuffle_with_ui_off(spark):
    assert spark.conf.get("spark.ui.enabled") == "false"
    df = spark.range(0, 20_000, numPartitions=4).groupBy((F.col("id") % 97).alias("k")).count()
    rows, jobs, stages = stage_metrics(spark, df.collect)
    assert len(rows) == 97 and jobs
    writers = [s for s in stages if s["shuffle_write_records"] > 0]
    assert len(writers) == 1 and len(stages) >= 2
    map_stage = writers[0]
    assert map_stage["shuffle_write_bytes"] > 0
    assert map_stage["tasks"] == len(map_stage["task_write_records"]) == 4
    assert sum(map_stage["task_write_records"]) == map_stage["shuffle_write_records"]
    assert all(ms >= 0 for ms in map_stage["task_ms"])


def _py_files() -> list[str]:
    """Every ``*.py`` in the checkout outside ``perfbench/`` and dot dirs."""
    files = []
    for d, dirs, names in os.walk(ROOT):
        dirs[:] = [x for x in dirs if not x.startswith(".") and x != "perfbench"]
        files += [os.path.join(d, f) for f in names if f.endswith(".py")]
    return files


# assembled so that this file does not match itself
_REST_PATH = "/api/" + "v1"
_UI_ON = re.compile(r"""spark\.ui\.enabled["']?\s*[,=:]\s*["']?true""", re.IGNORECASE)


def test_no_script_scrapes_the_rest_api_or_turns_the_ui_on():
    offenders = []
    for path in _py_files():
        with open(path, encoding="utf-8") as f:
            text = f.read()
        if _REST_PATH in text or _UI_ON.search(text):
            offenders.append(os.path.relpath(path, ROOT))
    assert offenders == [], f"measure through plans.stage_metrics instead: {offenders}"
