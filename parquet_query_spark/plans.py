"""Plan and stage inspection helpers: the plan strings the tests assert
pushdown/broadcast on, and ``stage_metrics``, which reads what a run's
stages did from Spark's in-process status store (no UI, no REST)."""

from __future__ import annotations

import uuid
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

T = TypeVar("T")


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class StreamLog(StreamingQueryListener):
    """What Spark's listener bus reports of the streaming queries that
    start: their run ids (each query runs its batches under its run id as
    the job group) and, by query name, the input rows of each micro-batch.
    Read it after the bus is drained."""

    def __init__(self):
        self.runs: list[str] = []
        self.rows: dict[str, list[int]] = {}

    def onQueryStarted(self, event):
        self.runs.append(str(event.runId))

    def onQueryProgress(self, event):
        self.rows.setdefault(event.progress.name, []).append(event.progress.numInputRows)

    def onQueryTerminated(self, event):
        pass


# stage_metrics' per-stage fields and the status store's getters for them
_STAGE_FIELDS = {
    "name": "name",
    "tasks": "numTasks",
    "executor_run_ms": "executorRunTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_read_records": "shuffleReadRecords",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_write_records": "shuffleWriteRecords",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


def stage_metrics(spark: SparkSession, fn: Callable[[], T]) -> tuple[T, list[int], list[dict]]:
    """Run ``fn()`` and read what its jobs did from the status store that
    Spark keeps in-process, with the UI on or off.

    ``fn`` runs under a fresh job group; the job groups of the streaming
    queries it starts count too.  The listener bus is drained before the
    store is read, or it can report zeros and an empty task list.  Stage
    ids come from the status tracker (py4j cannot call the store's
    ``stageList(null)``).  Returns ``fn``'s result, the job ids, and per
    completed stage, in id order, a dict of ``stage``, the
    ``_STAGE_FIELDS`` and, per task, ``task_ms`` and ``task_write_records``
    (shuffle-write records)."""
    sc = spark.sparkContext
    group = f"stage-metrics-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    listener = StreamLog()
    spark.streams.addListener(listener)
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        value = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        spark.streams.removeListener(listener)
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    jobs = sorted(j for g in [group, *listener.runs] for j in tracker.getJobIdsForGroup(g))
    stages = []
    for sid in sorted({s for j in jobs if (info := tracker.getJobInfo(j)) for s in info.stageIds}):
        st = store.lastStageAttempt(sid)
        if st.status().toString() != "COMPLETE":  # skipped (shuffle reused) or failed
            continue
        tasks = store.taskList(sid, st.attemptId(), 2**31 - 1)  # all of them
        tasks = [tasks.apply(i) for i in range(tasks.size())]
        row = {"stage": sid, **{k: getattr(st, getter)() for k, getter in _STAGE_FIELDS.items()}}
        row["task_ms"] = [t.duration().get() for t in tasks if t.duration().isDefined()]
        row["task_write_records"] = [
            t.taskMetrics().get().shuffleWriteMetrics().recordsWritten()
            for t in tasks
            if t.taskMetrics().isDefined()
        ]
        stages.append(row)
    return value, jobs, stages
