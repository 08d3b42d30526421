"""The streaming drive's one sink: foreachBatch into parquet files.

``streaming_ops._run_to_table`` drives every streaming operator.  These
pin its sink contract (per-batch overwrite is replay-idempotent, output
dirs are tracked for removal at exit, the output reads back under the
result's known schema), the adaptive state-partition sizing, that a
build runs no job on the caller's thread, and the failure path (the error reaches the caller; the checkpoint, the running
query and the shuffle-partition setting are all cleaned up).
"""

import glob
import os
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_query_spark.streaming import streaming_ops as so


def test_files_sink_batch_replay_is_idempotent(spark, tmp_path):
    """Re-running a micro-batch write with the same batch_id must not
    duplicate rows — the foreachBatch writer owns a batch=<id> dir and
    overwrites it wholesale (the contract checkpoint recovery assumes)."""
    out_dir = str(tmp_path / "sink")
    os.makedirs(out_dir)

    # reproduce the update-mode branch of _write_batch
    def write_batch(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )

    df = spark.range(5).withColumnRenamed("id", "v")
    write_batch(df, 0)
    write_batch(df, 0)  # replay of the SAME batch id
    write_batch(df, 1)
    got = spark.read.parquet(out_dir)
    assert got.count() == 10  # 5 (batch 0, once) + 5 (batch 1) — no dupes
    # _run_to_table drops the discovery column via select(schema names)
    assert sorted(got.select("v").columns) == ["v"]
    # and the sink-dir registry exists for exit-time cleanup
    assert isinstance(so._SINK_DIRS, list)


def test_files_sink_registers_dirs_for_cleanup(spark, sf_dir):
    from parquet_query_spark.operators.catalog import load_all

    before = len(so._SINK_DIRS)
    load_all()["streaming_tumbling_counts"].fn(spark, sf_dir)
    assert len(so._SINK_DIRS) == before + 1
    assert os.path.isdir(so._SINK_DIRS[-1])


def test_state_partitions_adaptive_sizing(spark):
    """VERDICT r13 #5: streaming state partitions size from source bytes,
    clamped to [cores, 32*cores]."""
    cpus = spark.sparkContext.defaultParallelism
    assert so._state_partitions(spark, 0) == cpus          # tiny corpus: full parallelism
    # ~64 MB per partition, still under the 32*cpus clamp on small boxes
    assert so._state_partitions(spark, 9 << 30) == min(max(cpus, 145), 32 * cpus)
    assert so._state_partitions(spark, 1 << 50) == 32 * cpus     # upper clamp


@pytest.mark.parametrize(
    "name",
    ["streaming_tumbling_counts", "streaming_stateful_user_totals"]  # in the benchmark
    + ["streaming_ewma_hourly", "streaming_bot_cadence"],  # late drops stay in the sink view
)
def test_build_runs_no_caller_job(spark, sf_dir, catalog, name):
    """The source schema comes from the footers and the late-drop count
    stays in the sink view, so a build's only jobs are the drive's, under
    the streaming query's own job group."""

    def caller_jobs(group: str, build) -> list[int]:
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(sc.statusTracker().getJobIdsForGroup(group))

    # the counter sees a caller-thread job: a schema-inference read runs one
    events = os.path.join(sf_dir, "events.parquet")
    assert caller_jobs(f"infer-{name}", lambda: spark.read.parquet(events))
    assert caller_jobs(f"build-{name}", lambda: catalog[name].fn(spark, sf_dir)) == []


_SCHEMA = T.StructType(
    [T.StructField("k", T.LongType()), T.StructField("s", T.StringType())]
)


def _batch_dir(out_dir, batch_id):
    return os.path.join(out_dir, f"pqs_sink_batch={batch_id}")


def _empty_dir(spark, out_dir):
    pass


def _success_only(spark, out_dir):
    os.makedirs(_batch_dir(out_dir, 0))
    open(os.path.join(_batch_dir(out_dir, 0), "_SUCCESS"), "w").close()


def _mixed(spark, out_dir):
    _success_only(spark, out_dir)
    spark.createDataFrame([(1, "a"), (2, "b")], _SCHEMA).write.parquet(
        _batch_dir(out_dir, 1)
    )
    spark.createDataFrame([], _SCHEMA).write.parquet(_batch_dir(out_dir, 2))


@pytest.mark.parametrize(
    "shape, rows",
    [(_empty_dir, []), (_success_only, []), (_mixed, [(1, "a"), (2, "b")])],
    ids=["empty_dir", "success_only_batch", "mixed_batches"],
)
def test_known_schema_read_back(spark, tmp_path, shape, rows):
    """The sink output reads back under the result's schema whatever the
    batches left: nothing at all, a batch dir holding only ``_SUCCESS``,
    or empty and non-empty batch dirs side by side.  The columns are the
    schema's, without the ``pqs_sink_batch`` discovery column."""
    out_dir = str(tmp_path / "sink")
    os.makedirs(out_dir)
    shape(spark, out_dir)
    got = so._read_sink(spark, _SCHEMA, out_dir)
    assert got.columns == ["k", "s"]
    assert [f.dataType for f in got.schema.fields] == [T.LongType(), T.StringType()]
    assert sorted(tuple(r) for r in got.collect()) == rows


@pytest.mark.parametrize("mode", ["complete", "append"])
def test_drive_with_no_output_rows(spark, sf_dir, mode):
    """A drive that emits no rows yields an empty view with the result's
    columns, in whole-dir (complete) and per-batch (append) modes."""
    stream, source_bytes = so._events_stream(spark, sf_dir)
    stream = stream.where(F.col("event_id") < 0)
    if mode == "complete":
        stream = stream.groupBy("event_type").agg(F.count("*").alias("n"))
    else:
        stream = stream.select("event_id", "event_type")
    got = spark.table(so._run_to_table(stream, "no_rows", source_bytes, mode=mode))
    assert got.columns == list(stream.columns)
    assert got.collect() == []


def test_failed_drive_cleans_up(spark, sf_dir):
    """A batch that raises: the error reaches the caller, and the
    checkpoint dir, the running query and the drive's shuffle-partition
    setting do not outlive the drive."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")  # != any drive's count
    try:
        stream, source_bytes = so._events_stream(spark, sf_dir)
        stream = stream.select(
            F.when(
                F.col("event_id") % 5 == 3, F.raise_error(F.lit("drive-probe-fault"))
            )
            .otherwise(F.col("event_id"))
            .alias("event_id")
        )
        with pytest.raises(Exception, match="drive-probe-fault"):
            so._run_to_table(stream, "failprobe", source_bytes, mode="append")
        leaked = glob.glob(os.path.join(tempfile.gettempdir(), "ckpt_failprobe_*"))
        assert leaked == []
        assert spark.streams.active == []
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
