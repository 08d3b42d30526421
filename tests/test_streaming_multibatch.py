"""Multi-batch streaming verification (VERDICT r7 Next-round #3).

Every streaming operator is normally driven by ``processAllAvailable()``
over ONE static parquet file, which drains in a single micro-batch — so
cross-batch behavior of order-sensitive state (EWMA ring, OHLC merge,
cadence gap moments, ingest-dedup admission) was never exercised.  Here
the events/documents tables are split into TWO time-ordered part files
inside a ``<table>.parquet`` DIRECTORY and the stream runs with
``maxFilesPerTrigger=1``, forcing state across a real batch boundary;
output must still match the batch DuckDB oracle bit-for-bit.

The r8 cross-batch fixes this pins: a boundary-split hour merges into
its existing EWMA ring slot (and re-emits under a higher seq) instead of
appending a duplicate bar, and update-mode emitters dedup to the final
emission per key.
"""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parquet_query_spark.operators.catalog import load_all
from parquet_query_spark.oracle import compare
from parquet_query_spark.streaming import streaming_ops

CATALOG = load_all()
SF_SRC = "/root/testdata/sf0.001"

MULTIBATCH_OPS = [
    "streaming_ewma_hourly",
    "streaming_hourly_ohlc",
    "streaming_bot_cadence",
    "streaming_corpus_ingest_dedup",
    "streaming_stateful_user_totals",
    "streaming_tumbling_counts",
    # r9 (VERDICT #4): the remaining 6 — incl. the two most state-complex
    # shapes not yet exercised across a batch boundary (the stream-stream
    # interval join's watermark crosses the file split; session windows
    # must MERGE a session whose events span the boundary)
    "streaming_dedup_by_key",
    "streaming_session_windows",
    "streaming_static_join_enrich",
    "streaming_stream_stream_join",
    "streaming_ingest_decontaminate",
    "streaming_foreach_batch_sink",
]


def _split_table(src_file: str, dst_dir: str, sort_cols: list[str], mid: int | None = None) -> None:
    """Write ``dst_dir/part-0000{0,1}.parquet`` as the time-ordered halves
    of ``src_file``; mtimes are staggered so the file stream source picks
    part-00000 first."""
    t = pq.read_table(src_file)
    if sort_cols:
        t = t.sort_by([(c, "ascending") for c in sort_cols])
    os.makedirs(dst_dir, exist_ok=True)
    if mid is None:
        mid = t.num_rows // 2
    for i, chunk in enumerate([t.slice(0, mid), t.slice(mid)]):
        path = os.path.join(dst_dir, f"part-0000{i}.parquet")
        pq.write_table(chunk, path, version="2.6")
        os.utime(path, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))


def _mid_hour_split_point(src_file: str) -> int:
    """A split index INSIDE an hour bucket, so the boundary hour's events
    span both part files — without this the EWMA merge path (the actual
    cross-batch fix) never runs.  Picks the middle of the hour group
    containing the median row and asserts the hour truly splits."""
    import pandas as pd

    df = (
        pq.read_table(src_file, columns=["ts", "event_id", "event_type"])
        .to_pandas()
        .sort_values(["ts", "event_id"])
        .reset_index(drop=True)
    )
    hours = pd.to_datetime(df["ts"]).dt.floor("h")
    # the busiest hour is guaranteed splittable (and, being busy, almost
    # surely has several event types on both sides of its midpoint)
    busy_hour = hours.value_counts().idxmax()
    grp = hours[hours == busy_hour]
    mid = int((grp.index[0] + grp.index[-1] + 1) // 2)
    assert hours.iloc[mid - 1] == hours.iloc[mid], "split must land mid-hour"
    # at least one event_type must have rows in this hour on BOTH sides —
    # the per-key state machine merges per (event_type, hour)
    left = set(df["event_type"][(hours == busy_hour) & (df.index < mid)])
    right = set(df["event_type"][(hours == busy_hour) & (df.index >= mid)])
    assert left & right, "no event_type spans the boundary hour"
    return mid


@pytest.fixture(scope="module")
def split_sf(tmp_path_factory):
    """sf0.001 with events+documents each split into a 2-file directory."""
    root = str(tmp_path_factory.mktemp("sf_split"))
    for f in os.listdir(SF_SRC):
        src = os.path.join(SF_SRC, f)
        if f == "events.parquet":
            _split_table(
                src, os.path.join(root, f), ["ts", "event_id"],
                mid=_mid_hour_split_point(src),
            )
        elif f == "documents.parquet":
            _split_table(src, os.path.join(root, f), ["doc_id"])
        else:
            shutil.copy(src, os.path.join(root, f))
    return root


@pytest.fixture(autouse=True)
def one_file_per_trigger():
    streaming_ops._STREAM_READ_OPTIONS["maxFilesPerTrigger"] = "1"
    yield
    streaming_ops._STREAM_READ_OPTIONS.clear()


@pytest.mark.parametrize("layout", ["file", "parts"])
@pytest.mark.parametrize("table", ["events", "documents"])
def test_file_stream_schema_is_the_inferred_one(spark, sf_dir, split_sf, table, layout):
    """The stream's schema, merged from the part footers on the driver,
    is the one Spark's inference job gives, and its source bytes are the
    parts' sizes."""
    sf = split_sf if layout == "parts" else sf_dir
    path = os.path.join(sf, f"{table}.parquet")
    stream, source_bytes = streaming_ops._file_stream(spark, sf, f"{table}.parquet")
    assert stream.schema == spark.read.parquet(path).schema
    parts = [os.path.join(path, f) for f in os.listdir(path)] if layout == "parts" else [path]
    assert source_bytes == sum(os.path.getsize(p) for p in parts)


@pytest.mark.parametrize("name", MULTIBATCH_OPS)
def test_multibatch_matches_batch_oracle(spark, split_sf, name, stream_drive):
    spec = CATALOG[name]
    df = spec.fn(spark, split_sf)
    report = compare(spark, split_sf, df, spec.oracle)
    batches = stream_drive()[1]
    assert batches >= 2, (
        f"{name} drained in {batches} batch(es) — "
        "state never crossed a micro-batch boundary"
    )
    assert report["match"], report


def test_ewma_late_old_hour_sorted_insert(spark, tmp_path, stream_drive):
    """r9 ADVICE: an hour arriving in a LATER batch that is older than
    already-ringed bars (and not itself in the ring) used to be appended
    at the tail, leaving hours_us unsorted — subsequent merges and EWMA
    windows read positionally-misordered bars.  The ring now does a
    sorted (bisect) insert and re-emits every bar at or after the
    insertion point.

    Shape: events restricted to the first 16 distinct hours, split
    even-indexed hours → part-00000, odd-indexed → part-00001.  Batch 2
    then delivers, for every event type, hours strictly older than bars
    already in its ring (all 5 types hit the insert path; max 10 bars
    per type, so the 16-slot ring never evicts and the drained result
    must equal the batch oracle bit-for-bit)."""
    import pandas as pd
    import pyarrow as pa

    root = str(tmp_path / "sf_late")
    os.makedirs(root, exist_ok=True)
    for f in os.listdir(SF_SRC):
        if f != "events.parquet":
            shutil.copy(os.path.join(SF_SRC, f), os.path.join(root, f))
    t = pq.read_table(os.path.join(SF_SRC, "events.parquet"))
    df = t.to_pandas()
    hours = pd.to_datetime(df["ts"]).dt.floor("h")
    first16 = sorted(hours.unique())[:16]
    hidx = {h: i for i, h in enumerate(first16)}
    keep = hours.isin(first16)
    df = df[keep].copy()
    parity = hours[keep].map(hidx) % 2
    dst = os.path.join(root, "events.parquet")
    os.makedirs(dst, exist_ok=True)
    for i, part in enumerate([df[parity == 0], df[parity == 1]]):
        path = os.path.join(dst, f"part-0000{i}.parquet")
        pq.write_table(
            pa.Table.from_pandas(part.reset_index(drop=True), schema=t.schema),
            path,
            version="2.6",
        )
        os.utime(path, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    spec = CATALOG["streaming_ewma_hourly"]
    out = spec.fn(spark, root)
    report = compare(spark, root, out, spec.oracle)
    assert stream_drive()[1] >= 2
    assert report["match"], report
