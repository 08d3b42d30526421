"""Late / out-of-order data across a micro-batch boundary (VERDICT r9 #3).

The multi-batch harness (test_streaming_multibatch.py) splits time-SORTED
halves, so watermark *dropping* never fired in a test.  Here planted rows
arrive in a third file after the watermark has advanced past them, and the
assertions pin Spark's actual late-data semantics per operator shape
(probed r10 on local[32], multipleWatermarkPolicy=min default):

- windowed aggregation in COMPLETE mode never drops late input — state is
  never evicted, so a too-late row still merges into its window and the
  result equals the batch oracle over ALL rows (numRowsDroppedByWatermark
  stays 0 for this shape);
- session windows DROP a too-late input row even in complete mode
  (SessionWindowStateStoreSaveExec filters input against the watermark),
  while an out-of-order row above the watermark still merges its session;
- stream-stream interval joins drop input rows below the GLOBAL watermark
  (the min across both sides) — so drops only begin once both sides have
  advanced — and an out-of-order-but-above-watermark row still joins;
- the stateless ingest screen has no watermark and admits any arrival
  order bit-identically.

Drop expectations compare the streamed result against the batch oracle
computed over a CLEAN twin directory that excludes exactly the planted
too-late rows (and includes the planted keep rows), so a silent keep or a
spurious drop both fail the hash.

The watermark used while batch N runs derives from data seen through an
EARLIER batch (it can lag one batch), so planted too-late rows sit far
below the watermark computable from file0 alone, and planted keep rows
sit above the watermark computable from file0+file1 — deterministic under
any lag.  Margins are asserted, not assumed.
"""

import os
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parquet_query_spark.operators.catalog import load_all
from parquet_query_spark.oracle import compare
from parquet_query_spark.streaming import streaming_ops

CATALOG = load_all()
SF_SRC = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def one_file_per_trigger():
    streaming_ops._STREAM_READ_OPTIONS["maxFilesPerTrigger"] = "1"
    yield
    streaming_ops._STREAM_READ_OPTIONS.clear()


def _dropped_late(spark, view: str, key: str) -> int:
    """The admission-loss total in a stateful drive's sink view:
    ``dropped_late`` is cumulative per key, so the max per key, summed."""
    per_key = spark.table(view).groupBy(key).agg(F.max("dropped_late").alias("d"))
    return per_key.agg(F.coalesce(F.sum("d"), F.lit(0))).collect()[0][0]


def _copy_side_tables(root: str, skip: str) -> None:
    os.makedirs(root, exist_ok=True)
    for f in os.listdir(SF_SRC):
        if f != skip:
            shutil.copy(os.path.join(SF_SRC, f), os.path.join(root, f))


def _write_parts(dst_dir: str, schema: pa.Schema, parts: list[pd.DataFrame]) -> None:
    os.makedirs(dst_dir, exist_ok=True)
    for i, part in enumerate(parts):
        path = os.path.join(dst_dir, f"part-0000{i}.parquet")
        pq.write_table(
            pa.Table.from_pandas(part.reset_index(drop=True), schema=schema),
            path,
            version="2.6",
        )
        os.utime(path, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))


def _events_base():
    t = pq.read_table(os.path.join(SF_SRC, "events.parquet"))
    df = t.to_pandas().sort_values(["ts", "event_id"]).reset_index(drop=True)
    return t.schema, df


def _planted(df: pd.DataFrame, **overrides) -> pd.DataFrame:
    row = df.iloc[0].to_dict()
    row.update(overrides)
    out = pd.DataFrame([row])
    out["ts"] = pd.to_datetime(out["ts"]).astype("datetime64[us]")
    return out


def _split_with_plants(root, schema, base, plants_late, plants_keep):
    """events dir = [file0, file1, file2] where file2 carries the tail of
    the base data plus every planted row; returns (wm_floor, wm_ceiling)
    = max ts of file0 / of file0+file1, for margin asserts."""
    n = len(base)
    f0, f1, f2 = base.iloc[: n * 2 // 5], base.iloc[n * 2 // 5 : n * 4 // 5], base.iloc[n * 4 // 5 :]
    file2 = pd.concat([f2] + plants_late + plants_keep, ignore_index=True)
    _write_parts(os.path.join(root, "events.parquet"), schema, [f0, f1, file2])
    return f0["ts"].max(), f1["ts"].max()


def test_tumbling_complete_mode_keeps_too_late_rows(spark, tmp_path, stream_drive):
    """Complete-mode windowed agg: a row hours older than the watermark
    still merges into its (long-closed) window — complete mode never
    evicts state, so the drained result equals the batch oracle over ALL
    rows including the late one."""
    schema, base = _events_base()
    late = _planted(
        base,
        event_id=100001,
        ts=base["ts"].min() + pd.Timedelta(minutes=7),
        event_type="view",
        value=123.45,
        user_id=3,
    )
    root = str(tmp_path / "late_tumbling")
    _copy_side_tables(root, skip="events.parquet")
    wm_floor, _ = _split_with_plants(root, schema, base, [late], [])
    assert late["ts"].iloc[0] < wm_floor - pd.Timedelta(hours=4)

    spec = CATALOG["streaming_tumbling_counts"]
    df = spec.fn(spark, root)
    assert stream_drive()[1] >= 3
    report = compare(spark, root, df, spec.oracle)
    assert report["match"], report


def test_session_windows_drop_and_keep_across_watermark(spark, tmp_path, stream_drive):
    """Session windows (2h watermark): a planted session far below the
    watermark is DROPPED (its user never appears), while an out-of-order
    two-event session above the watermark is kept and merged.  The
    streamed result must equal the batch oracle over base + keep rows."""
    schema, base = _events_base()
    t_max = base["ts"].max()
    late = _planted(
        base, event_id=100011, user_id=9101,
        ts=base["ts"].min() + pd.Timedelta(minutes=11),
    )
    keep_a = _planted(base, event_id=100012, user_id=9102,
                      ts=t_max - pd.Timedelta(minutes=40))
    keep_b = _planted(base, event_id=100013, user_id=9102,
                      ts=t_max - pd.Timedelta(minutes=35))

    root = str(tmp_path / "late_sessions")
    _copy_side_tables(root, skip="events.parquet")
    wm_floor, wm_ceil = _split_with_plants(
        root, schema, base, [late], [keep_a, keep_b]
    )
    # dropped under any watermark lag; kept under any watermark lag
    assert late["ts"].iloc[0] + pd.Timedelta(minutes=30) < wm_floor - pd.Timedelta(hours=3)
    assert keep_a["ts"].iloc[0] > wm_ceil - pd.Timedelta(hours=1)

    spec = CATALOG["streaming_session_windows"]
    df = spec.fn(spark, root)
    assert stream_drive()[1] >= 3
    rows = {r["user_id"]: (r["n_sessions"], r["n_events"]) for r in df.collect()}
    assert 9101 not in rows, "too-late session survived the watermark"
    assert rows.get(9102) == (1, 2), "within-lateness session lost or split"

    # full-precision differential: oracle over base + keeps (no late row)
    clean = str(tmp_path / "clean_sessions")
    _copy_side_tables(clean, skip="events.parquet")
    _write_parts(
        os.path.join(clean, "events.parquet"), schema,
        [pd.concat([base, keep_a, keep_b], ignore_index=True)],
    )
    report = compare(spark, clean, df, spec.oracle)
    assert report["match"], report
    # sanity: the late row is NOT semantically invisible — the full-data
    # oracle disagrees, so the drop assertion above has teeth
    assert not compare(spark, root, df, spec.oracle)["match"]


def test_stream_stream_join_drop_and_keep_across_watermark(spark, tmp_path, stream_drive):
    """Stream-stream interval join (1h watermarks both sides, global
    watermark = min): a planted view+purchase pair far below the global
    watermark is dropped on input (the pair never joins), while an
    out-of-order pair above the watermark still joins."""
    schema, base = _events_base()
    t_max = base["ts"].max()
    late_v = _planted(base, event_id=100021, user_id=9201, event_type="view",
                      ts=base["ts"].min() + pd.Timedelta(minutes=13))
    late_p = _planted(base, event_id=100022, user_id=9201, event_type="purchase",
                      ts=base["ts"].min() + pd.Timedelta(minutes=43))
    keep_v = _planted(base, event_id=100023, user_id=9202, event_type="view",
                      ts=t_max - pd.Timedelta(minutes=30))
    keep_p = _planted(base, event_id=100024, user_id=9202, event_type="purchase",
                      ts=t_max - pd.Timedelta(minutes=10))

    root = str(tmp_path / "late_ssjoin")
    _copy_side_tables(root, skip="events.parquet")
    wm_floor, wm_ceil = _split_with_plants(
        root, schema, base, [late_v, late_p], [keep_v, keep_p]
    )
    # both event types must exist in file0 AND file1 or the min-watermark
    # never advances and nothing can drop
    n = len(base)
    for part in (base.iloc[: n * 2 // 5], base.iloc[n * 2 // 5 : n * 4 // 5]):
        assert {"view", "purchase"} <= set(part["event_type"])
    assert late_p["ts"].iloc[0] < wm_floor - pd.Timedelta(hours=4)
    assert keep_v["ts"].iloc[0] > wm_ceil - pd.Timedelta(hours=1)

    spec = CATALOG["streaming_stream_stream_join"]
    df = spec.fn(spark, root)
    assert stream_drive()[1] >= 3
    pairs = {(r["purchase_id"], r["view_id"]) for r in df.collect()}
    assert (100022, 100021) not in pairs, "too-late pair survived the watermark"
    assert (100024, 100023) in pairs, "within-lateness pair failed to join"

    clean = str(tmp_path / "clean_ssjoin")
    _copy_side_tables(clean, skip="events.parquet")
    _write_parts(
        os.path.join(clean, "events.parquet"), schema,
        [pd.concat([base, keep_v, keep_p], ignore_index=True)],
    )
    report = compare(spark, clean, df, spec.oracle)
    assert report["match"], report
    assert not compare(spark, root, df, spec.oracle)["match"]


def test_ingest_decontaminate_order_insensitive(spark, tmp_path, stream_drive):
    """The stateless ingest screen has no watermark: documents arriving in
    a fully interleaved (non-time, non-id) order across two batches admit
    and reject bit-identically to the batch oracle."""
    t = pq.read_table(os.path.join(SF_SRC, "documents.parquet"))
    df = t.to_pandas().reset_index(drop=True)
    root = str(tmp_path / "late_decon")
    _copy_side_tables(root, skip="documents.parquet")
    # odd/even doc_id interleave: batch 2 delivers ids all over the range
    _write_parts(
        os.path.join(root, "documents.parquet"), t.schema,
        [df[df["doc_id"] % 2 == 0], df[df["doc_id"] % 2 == 1]],
    )
    spec = CATALOG["streaming_ingest_decontaminate"]
    out = spec.fn(spark, root)
    assert stream_drive()[1] >= 2
    report = compare(spark, root, out, spec.oracle)
    assert report["match"], report


def test_dedup_by_key_admits_late_rows(spark, tmp_path, stream_drive):
    """streaming_dedup_by_key (dropDuplicates + 1h watermark): probed
    r10 — the watermark bounds the DEDUP STATE, it does not filter late
    input (numRowsDroppedByWatermark stays 0), so a new-keyed event
    arriving far below the watermark is still admitted and counted and
    the drained result equals the full-data batch oracle.  (A late
    DUPLICATE whose key state was already evicted could re-count — a
    documented state-eviction trade, timing-dependent, not pinned.)"""
    schema, base = _events_base()
    t_max = base["ts"].max()
    late_new = _planted(
        base, event_id=100031, user_id=9301, event_type="view",
        ts=base["ts"].min() + pd.Timedelta(minutes=17),
    )
    keep_new = _planted(
        base, event_id=100032, user_id=9301, event_type="view",
        ts=t_max - pd.Timedelta(minutes=20),
    )
    root = str(tmp_path / "late_dedupkey")
    _copy_side_tables(root, skip="events.parquet")
    wm_floor, _ = _split_with_plants(root, schema, base, [late_new], [keep_new])
    assert late_new["ts"].iloc[0] < wm_floor - pd.Timedelta(hours=4)

    spec = CATALOG["streaming_dedup_by_key"]
    df = spec.fn(spark, root)
    assert stream_drive()[1] >= 3
    report = compare(spark, root, df, spec.oracle)
    assert report["match"], report


# ---------------------------------------------------------------------------
# r11 (VERDICT r10 #4): the applyInPandasWithState quartet + complete-mode
# OHLC.  These state machines have NO watermark (NoTimeout), so "late" means
# out-of-ORDER relative to per-key state, not below-watermark — each test
# pins the operator's admission rule against a clean-twin batch oracle.
# ---------------------------------------------------------------------------


def test_stateful_user_totals_admits_late_rows(spark, tmp_path, stream_drive):
    """streaming_stateful_user_totals (applyInPandasWithState, NoTimeout):
    count/sum state is arrival-order-INSENSITIVE, so rows arriving days
    below any would-be watermark still fold in and the drained result
    equals the batch oracle over ALL rows including the late ones."""
    schema, base = _events_base()
    late_existing = _planted(
        base, event_id=100041, user_id=14, event_type="view", value=55.55,
        ts=base["ts"].min() + pd.Timedelta(minutes=23),
    )
    late_new = _planted(
        base, event_id=100042, user_id=9401, event_type="click", value=7.25,
        ts=base["ts"].min() + pd.Timedelta(minutes=29),
    )
    root = str(tmp_path / "late_totals")
    _copy_side_tables(root, skip="events.parquet")
    wm_floor, _ = _split_with_plants(root, schema, base, [late_existing, late_new], [])
    assert late_new["ts"].iloc[0] < wm_floor - pd.Timedelta(hours=4)

    spec = CATALOG["streaming_stateful_user_totals"]
    df = spec.fn(spark, root)
    assert stream_drive()[1] >= 3
    report = compare(spark, root, df, spec.oracle)
    assert report["match"], report


def test_hourly_ohlc_complete_mode_merges_late_rows(spark, tmp_path, stream_drive):
    """streaming_hourly_ohlc (watermarked windowed agg, COMPLETE mode):
    complete mode never evicts window state, so a row arriving days after
    its bar closed still merges — here it rewrites the bar's OPEN and HIGH
    (min_by key ordering), proving the merge has teeth, and the drained
    result equals the batch oracle over ALL rows."""
    schema, base = _events_base()
    views = base[base["event_type"] == "view"]
    bar = views["ts"].min().floor("h")
    late = _planted(
        base, event_id=100051, user_id=14, event_type="view", value=777.77,
        ts=bar + pd.Timedelta(seconds=1),
    )
    # the plant opens its bar: earlier than every base event in that hour
    in_bar = views[views["ts"].dt.floor("h") == bar]
    assert late["ts"].iloc[0] < in_bar["ts"].min()
    root = str(tmp_path / "late_ohlc")
    _copy_side_tables(root, skip="events.parquet")
    wm_floor, _ = _split_with_plants(root, schema, base, [late], [])
    assert late["ts"].iloc[0] < wm_floor - pd.Timedelta(hours=4)

    spec = CATALOG["streaming_hourly_ohlc"]
    df = spec.fn(spark, root)
    assert stream_drive()[1] >= 3
    report = compare(spark, root, df, spec.oracle)
    assert report["match"], report
    # sanity: without the late row the oracle disagrees (open/high moved)
    clean = str(tmp_path / "clean_ohlc")
    _copy_side_tables(clean, skip="events.parquet")
    _write_parts(os.path.join(clean, "events.parquet"), schema, [base])
    assert not compare(spark, clean, df, spec.oracle)["match"]


def _view_bars_through_file1(base):
    """Distinct 'view' hour-bars the EWMA ring has seen before file2's
    batch (files split 2/5 | 2/5 | 1/5 in time order)."""
    n = len(base)
    f01 = base.iloc[: n * 4 // 5]
    sub = f01[f01["event_type"] == "view"]
    return sorted(pd.to_datetime(sub["ts"]).dt.floor("h").unique())


def test_ewma_late_bars_within_window_admitted_exactly(spark, tmp_path, stream_drive):
    """streaming_ewma_hourly: the order-SENSITIVE ring.  A late bar
    inserted ≤16 positions from the ring tail (and a late contribution
    MERGED into such a bar) is re-emitted batch-exactly — retention is
    2×16 bars precisely so these re-emissions keep complete 16-tap
    windows (r11 fix; the old 16-bar ring silently truncated them).  The
    drained result equals the batch oracle over ALL rows."""
    schema, base = _events_base()
    bars = _view_bars_through_file1(base)
    all_bars = set(pd.to_datetime(base[base["event_type"] == "view"]["ts"]).dt.floor("h").unique())
    assert len(bars) >= 32, "ring must be at retention for the test to bite"
    # empty hour a few ring positions below the tail -> admitted insert:
    # scan between adjacent ringed bars in the last ~10 positions
    insert_hour = next(
        h
        for i in range(2, 11)
        for k in range(1, 96)
        for h in [bars[-i - 1] + pd.Timedelta(hours=k)]
        if h < bars[-i] and h not in all_bars
    )
    newer_than_insert = sum(1 for b in bars[-32:] if b > insert_hour)
    assert 1 <= newer_than_insert <= 15
    merge_hour = bars[-2]  # existing bar, 1 ringed bar newer -> idx 30
    late_insert = _planted(
        base, event_id=100061, user_id=14, event_type="view", value=41.41,
        ts=insert_hour + pd.Timedelta(minutes=7),
    )
    late_merge = _planted(
        base, event_id=100062, user_id=14, event_type="view", value=52.52,
        ts=merge_hour + pd.Timedelta(minutes=9),
    )
    root = str(tmp_path / "late_ewma_keep")
    _copy_side_tables(root, skip="events.parquet")
    _split_with_plants(root, schema, base, [late_insert, late_merge], [])

    spec = CATALOG["streaming_ewma_hourly"]
    df = spec.fn(spark, root)
    name, batches = stream_drive()
    assert batches >= 3
    report = compare(spark, root, df, spec.oracle)
    assert report["match"], report
    # both plants were admitted — the admission-loss counter reads zero
    assert _dropped_late(spark, name, "event_type") == 0
    # sanity: the plants are not invisible — the no-plant oracle disagrees
    clean = str(tmp_path / "clean_ewma_keep")
    _copy_side_tables(clean, skip="events.parquet")
    _write_parts(os.path.join(clean, "events.parquet"), schema, [base])
    assert not compare(spark, clean, df, spec.oracle)["match"]


def test_ewma_too_late_bars_dropped(spark, tmp_path, stream_drive):
    """streaming_ewma_hourly: a bar arriving ~20 positions below the ring
    tail cannot have its (or its successors') 16-tap windows rebuilt from
    bounded state — it is DROPPED (insert and merge alike) instead of the
    pre-r11 behavior, which admitted it and re-emitted successors with
    silently truncated windows.  Streamed result equals the clean-twin
    oracle (plants excluded) and differs from the full-data oracle."""
    schema, base = _events_base()
    bars = _view_bars_through_file1(base)
    all_bars = set(pd.to_datetime(base[base["event_type"] == "view"]["ts"]).dt.floor("h").unique())
    assert len(bars) >= 32
    # empty hour with >16 ringed bars newer -> dropped insert: scan the
    # hours between bars[-22] and bars[-19] for one with no existing bar
    deep_insert = next(
        h
        for k in range(1, 96)
        for h in [bars[-22] + pd.Timedelta(hours=k)]
        if h not in all_bars and h < bars[-19]
    )
    newer = sum(1 for b in bars[-32:] if b > deep_insert)
    assert newer > 16, f"insert must be deeper than 16 ring positions ({newer})"
    merge_hour = bars[-22]  # existing bar, 21 ringed bars newer -> idx 10
    assert sum(1 for b in bars[-32:] if b > merge_hour) > 17
    late_insert = _planted(
        base, event_id=100071, user_id=14, event_type="view", value=63.63,
        ts=deep_insert + pd.Timedelta(minutes=11),
    )
    late_merge = _planted(
        base, event_id=100072, user_id=14, event_type="view", value=74.74,
        ts=merge_hour + pd.Timedelta(minutes=13),
    )
    root = str(tmp_path / "late_ewma_drop")
    _copy_side_tables(root, skip="events.parquet")
    _split_with_plants(root, schema, base, [late_insert, late_merge], [])

    spec = CATALOG["streaming_ewma_hourly"]
    df = spec.fn(spark, root)
    name, batches = stream_drive()
    assert batches >= 3
    # the two planted too-late contributions are dropped AND counted
    # (r12, VERDICT #5 — observability, not silence)
    assert _dropped_late(spark, name, "event_type") == 2
    clean = str(tmp_path / "clean_ewma_drop")
    _copy_side_tables(clean, skip="events.parquet")
    _write_parts(os.path.join(clean, "events.parquet"), schema, [base])
    report = compare(spark, clean, df, spec.oracle)
    assert report["match"], report
    assert not compare(spark, root, df, spec.oracle)["match"]


def test_bot_cadence_drops_out_of_order_keeps_in_order(spark, tmp_path, stream_drive):
    """streaming_bot_cadence: gap moments need monotone per-key event
    time — an out-of-order arrival would retro-split a historical gap,
    which O(1) state cannot express (the pre-r11 code diffed a NEGATIVE
    gap into Σg/Σg², corrupting the moments).  Out-of-order events are
    dropped at admission; in-order events keep folding.  Streamed equals
    the clean-twin oracle (late row excluded) and differs from the
    full-data oracle (which would re-split the gap)."""
    schema, base = _events_base()
    n = len(base)
    f01 = base.iloc[: n * 4 // 5]
    u14_last = f01[f01["user_id"] == 14]["ts"].max()
    u14_first = base[base["user_id"] == 14]["ts"].min()
    late_ts = u14_last - pd.Timedelta(days=1, minutes=3)
    assert u14_first < late_ts < u14_last
    late = _planted(base, event_id=100081, user_id=14, event_type="view",
                    ts=late_ts)
    keep = _planted(base, event_id=100082, user_id=14, event_type="view",
                    ts=base["ts"].max() + pd.Timedelta(minutes=5))
    root = str(tmp_path / "late_cadence")
    _copy_side_tables(root, skip="events.parquet")
    _split_with_plants(root, schema, base, [late], [keep])

    spec = CATALOG["streaming_bot_cadence"]
    df = spec.fn(spark, root)
    name, batches = stream_drive()
    assert batches >= 3
    # the planted out-of-order event is dropped AND counted (r12 #5)
    assert _dropped_late(spark, name, "user_id") == 1
    clean = str(tmp_path / "clean_cadence")
    _copy_side_tables(clean, skip="events.parquet")
    _write_parts(
        os.path.join(clean, "events.parquet"), schema,
        [pd.concat([base, keep], ignore_index=True)],
    )
    report = compare(spark, clean, df, spec.oracle)
    assert report["match"], report
    assert not compare(spark, root, df, spec.oracle)["match"]
