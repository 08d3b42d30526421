"""Custom stateful streaming operators (applyInPandasWithState) + exactly-
once sinks (foreachBatch).

These cover the streaming API surface the built-in windowed aggregations
can't express: arbitrary per-key state machines.  The demo operator tracks a
per-user running spend total and emits one row per micro-batch per user with
the cumulative value — the canonical shape for feature backfills and online
aggregation at scale (state lives in the state store, partitioned by key;
nothing accumulates on the driver).
"""

from __future__ import annotations

import bisect

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from parquet_query_spark.operators.catalog import query
from parquet_query_spark.operators.events_ops import _BOT_CADENCE_ORACLE
from parquet_query_spark.operators.temporal import _EWMA_ORACLE
from parquet_query_spark.streaming.streaming_ops import _events_stream, _run_to_table

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)


def _track_user_totals(key, pdf_iter, state: GroupState):
    """Per-user state machine: fold micro-batch rows into (count, sum)."""
    import pandas as pd

    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdf_iter:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
    )


@query(
    "streaming_stateful_user_totals",
    oracle="""
SELECT user_id, COUNT(*) AS n_events, round(SUM(value), 2) AS total_value
FROM events
GROUP BY user_id
""",
    tags=("streaming", "stateful", "pandas-udf"),
)
def streaming_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful processing via applyInPandasWithState.

    After the stream drains the static file, per-user totals must equal the
    batch GROUP BY — that equivalence is the oracle.  (Update-mode emission
    means one row per user per batch; the single-batch drain makes the final
    table comparable.)"""
    stream, source_bytes = _events_stream(spark, sf_dir)
    totals = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            _track_user_totals,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    name = _run_to_table(totals, "stateful", source_bytes, mode="update")
    # last emission per user wins (update mode may emit once per micro-batch)
    emitted = spark.table(name)
    w = W.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        emitted.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
    )


@query(
    "streaming_foreach_batch_sink",
    oracle="""
SELECT event_type, COUNT(*) AS n
FROM events
GROUP BY event_type
""",
    tags=("streaming", "sink"),
)
def streaming_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch: the exactly-once custom-sink shape.

    ``_run_to_table``'s sink is this shape: in complete mode each
    micro-batch overwrites the output directory as a whole, so a replayed
    batch rewrites its output instead of adding to it — the same
    idempotence pattern used for JDBC/object-store sinks."""
    stream, source_bytes = _events_stream(spark, sf_dir)
    counts = stream.groupBy("event_type").agg(F.count("*").alias("n"))
    name = _run_to_table(counts, "feb", source_bytes)
    return spark.table(name)


_EWMA_TAPS = 16
# Ring RETENTION is 2× the EWMA window: a late bar inserted mid-ring
# forces re-emission of every bar at/after it, and each re-emitted bar
# needs its full 16 predecessors IN the ring to reproduce the batch EWMA
# — with retention 32, any insert at position >= 16 is batch-exact, and
# anything later than that is dropped instead of silently re-emitted
# with a truncated window (r11 late-data fix; state stays O(32)/key).
_EWMA_RETAIN = 2 * _EWMA_TAPS

_EWMA_OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("hour_ts", T.TimestampType()),
        T.StructField("cents", T.LongType()),
        T.StructField("ewma_micro", T.LongType()),
        # per-key emission counter: a bar split across micro-batches is
        # RE-emitted with its merged totals, and the reader keeps the
        # highest-seq row per (key, hour) — last-write-wins
        T.StructField("seq", T.LongType()),
        # cumulative per-key count of late contributions DROPPED at
        # admission (below the reconstructible ring window) — rides on
        # every emission so an operator can alarm on admission loss
        # instead of the r11 behavior of dropping silently (r12,
        # VERDICT #5).  A batch that only drops emits a sentinel row
        # (NULL hour_ts) so the count is never deferred.
        T.StructField("dropped_late", T.LongType()),
    ]
)
# Ring buffer of the last 16 observed hourly bars per key + emission seq
# + cumulative dropped-late counter.
_EWMA_STATE_SCHEMA = T.StructType(
    [
        T.StructField("hours_us", T.ArrayType(T.LongType())),
        T.StructField("cents", T.ArrayType(T.LongType())),
        T.StructField("seq", T.LongType()),
        T.StructField("dropped", T.LongType()),
    ]
)


def _ewma_state_fn(key, pdf_iter, state: GroupState):
    """Per-type state machine: fold micro-batch events into hourly cents
    bars, then emit each bar's 16-tap alpha=1/2 EWMA continuing from the
    ring of previously-observed bars.  All arithmetic is the exact integer
    form of the batch operator (cents = half-away-round(value*100) summed
    as int64; weights 2^15..2^0; floor division into micro-units), so a
    drain of the static file reproduces the batch oracle bit-for-bit and a
    live run computes the same bars incrementally in O(16) state per key.

    Cross-batch correctness (multi-batch r8 fix): an hour whose events
    span a micro-batch boundary is MERGED into its existing ring slot
    (not appended as a duplicate bar), and the bar — plus any bars after
    it — is re-emitted with recomputed EWMA; the monotone ``seq`` lets
    the reader keep only the final emission per bar.

    Late-data admission (r11 fix): a re-emitted bar is only batch-exact
    when its full 16-tap window is reconstructible from the ring.  The
    ring retains 2×16 bars; once it may have evicted (len == retain), a
    late INSERT needs position >= 16 (so every re-emitted bar keeps 15
    in-ring predecessors after the head eviction) and a late MERGE needs
    position >= 15 — anything older is DROPPED, bounded-state's honest
    answer, instead of the pre-r11 behavior (admit and re-emit with a
    silently truncated window, diverging from the batch twin).  While
    the ring has never evicted it holds the key's complete bar history,
    so arbitrarily-late bars are admitted exactly."""
    import numpy as np
    import pandas as pd

    hours_us, ring, seq, dropped = ([], [], 0, 0) if not state.exists else (
        list(state.get[0]),
        list(state.get[1]),
        int(state.get[2]),
        int(state.get[3]),
    )
    dropped_before = dropped
    per_hour: dict[int, int] = {}
    for pdf in pdf_iter:
        if len(pdf) == 0:
            continue
        ts = pd.to_datetime(pdf["ts"])
        hour_us = (ts.dt.floor("h").astype("int64") // 1000).astype("int64")
        v = pdf["value"].to_numpy(dtype=np.float64) * 100.0
        cents = np.copysign(np.floor(np.abs(v) + 0.5), v).astype(np.int64)
        for h, c in zip(hour_us, cents):
            per_hour[int(h)] = per_hour.get(int(h), 0) + int(c)

    def ewma_at(j: int) -> int:
        window = ring[max(0, j - _EWMA_TAPS + 1) : j + 1]
        num = 0
        den = 0
        for i, c in enumerate(reversed(window)):
            w = 1 << (_EWMA_TAPS - 1 - i)
            num += c * w
            den += w
        return num * 1_000_000 // den

    out_rows = []
    for h in sorted(per_hour):
        # "may have evicted": once length reaches the retention cap we
        # can no longer distinguish exactly-32-bars-total from a ring
        # that dropped its head — treat it conservatively as evicted
        may_have_evicted = len(ring) >= _EWMA_RETAIN
        if h in hours_us:  # boundary-split hour: merge, don't duplicate
            idx = hours_us.index(h)
            if may_have_evicted and idx < _EWMA_TAPS - 1:
                # the bar's 16-tap window would read evicted predecessors
                # — recomputing would silently truncate; drop the late
                # contribution instead (r11), counted for observability
                # (r12, VERDICT #5)
                dropped += 1
                continue
            ring[idx] += per_hour[h]
            # this bar's total changed, so its EWMA — and every later
            # bar's — must be re-emitted with the merged values
            for j in range(idx, len(ring)):
                seq += 1
                out_rows.append((hours_us[j], ring[j], ewma_at(j), seq))
        else:
            # SORTED insert (r9 ADVICE fix): a late hour arriving after
            # newer bars were ringed used to be appended at the tail,
            # leaving hours_us unsorted so every later merge and EWMA
            # window read positionally-misordered bars.
            idx = bisect.bisect_left(hours_us, h)
            if may_have_evicted and idx < _EWMA_TAPS:
                # insert would evict the head, shifting every re-emitted
                # bar one position down — position >= 16 pre-insert keeps
                # all their 16-tap windows complete; older is DROPPED
                # (late data beyond the reconstructible window, r11),
                # counted for observability (r12, VERDICT #5)
                dropped += 1
                continue
            hours_us.insert(idx, h)
            ring.insert(idx, per_hour[h])
            if len(ring) > _EWMA_RETAIN:
                hours_us = hours_us[-_EWMA_RETAIN:]
                ring = ring[-_EWMA_RETAIN:]
                idx -= 1
            # a mid-ring insert shifts the EWMA window of every bar at or
            # after it — re-emit them all (tail append re-emits just the
            # new bar, the pre-r9 behavior)
            for j in range(idx, len(ring)):
                seq += 1
                out_rows.append((hours_us[j], ring[j], ewma_at(j), seq))
    if not out_rows and dropped > dropped_before:
        # a batch whose every contribution was too late would otherwise
        # defer the counter to the next emission — surface it now via a
        # sentinel row (NULL hour_ts; readers filter it out)
        seq += 1
        out_rows.append((None, None, None, seq))
    state.update((hours_us, ring, seq, dropped))
    yield pd.DataFrame(
        {
            "event_type": [key[0]] * len(out_rows),
            "hour_ts": pd.to_datetime(
                [r[0] * 1000 if r[0] is not None else None for r in out_rows],
                utc=True,
            ).tz_localize(None),
            "cents": [r[1] for r in out_rows],
            "ewma_micro": [r[2] for r in out_rows],
            "seq": [r[3] for r in out_rows],
            "dropped_late": [dropped] * len(out_rows),
        }
    )


@query(
    "streaming_ewma_hourly",
    oracle=_EWMA_ORACLE,
    tags=("streaming", "stateful", "temporal", "pandas-udf"),
)
def streaming_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_ewma_hourly``: an order-sensitive per-key
    state machine (applyInPandasWithState) holding a 16-slot ring of the
    last observed hourly bars — unlike the counter/min-max state of the
    other stateful entries, EWMA state depends on arrival ORDER, which is
    exactly what the ring encodes.  Each micro-batch folds its events into
    hourly cents, appends the bars to the ring in hour order, and emits
    the smoothed value continuing the sequence; draining the static file
    in one batch therefore reproduces the batch operator exactly, which is
    the oracle."""
    stream, source_bytes = _events_stream(spark, sf_dir)
    bars = (
        stream.select("event_type", "ts", "value")
        .groupBy("event_type")
        .applyInPandasWithState(
            _ewma_state_fn,
            outputStructType=_EWMA_OUT_SCHEMA,
            stateStructType=_EWMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    name = _run_to_table(bars, "ewma", source_bytes, mode="update")
    # The admission-loss counter (r12, VERDICT #5) stays in the sink view,
    # which has the query's name: dropped_late is cumulative per key, so
    # a live ingest alarms on the sum over keys of the per-key max.
    tbl = spark.table(name)
    # last emission per bar wins: a boundary-split hour is re-emitted with
    # merged totals under a higher per-key seq (multi-batch r8 fix)
    w = W.partitionBy("event_type", "hour_ts").orderBy(F.desc("seq"))
    return (
        tbl.where(F.col("hour_ts").isNotNull())  # counter-only sentinels
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_type", "hour_ts", "cents", "ewma_micro")
    )


_CADENCE_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_gaps", T.LongType()),
        T.StructField("mean_gap_s", T.LongType()),
        T.StructField("metronomic", T.IntegerType()),
        # cumulative per-key count of out-of-order events dropped at
        # admission (r12, VERDICT #5) — observability for admission loss
        T.StructField("dropped_late", T.LongType()),
    ]
)
# O(1) per-key state: last event (ts, id) + the three gap moments + the
# cumulative dropped-late counter.
_CADENCE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_us", T.LongType()),
        T.StructField("last_id", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("sum_s", T.LongType()),
        T.StructField("sumsq_s", T.LongType()),
        T.StructField("dropped", T.LongType()),
    ]
)


def _cadence_state_fn(key, pdf_iter, state: GroupState):
    """Per-user cadence moments, updated incrementally: each arriving
    event contributes one gap to (n, Σg, Σg²) — the whole batch operator
    reduces to three integers of keyed state, which is why the CV
    inequality scales to an unbounded stream.

    Late-data admission (r11 fix): an event arriving with a timestamp
    BEFORE the key's last processed event cannot have its true gaps
    reconstructed from O(1) state (it would retro-split one historical
    gap into two) — the pre-r11 code appended it anyway, diffing a
    NEGATIVE gap into Σg/Σg² and corrupting the moments.  Out-of-order
    arrivals are now dropped at admission (monotone event time per key);
    equal-timestamp arrivals are kept (a zero gap — identical to the
    batch operator's contribution for a timestamp tie).

    r12 key-cardinality rehearsal: this function runs once per key per
    micro-batch — at 768k keys the original pandas body (per-key
    pd.concat + pd.to_datetime + sort_values + an empty typed DataFrame
    for non-emitting keys) dominated the batch and pushed the 64→512×
    key-growth segment superlinear.  The timestamp→microsecond
    conversion now happens JVM-side (``unix_micros`` in the operator's
    select), the body is pure numpy (lexsort mirrors the old
    sort_values(["ts", "event_id"])), and non-emitting keys yield
    nothing."""
    import numpy as np
    import pandas as pd

    last_us, last_id, n, sum_s, sumsq_s, dropped = (
        state.get if state.exists else (None, None, 0, 0, 0, 0)
    )
    chunks = [pdf for pdf in pdf_iter if len(pdf)]
    if chunks:
        if len(chunks) == 1:
            ts_us = chunks[0]["ts_us"].to_numpy()
            ev = chunks[0]["event_id"].to_numpy()
        else:
            ts_us = np.concatenate([c["ts_us"].to_numpy() for c in chunks])
            ev = np.concatenate([c["event_id"].to_numpy() for c in chunks])
        order = np.lexsort((ev, ts_us))
        ts_us, ev = ts_us[order], ev[order]
        if last_us is not None:
            keep = ts_us >= last_us
            dropped += int(len(keep) - keep.sum())  # counted, not silent (r12 #5)
            ts_us, ev = ts_us[keep], ev[keep]
        if len(ts_us):
            sec = ts_us // 1_000_000
            if last_us is not None:
                sec = np.concatenate(([last_us // 1_000_000], sec))
            gaps = np.diff(sec)
            n += int(len(gaps))
            sum_s += int(gaps.sum())
            sumsq_s += int((gaps * gaps).sum())
            last_us = int(ts_us[-1])
            last_id = int(ev[-1])
    state.update((last_us, last_id, n, sum_s, sumsq_s, dropped))
    if n >= 5:
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_gaps": [n],
                "mean_gap_s": [sum_s // n],
                "metronomic": [1 if 100 * n * sumsq_s < 101 * sum_s * sum_s else 0],
                "dropped_late": [dropped],
            }
        )


@query(
    "streaming_bot_cadence",
    oracle=_BOT_CADENCE_ORACLE,
    tags=("streaming", "stateful", "qa", "pandas-udf"),
)
def streaming_bot_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_bot_cadence``: the metronomic-user flag
    maintained LIVE with three integers of state per key (last event +
    gap moment sums) — admission control that can throttle an automation
    burst while it is happening instead of in tomorrow's batch.  The
    pure-integer CV inequality means the drained single-batch run is
    bit-identical to the batch operator, which is the oracle."""
    stream, source_bytes = _events_stream(spark, sf_dir)
    flags = (
        # microsecond conversion stays JVM-side: the state fn runs once
        # per key per batch, so per-key pandas datetime parsing is the
        # scaling hazard at high key cardinality (r12 rehearsal)
        stream.select("user_id", F.unix_micros("ts").alias("ts_us"), "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            _cadence_state_fn,
            outputStructType=_CADENCE_OUT_SCHEMA,
            stateStructType=_CADENCE_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    name = _run_to_table(flags, "cadence", source_bytes, mode="update")
    # Admission loss (r12, VERDICT #5) stays in the sink view, named after
    # the query: dropped_late is cumulative per key, so the total is the
    # sum over keys of the max.
    tbl = spark.table(name)
    # update mode emits once per key per micro-batch; n_gaps is monotone,
    # so the max-n_gaps row per user is the final state (multi-batch r8)
    w = W.partitionBy("user_id").orderBy(F.desc("n_gaps"))
    return (
        tbl
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "n_gaps", "mean_gap_s", "metronomic")
    )
