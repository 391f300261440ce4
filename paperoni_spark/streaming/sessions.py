"""Streaming gap-sessionization: ``applyInPandasWithState`` over events.

The batch shape (operators/sessionize.py) is two windows over a user_id
shuffle; the streaming twin keeps per-user event state across micro-batches
and re-derives that user's sessions on every update.  Sessions are NOT
append-only under late/out-of-order arrivals — a bridging event can merge
two previously-separate sessions — so each update emits the user's full
current session list tagged with a monotone update counter, and the reader
takes each user's latest emission (same last-write-wins readback as
stateful.running_user_totals).  With an ``availableNow`` trigger over a
static directory the final state must equal the batch ``session_stats``
row-for-row — which is exactly what the driver's oracle asserts.

At production scale the state should not hold a user's full history: set an
event-time timeout (GroupStateTimeout.EventTimeTimeout + watermark) and
evict sessions older than the watermark minus the gap — they can never
merge with future events, so they are emitted once as final and dropped
from state.  The availableNow test path keeps full state because the static
corpus is finite and the contract is exact batch parity.
"""

from __future__ import annotations

import uuid
from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.sessionize import DEFAULT_GAP_MINUTES
from .stateful import spark_round
from .windowed import EVENTS_SCHEMA

SESSION_STATE_SCHEMA = StructType(
    [
        StructField("n_updates", LongType()),
        StructField("ts_us", ArrayType(LongType())),
        StructField("event_ids", ArrayType(LongType())),
        StructField("values", ArrayType(DoubleType())),
    ]
)

SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_idx", LongType()),
        StructField("n_events", LongType()),
        StructField("session_start", StringType()),
        StructField("session_end", StringType()),
        StructField("duration_us", LongType()),
        StructField("total_value", DoubleType()),
        StructField("n_updates", LongType()),
    ]
)


def _fmt_ts_us(us_list: list) -> list:
    """``%Y-%m-%d %H:%M:%S`` strings for a list of µs epochs — ONE
    vectorized pandas call per group instead of a pd.Timestamp
    construction + strftime per session (the per-group Python cost
    dominates the stateful stream batches at 10^3 groups/batch;
    formatting is value-identical to the per-element form)."""
    return (
        pd.Series(pd.to_datetime(us_list, unit="us"))
        .dt.strftime("%Y-%m-%d %H:%M:%S")
        .tolist()
    )


def _sessions_from_events(
    user_id: int, ts_us: list, event_ids: list, values: list, gap_us: int, n_upd: int
) -> pd.DataFrame:
    """Re-derive the session list from the user's full event set: sort by
    (ts, event_id) — the batch window's exact ordering — break on gaps.
    The per-event accumulation stays a plain sequential loop: the value
    total must add in exactly the batch window's order (pairwise/numpy
    summation reorders FP adds and can flip the 6th rounded decimal)."""
    order = sorted(range(len(ts_us)), key=lambda i: (ts_us[i], event_ids[i]))
    sessions = []  # [start_us, end_us, n, total]
    cur = None

    for i in order:
        if cur is None or ts_us[i] - cur[1] > gap_us:
            if cur is not None:
                sessions.append(cur)
            cur = [ts_us[i], ts_us[i], 1, values[i]]
        else:
            cur[1] = ts_us[i]
            cur[2] += 1
            cur[3] += values[i]
    if cur is not None:
        sessions.append(cur)
    return pd.DataFrame(
        {
            "user_id": [user_id] * len(sessions),
            "session_idx": list(range(1, len(sessions) + 1)),
            "n_events": [s[2] for s in sessions],
            "session_start": _fmt_ts_us([s[0] for s in sessions]),
            "session_end": _fmt_ts_us([s[1] for s in sessions]),
            "duration_us": [s[1] - s[0] for s in sessions],
            "total_value": [spark_round(s[3], 6) for s in sessions],
            "n_updates": [n_upd] * len(sessions),
        }
    )


def _make_update_fn(gap_minutes: int):
    gap_us = gap_minutes * 60 * 1_000_000

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            n_upd, ts_us, event_ids, values = state.get
            ts_us, event_ids, values = list(ts_us), list(event_ids), list(values)
        else:
            n_upd, ts_us, event_ids, values = 0, [], [], []
        for pdf in pdfs:
            ts_us.extend((pdf["ts"].astype("int64") // 1000).tolist())
            event_ids.extend(pdf["event_id"].astype("int64").tolist())
            values.extend(pdf["value"].astype("float64").tolist())
        n_upd += 1
        state.update((n_upd, ts_us, event_ids, values))
        yield _sessions_from_events(
            user_id, ts_us, event_ids, values, gap_us, n_upd
        )

    return update


SESSION_FINAL_SCHEMA = StructType(SESSION_OUTPUT_SCHEMA.fields[:-1])  # no n_updates

# zero-row template for groups with nothing closed this batch (most
# groups, most batches): building a fresh empty DataFrame from the schema
# per group is a measurable slice of the per-batch Python time at 10^3
# groups.  Each group yields its own (cheap) copy, so nothing downstream
# of the yield can mutate or retype the template for later groups
_EMPTY_FINAL = pd.DataFrame(
    {f.name: [] for f in SESSION_FINAL_SCHEMA.fields}
)

EVICT_STATE_SCHEMA = StructType(
    [
        StructField("base_idx", LongType()),  # sessions already emitted
        StructField("ts_us", ArrayType(LongType())),
        StructField("event_ids", ArrayType(LongType())),
        StructField("values", ArrayType(DoubleType())),
    ]
)


def _sweep_closed(
    user_id, base_idx, ts_us, event_ids, values, gap_us, wm_us
):
    """Derive sessions (sorted (ts, event_id) order), split at the
    watermark: a session is CLOSED iff end < wm − gap (no on-time event,
    ts ≥ wm, can still merge).  Sessions are time-disjoint, so the closed
    set is a prefix of the sorted event arrays.  Returns (rows for the
    closed sessions with batch-identical session_idx = base_idx + i + 1,
    events of the still-open suffix)."""
    order = sorted(range(len(ts_us)), key=lambda i: (ts_us[i], event_ids[i]))
    ts_s = [ts_us[i] for i in order]
    eid_s = [event_ids[i] for i in order]
    val_s = [values[i] for i in order]
    sessions = []  # [start_us, end_us, n, total, first_event_pos]
    for pos, t in enumerate(ts_s):
        if not sessions or t - sessions[-1][1] > gap_us:
            sessions.append([t, t, 1, val_s[pos], pos])
        else:
            cur = sessions[-1]
            cur[1] = t
            cur[2] += 1
            cur[3] += val_s[pos]
    n_closed = 0
    while n_closed < len(sessions) and sessions[n_closed][1] < wm_us - gap_us:
        n_closed += 1
    closed = sessions[:n_closed]
    rows = {
        "user_id": [user_id] * n_closed,
        "session_idx": [base_idx + i + 1 for i in range(n_closed)],
        "n_events": [s[2] for s in closed],
        "session_start": _fmt_ts_us([s[0] for s in closed]),
        "session_end": _fmt_ts_us([s[1] for s in closed]),
        "duration_us": [s[1] - s[0] for s in closed],
        "total_value": [spark_round(s[3], 6) for s in closed],
    }
    cut = sessions[n_closed][4] if n_closed < len(sessions) else len(ts_s)
    return rows, ts_s[cut:], eid_s[cut:], val_s[cut:]


def _make_evicting_update_fn(gap_minutes: int):
    """Production-path update: PER-SESSION eviction — on every invocation
    (new data or timeout) the sessions whose end has passed watermark−gap
    are emitted exactly once as final and their events leave the state, so
    a continuously-active user's closed history drains instead of
    accumulating.  A tiny residual counter (base_idx) survives eviction to
    keep session_idx batch-identical across eviction waves."""
    gap_us = gap_minutes * 60 * 1_000_000

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            base_idx, ts_us, event_ids, values = state.get
            ts_us, event_ids, values = list(ts_us), list(event_ids), list(values)
        else:
            base_idx, ts_us, event_ids, values = 0, [], [], []
        if not state.hasTimedOut:
            for pdf in pdfs:
                ts_us.extend((pdf["ts"].astype("int64") // 1000).tolist())
                event_ids.extend(pdf["event_id"].astype("int64").tolist())
                values.extend(pdf["value"].astype("float64").tolist())
        wm_ms = state.getCurrentWatermarkMs()
        rows, ts_us, event_ids, values = _sweep_closed(
            user_id, base_idx, ts_us, event_ids, values, gap_us, wm_ms * 1000
        )
        n_closed = len(rows["user_id"])
        state.update((base_idx + n_closed, ts_us, event_ids, values))
        if ts_us:
            # fire once the watermark passes the last possible merge point;
            # CEIL to ms (+1: floor evicts up to 1 ms early, splitting an
            # exactly-on-the-gap-boundary on-time event from its session)
            # and strictly beyond the current watermark or Spark rejects it
            state.setTimeoutTimestamp(
                max((max(ts_us) + gap_us) // 1000 + 1, wm_ms + 1)
            )
        yield (
            pd.DataFrame(rows) if n_closed else _EMPTY_FINAL.copy()
        )

    return update


def run_streaming_sessionization_evicting(
    spark: SparkSession,
    events_dir: str,
    gap_minutes: int = DEFAULT_GAP_MINUTES,
    watermark: str = "0 seconds",
    max_files_per_trigger: int | None = None,
    path_glob: str = "events.parquet",
    state_partitions: int | None = None,
) -> DataFrame:
    """The SCALE deployment shape: gap-sessionization with PER-SESSION
    event-time eviction.  A session leaves the state (and is emitted,
    exactly once, as final) the moment the watermark passes its end + gap
    — on data arrival OR on the group's timeout — so state holds only the
    OPEN sessions of active users plus an 8-byte per-user counter that
    keeps session_idx batch-identical across eviction waves (deployments
    keyed on session UUIDs instead of per-user ordinals can drop it).
    The availableNow twin, :func:`run_streaming_sessionization`, keeps
    full history for exact batch parity.  Emissions are final-only:
    sessions still open when the stream ends are never emitted (they are
    not final), and batch parity assumes no beyond-watermark stragglers —
    standard watermark semantics."""
    table = f"stream_sessions_ev_{uuid.uuid4().hex[:8]}"
    reader = spark.readStream.schema(EVENTS_SCHEMA).option(
        "pathGlobFilter", path_glob
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(events_dir).withWatermark("ts", watermark)
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        _make_evicting_update_fn(gap_minutes),
        outputStructType=SESSION_FINAL_SCHEMA,
        stateStructType=EVICT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    from .util import state_shuffle_partitions

    with state_shuffle_partitions(spark, state_partitions):
        query = (
            sessions.writeStream.format("memory")
            .queryName(table)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table(table)


def run_streaming_sessionization(
    spark: SparkSession,
    events_dir: str,
    gap_minutes: int = DEFAULT_GAP_MINUTES,
    max_files_per_trigger: int | None = None,
    path_glob: str = "events.parquet",
    state_partitions: int | None = None,
) -> DataFrame:
    """Run gap-sessionization as a Structured Streaming query (availableNow)
    and return the final per-session rows — the batch session_stats shape."""
    table = f"stream_sessions_{uuid.uuid4().hex[:8]}"
    reader = spark.readStream.schema(EVENTS_SCHEMA).option(
        "pathGlobFilter", path_glob
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(events_dir)
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        _make_update_fn(gap_minutes),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    from .util import state_shuffle_partitions

    with state_shuffle_partitions(spark, state_partitions):
        query = (
            sessions.writeStream.format("memory")
            .queryName(table)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    # last-write-wins readback: a user's latest emission (max n_updates) is
    # its complete session list — earlier emissions may contain sessions
    # that later MERGED (update mode appends in the memory sink)
    from pyspark.sql.window import Window

    sink = spark.table(table)
    return (
        sink.withColumn(
            "max_upd", F.max("n_updates").over(Window.partitionBy("user_id"))
        )
        .where(F.col("n_updates") == F.col("max_upd"))
        .select(
            "user_id",
            "session_idx",
            "n_events",
            "session_start",
            "session_end",
            "duration_us",
            "total_value",
        )
    )
