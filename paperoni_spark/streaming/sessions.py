"""Streaming gap-sessionization: ``applyInPandasWithState`` over events.

The batch shape (operators/sessionize.py) is two windows over a user_id
shuffle; the streaming twin keeps per-user event state across micro-batches
and re-derives that user's sessions on every update.  Sessions are NOT
append-only under late/out-of-order arrivals — a bridging event can merge
two previously-separate sessions — so each update emits the user's full
current session list tagged with a monotone update counter, and the reader
takes each user's latest emission.  With an ``availableNow`` trigger over a
static directory the final state must equal the batch ``session_stats``
row-for-row — which is exactly what the driver's oracle asserts.

The state holds each user's full event history: the inputs are finite and
the contract is exact batch parity, so nothing is ever evicted.
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
    TimestampType,
)

from ..operators.sessionize import DEFAULT_GAP_MINUTES

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

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


def spark_round(x: float, scale: int) -> float:
    """Spark's ROUND(double, n): BigDecimal.valueOf(x) (shortest decimal
    repr, like Python repr) then setScale(n, HALF_UP).  Python's round() is
    banker's (HALF_EVEN) — on an exact x.xxxxx5 boundary the two differ and
    the stream would mismatch the batch/oracle gate by one ulp."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(Decimal(1).scaleb(-scale), ROUND_HALF_UP)
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
    # that later MERGED (update mode appends in the memory sink).  The
    # readback is cut so the sink's view can be dropped: a registered
    # view holds every emitted row in driver memory, one more per call.
    from pyspark.sql.window import Window

    from ..materialize import materialize

    sink = spark.table(table)
    final = materialize(
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
    spark.catalog.dropTempView(table)
    return final
