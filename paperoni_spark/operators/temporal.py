"""Temporal operators Spark lacks as built-ins, re-expressed Spark-first:
as-of join and hypertable-style multi-resolution rollup.

These are the classic time-series shapes a training-data/event pipeline
needs beyond plain windows (reference scope: the events surface mirrored
from paperoni's fetch/summary timing metrics, generalized the way
TimescaleDB/QuestDB expose them).  None is implemented as a pairwise
range join — every shape here is a composition of pushed filters, ONE
union-window pass, or a re-aggregation of bucket partials, so no plan
materializes a candidate cross product and every shuffle key is either
the natural entity key (user_id) or a bucket of the rollup grid.

Portability contract (shared with every oracled query): timestamps are
compared as epoch-µs integers (exact on both engines), value sums are
quantized to integer micro-units BEFORE aggregation (exact long sums in
any order), and every tie-break is a total order over integer columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Hypertable rollup grid, coarse levels re-aggregated from the finest
# (seconds).  Each level must divide the next.
ROLLUP_RESOLUTIONS_S = (60, 600, 3600)

ASOF_TARGET_TYPE = "purchase"
ASOF_REF_TYPE = "click"


def _us(col):
    """Epoch microseconds of a parquet NTZ timestamp (session tz must be
    UTC — callers load events through the contract's UTC session)."""
    return F.unix_micros(col.cast("timestamp"))


def _idiv(col, n: int):
    """Exact long floor-division for non-negative longs, for ANY long.
    A bare ``(col / n).cast("long")`` goes through double division,
    whose round-to-nearest can land exactly ON the next integer and
    flip a boundary bucket vs DuckDB's integer ``//``.  Subtracting the
    modulus makes the dividend exactly divisible, and the division runs
    in DECIMAL(38,0) (not double: a dividend above 2^53 would round
    BEFORE dividing — rounding an exact integer quotient is the
    identity, so the decimal path is exact for the whole long range)."""
    return (
        ((col - col % F.lit(n)).cast("decimal(38,0)") / F.lit(n))
        .cast("long")
    )


def _carried_targets(
    events: DataFrame, target_type: str, ref_type: str
) -> DataFrame:
    """The union-window carry: target rows with NULLABLE ref_event_id /
    ref_ts_us of the most recent at-or-before ref (ties at equal µs: refs
    sort before targets, highest event_id among equal-µs refs wins)."""
    refs = events.where(F.col("event_type") == ref_type).select(
        "user_id",
        F.col("event_id").cast("long").alias("event_id"),
        _us(F.col("ts")).alias("ts_us"),
        F.lit(0).alias("is_tgt"),
    )
    tgts = events.where(F.col("event_type") == target_type).select(
        "user_id",
        F.col("event_id").cast("long").alias("event_id"),
        _us(F.col("ts")).alias("ts_us"),
        F.lit(1).alias("is_tgt"),
    )
    tagged = refs.unionByName(tgts).select(
        "*",
        F.when(F.col("is_tgt") == 0, F.col("event_id")).alias("r_id"),
        F.when(F.col("is_tgt") == 0, F.col("ts_us")).alias("r_ts"),
    )
    # Refs sort before targets at equal ts (is_tgt asc) => "<=" semantics.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "is_tgt", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.select(
            "user_id",
            "event_id",
            "ts_us",
            "is_tgt",
            F.last("r_id", ignorenulls=True).over(w).alias("ref_event_id"),
            F.last("r_ts", ignorenulls=True).over(w).alias("ref_ts_us"),
        )
        .where(F.col("is_tgt") == 1)
    )


def asof_enrich(
    events: DataFrame,
    target_type: str = ASOF_TARGET_TYPE,
    ref_type: str = ASOF_REF_TYPE,
) -> DataFrame:
    """As-of join: attach to every ``target_type`` event the user's most
    recent ``ref_type`` event at-or-before it (ties at equal µs count as
    prior; among equal-µs refs the highest event_id wins — a total order
    both engines replay).

    Spark has no ASOF JOIN; the join-then-rank spelling shuffles the
    cross product of every (target, earlier-ref) pair.  This is the
    scale-correct union trick instead: tag both filtered streams, union,
    ONE user-keyed ordered window carrying the last non-null ref forward
    (``last(ignorenulls)`` — running frame, no full-partition buffering),
    then keep the targets.  One shuffle total, both event_type filters
    pushed into the parquet scan, payload columns never read.

    Returns (event_id, user_id, ts_us, ref_event_id, ref_ts_us, lag_us);
    ref columns are -1 when the user has no prior ref event (event ids
    are non-negative; a NULL cannot cross the correctness gate — the
    driver's pandas canonicalization maps NULL to NaN on BOTH engines
    and NaN != NaN fails the row compare).
    """
    carried = _carried_targets(events, target_type, ref_type)
    return carried.select(
        "event_id",
        "user_id",
        "ts_us",
        F.coalesce(F.col("ref_event_id"), F.lit(-1)).cast("long").alias("ref_event_id"),
        F.coalesce(F.col("ref_ts_us"), F.lit(-1)).cast("long").alias("ref_ts_us"),
        F.coalesce(F.col("ts_us") - F.col("ref_ts_us"), F.lit(-1))
        .cast("long")
        .alias("lag_us"),
    )


def time_rollup(
    events: DataFrame, resolutions_s: tuple[int, ...] = ROLLUP_RESOLUTIONS_S
) -> DataFrame:
    """Hypertable-style multi-resolution tumbling rollup (the TimescaleDB
    continuous-aggregate shape): per (resolution, bucket, event_type)
    counts and value sums at every grid level at once.

    Only the FINEST level touches the raw events (one partial-aggregated
    shuffle); each coarser level re-aggregates the previous level's
    partials — at 100 TB the coarse rollups move kilobytes, not the
    corpus.  Values are quantized to integer micro-units per ROW
    (floor(value·1e6): both engines compute the same double, floor is
    rounding-mode free), so every aggregation is exact long arithmetic
    and re-aggregation order cannot drift.

    Returns (resolution_s, bucket_start_s, event_type, n_events,
    sum_value_micro).
    """
    return _rollup_levels(
        _rollup_partials(events, resolutions_s[0]), resolutions_s
    )


def _rollup_levels(
    level: DataFrame, resolutions_s: tuple[int, ...]
) -> DataFrame:
    """Shape the finest-grid partials into the multi-resolution output —
    THE rollup derivation, shared by the direct query and the index
    probe (the 'index probe == full recompute' identity holds because
    both paths run this exact code over per-key-summed partials)."""
    for coarse, fine in zip(resolutions_s[1:], resolutions_s):
        if coarse % fine:
            raise ValueError(f"rollup grid must nest: {coarse} % {fine} != 0")

    def _shape(df: DataFrame, res: int) -> DataFrame:
        return df.select(
            F.lit(res).alias("resolution_s"),
            (F.col("b") * res).cast("long").alias("bucket_start_s"),
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            "sum_value_micro",
        )

    finest = resolutions_s[0]
    out = _shape(level, finest)
    prev, prev_res = level, finest
    for res in resolutions_s[1:]:
        step = res // prev_res
        prev = (
            prev.withColumn("b", _idiv(F.col("b"), step))
            .groupBy("b", "event_type")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sum_value_micro").alias("sum_value_micro"),
            )
        )
        prev_res = res
        out = out.unionByName(_shape(prev, res))
    return out


USER_STATE_KIND = "user_state"


def merge_user_state(rows: DataFrame) -> DataFrame:
    """THE user_state winner rule — struct-max over (ts_us, event_id)
    per user (ties at equal µs resolve to the highest event_id, the same
    winner the as-of window order picks).  Single-sourced on purpose:
    build/append (:func:`_user_ref_state`) and probe
    (:func:`_read_user_state`) must merge with the SAME rule, or a
    segment keeps a different winner than the probe computes."""
    return (
        rows.groupBy("user_id")
        .agg(F.max(F.struct("ts_us", "event_id")).alias("m"))
        .select(
            "user_id",
            F.col("m.ts_us").alias("ts_us"),
            F.col("m.event_id").alias("event_id"),
        )
    )


def _user_ref_state(events: DataFrame, ref_type: str) -> DataFrame:
    """(user_id, ts_us, event_id): each user's LATEST ref event — the
    shared :func:`merge_user_state` rule over the filtered ref stream."""
    return merge_user_state(
        events.where(F.col("event_type") == ref_type).select(
            "user_id",
            _us(F.col("ts")).alias("ts_us"),
            F.col("event_id").cast("long").alias("event_id"),
        )
    )


def write_user_state_index(
    events: DataFrame, path: str, wave=0, ref_type: str = ASOF_REF_TYPE
) -> None:
    """Persist per-user latest-ref state — an IDEMPOTENT wave-keyed
    index family: state merges by struct-MAX (unlike the rollup's
    additive partials), so overlapping or re-sent waves are safe by
    construction — there is NO disjointness contract, but ``wave`` must
    stay stable across retries of the same wave (0 is the build).  One
    row per user ever seen, O(users) regardless of event volume: the
    incremental as-of join probes this instead of re-scanning 10^12
    historical events.  ``ref_type`` is param-pinned — probing a 'click'
    index for 'signup' refs would silently enrich against the wrong
    stream."""
    from ..fsio import write_wave_segment

    write_wave_segment(
        _user_ref_state(events, ref_type),
        path,
        wave,
        USER_STATE_KIND,
        params={"ref_type": ref_type},
    )


# Explicit read schemas (wave typed as STRING): partition-value
# inference parses a numeric-looking wave dir name into an integer and
# NORMALIZES it (wave=007 reads back as 7), so a string-compared
# exclusion silently misses the segment.
_USER_STATE_SCHEMA = "user_id long, ts_us long, event_id long, wave string"
ROLLUP_SCHEMA = (
    "b long, event_type string, n_events long, sum_value_micro long, wave string"
)


def user_state_rows(spark, index_path: str, exclude_wave=None) -> DataFrame:
    """Raw index rows under the pinned schema, optionally dropping one
    wave's own segment — the RETRY shape: a crashed wave may already have
    appended its state, and a retried probe that sees the wave's own refs
    would enrich targets against FUTURE events (an index ref is only
    at-or-before by the waves-are-ordered contract, which the wave's own
    rows do not satisfy).  Partition pruning makes the exclusion free."""
    rows = spark.read.schema(_USER_STATE_SCHEMA).parquet(index_path)
    if exclude_wave is not None:
        rows = rows.where(F.col("wave") != str(exclude_wave))
    return rows


def _read_user_state(spark, index_path: str, exclude_wave=None) -> DataFrame:
    """Merged per-user state across wave segments (:func:`merge_user_state`
    is the single winner rule)."""
    rows = user_state_rows(spark, index_path, exclude_wave=exclude_wave)
    return merge_user_state(rows.select("user_id", "ts_us", "event_id")).select(
        "user_id",
        F.col("ts_us").alias("s_ts"),
        F.col("event_id").alias("s_id"),
    )


def asof_enrich_delta(
    spark,
    delta_events: DataFrame,
    index_path: str,
    target_type: str = ASOF_TARGET_TYPE,
    ref_type: str = ASOF_REF_TYPE,
    exclude_wave=None,
) -> DataFrame:
    """Incremental as-of join: enrich the DELTA wave's targets against
    within-delta refs plus the persisted user-state index — O(delta +
    touched users), history never re-scanned.

    Caller contract: the index covers events strictly BEFORE the delta
    window (the crawl-wave invariant).  Under it the combine rule is a
    plain coalesce: a within-delta carry ref is always newer than any
    index ref (carry ts >= delta start > every history ts), and the
    index row is itself the window order's winner among history refs
    (struct-max over (ts_us, event_id)), so the result is EXACTLY the
    full-history as-of join restricted to delta targets — that identity
    is what the oracle checks.

    Same -1 sentinel convention as :func:`asof_enrich`."""
    from ..fsio import assert_index_param

    assert_index_param(spark, index_path, "ref_type", ref_type)
    carried = _carried_targets(delta_events, target_type, ref_type)
    state = _read_user_state(spark, index_path, exclude_wave=exclude_wave)
    combined = carried.join(state, "user_id", "left")
    ref_ts = F.coalesce("ref_ts_us", "s_ts")
    return combined.select(
        "event_id",
        "user_id",
        "ts_us",
        F.coalesce("ref_event_id", "s_id", F.lit(-1))
        .cast("long")
        .alias("ref_event_id"),
        F.coalesce(ref_ts, F.lit(-1)).cast("long").alias("ref_ts_us"),
        F.coalesce(F.col("ts_us") - ref_ts, F.lit(-1)).cast("long").alias("lag_us"),
    )


ROLLUP_KIND = "time_rollup"


def _rollup_partials(events: DataFrame, finest: int) -> DataFrame:
    """Finest-grid partials (b, event_type, n_events, sum_value_micro) —
    the only thing the rollup index stores: coarse levels derive from
    these, and partials ADD (counts family), so the index of an
    accumulated corpus is the per-key SUM of its waves' partials."""
    return (
        events.select(
            "event_type",
            _idiv(_us(F.col("ts")), 1_000_000 * finest).alias("b"),
            F.coalesce(F.floor(F.col("value") * 1e6).cast("long"), F.lit(0)).alias(
                "v"
            ),
        )
        .groupBy("b", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("v").alias("sum_value_micro"),
        )
    )


def write_rollup_index(
    events: DataFrame, path: str, wave=0, finest: int = ROLLUP_RESOLUTIONS_S[0]
) -> None:
    """Persist the finest-grid rollup partials — a wave-keyed index
    family (the hypertable continuous-aggregate pattern): ≤
    (time span / finest) × event_types rows regardless of event volume.
    ``wave`` 0 is the build; each later wave adds its own segment.
    ADDITIVE like the shingle histogram: waves must cover DISJOINT event
    sets (a re-counted event double-counts — there is no subtraction)
    and ``wave`` must stay stable across retries of the same wave;
    probes sum partials across segments.
    ``finest`` is param-pinned: a probe at a different grid would merge
    buckets that never align."""
    from ..fsio import write_wave_segment

    write_wave_segment(
        _rollup_partials(events, finest),
        path,
        wave,
        ROLLUP_KIND,
        params={"finest_s": finest},
    )


def time_rollup_from_index(
    spark,
    index_path: str,
    resolutions_s: tuple[int, ...] = ROLLUP_RESOLUTIONS_S,
) -> DataFrame:
    """The CURRENT multi-resolution rollup of everything ingested so far,
    in O(index) — raw events are never re-scanned.  Merges the finest
    partials across wave segments (exact long sums, order-free by the
    integer micro-unit quantization), then re-aggregates the coarse
    levels exactly like :func:`time_rollup` — the oracle equality
    'index probe == full recompute' is what the gate hash-checks."""
    from ..fsio import assert_index_param

    assert_index_param(spark, index_path, "finest_s", resolutions_s[0])
    level = (
        spark.read.schema(ROLLUP_SCHEMA)
        .parquet(index_path)
        .select("b", "event_type", "n_events", "sum_value_micro")
        .groupBy("b", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value_micro").alias("sum_value_micro"),
        )
    )
    return _rollup_levels(level, resolutions_s)
