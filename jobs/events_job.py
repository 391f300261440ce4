"""Production entry point: spark-submit event-wave ingestion job.

One run ingests ONE wave of events (the event-log tailing shape — waves
arrive in time order): as-of-enriches the wave's target events against
the persisted per-user state (history is O(users) rows, never
re-scanned), then appends the wave's latest-ref state to the user_state
index and its finest-grid partials to the time_rollup index, writing the
enriched rows plus a per-wave accounting segment.  Cluster usage::

    zip -r engine.zip paperoni_spark
    spark-submit --py-files engine.zip jobs/events_job.py \
        --input  <events parquet path> \
        --output <enriched-rows parquet out> \
        --user-state-index <path> --rollup-index <path> \
        [--metrics <per-wave accounting path>] \
        [--append --wave-id w2]

Local smoke (synthesizes a deterministic wave when --input is
'synthetic:N' or 'synthetic:N:START' — event ids START..START+N-1 with
ts strictly increasing in the id, so disjoint ascending id ranges ARE
time-ordered waves)::

    ... events_job.py --input synthetic:2000      --output /tmp/ev --user-state-index /tmp/ust --rollup-index /tmp/ru
    ... events_job.py --input synthetic:1000:2000 --output /tmp/ev --user-state-index /tmp/ust --rollup-index /tmp/ru --append --wave-id w2

Retry contract (the corpus_job discipline): every sink of a wave —
enriched rows, metrics, BOTH index segments — is ``wave=<id>``-keyed and
written delete-before-overwrite, so retrying a failed wave with the same
--wave-id replays identically from any crash point.  The user_state
append is additionally IDEMPOTENT (struct-max merge), and the rollup
append replays rather than double-counting.  The time-order contract is
ENFORCED, not assumed: a wave whose earliest event is not strictly after
everything in the user-state index is refused loudly — out-of-order
ingestion silently breaks as-of exactness (the index ref would no longer
be at-or-before semantics' unique winner).
"""

from __future__ import annotations

import argparse
import os
import sys
import uuid


def _synthetic_events(spark, spec: str):
    """Deterministic events wave: 'synthetic:N[:START]'.  Pure arithmetic
    on the id (no RNG): ts strictly increases with event_id, users cycle
    mod 49 (COPRIME to the 5 event types — a multiple-of-5 modulus would
    pin every user to a single type and no enrichment could ever match),
    so every user sees refs and targets."""
    from pyspark.sql import functions as F

    parts = spec.split(":")
    n = int(parts[1])
    start = int(parts[2]) if len(parts) > 2 else 0
    type_expr = "array('view','click','purchase','signup','error')[int(id % 5)]"
    return (
        spark.range(start, start + n)
        .select(
            F.col("id").alias("event_id"),
            F.expr(
                "timestamp_micros(cast(1704067200000000 + id * 37000000 as long))"
            ).alias("ts"),
            (F.col("id") % 49).alias("user_id"),
            F.expr(type_expr).alias("event_type"),
            ((F.col("id") % 1000) / 100.0).alias("value"),
            F.lit("{}").alias("props"),
        )
    )


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--input", required=True)
    parser.add_argument("--output", required=True)
    parser.add_argument("--user-state-index", required=True)
    parser.add_argument("--rollup-index", required=True)
    parser.add_argument("--metrics", default=None)
    parser.add_argument(
        "--append",
        action="store_true",
        help="this is a follow-up wave: probe the existing indexes and "
        "append segments (first runs bootstrap wave=0 builds)",
    )
    parser.add_argument(
        "--wave-id",
        default=None,
        help="stable id for this wave's segments; retrying a failed wave "
        "with the SAME id replays instead of duplicating.  Defaults to a "
        "fresh uuid — pass one explicitly in any retry loop.",
    )
    args = parser.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from paperoni_spark import fsio
    from paperoni_spark.operators import temporal
    from paperoni_spark.pipeline.session import apply_engine_confs

    wave = args.wave_id or uuid.uuid4().hex
    if args.append:
        # refuse a bad follow-up wave id (the build's 0, or negative)
        # before anything is read or written: at wave 0 the enriched
        # rows and metrics would land first and the index writes would
        # then replace the bootstrap
        try:
            fsio.assert_append_wave(wave)
        except ValueError as e:
            raise SystemExit(str(e)) from None

    spark = apply_engine_confs(
        SparkSession.builder.appName("paperoni-events-ingest").getOrCreate()
    )
    # epoch-µs arithmetic requires the UTC session (NTZ timestamps)
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    if args.input.startswith("synthetic:"):
        events = _synthetic_events(spark, args.input)
    else:
        events = spark.read.parquet(args.input)
    # the wave is consumed by the order check, the enrichment, and two
    # index appends — cache once
    events = events.persist()

    # the user_state wave=0 segment is the BOOTSTRAP COMMIT POINT: it is
    # written last, so a crashed bootstrap (rollup written, state not)
    # re-runs the whole bootstrap and every wave-keyed/idempotent write
    # replays.  A bare-root probe would see a crashed attempt's markers
    # and refuse the retry.
    have_state = fsio.path_exists(spark, f"{args.user_state_index}/wave=0")
    if args.append and not have_state:
        raise SystemExit(
            f"--append but {args.user_state_index} has no committed "
            "bootstrap — run the first wave without --append"
        )
    if have_state and not args.append:
        raise SystemExit(
            f"{args.user_state_index} already exists — pass --append for "
            "follow-up waves (a re-bootstrap would orphan the history)"
        )
    if args.append and not fsio.path_exists(spark, f"{args.rollup_index}/wave=0"):
        # without this, an append onto a missing/mistyped rollup root
        # silently bootstraps a history-less index whose every future
        # probe under-counts by all prior waves (the counters are
        # additive — the loss is unrecoverable and invisible)
        raise SystemExit(
            f"--append but {args.rollup_index} has no committed bootstrap "
            "— the rollup index would silently lose all prior waves"
        )

    wave_min = events.agg(F.min(temporal._us(F.col("ts")))).collect()[0][0]
    if have_state:
        # ENFORCE the time-order contract before touching anything — TWO
        # signals, because each alone has a blind spot.  (1) exact µs
        # against the ref state: the wave must be strictly after every
        # ref the index has seen (else the probe's coalesce combine rule
        # is no longer the as-of winner).  (2) minute-bucket against the
        # rollup partials, which see EVERY event type: catches waves
        # overlapping prior waves' ref-less tail and re-fed ref-less
        # waves (which would double-count the additive rollup counters).
        # Residual (documented, not enforceable from these summaries):
        # ordering WITHIN one rollup bucket of the boundary is the
        # caller's responsibility.  THIS wave's own segments (a crashed
        # earlier attempt) are excluded everywhere — the retry must see
        # exactly the pre-wave history.
        fsio.refuse_mid_compaction(spark, args.user_state_index)
        fsio.refuse_mid_compaction(spark, args.rollup_index)
        hist_max = (
            temporal.user_state_rows(spark, args.user_state_index, exclude_wave=wave)
            .agg(F.max("ts_us"))
            .collect()[0][0]
        )
        if hist_max is not None and wave_min is not None and wave_min <= hist_max:
            raise SystemExit(
                f"out-of-order wave: earliest event ({wave_min} µs) is not "
                f"strictly after the ingested history (max ref {hist_max} "
                "µs) — as-of enrichment would be silently wrong.  Feed "
                "waves in time order."
            )
        finest = temporal.ROLLUP_RESOLUTIONS_S[0]
        hist_max_b = (
            spark.read.schema(temporal.ROLLUP_SCHEMA)
            .parquet(args.rollup_index)
            .where(F.col("wave") != str(wave))
            .agg(F.max("b"))
            .collect()[0][0]
        )
        if (
            hist_max_b is not None
            and wave_min is not None
            and wave_min // (1_000_000 * finest) < hist_max_b
        ):
            raise SystemExit(
                f"out-of-order wave: earliest event ({wave_min} µs) falls in "
                f"an earlier {finest}s bucket than ingested history (max "
                f"bucket {hist_max_b}) — a replayed or overlapping wave "
                "would double-count the additive rollup index."
            )
        enriched = temporal.asof_enrich_delta(
            spark, events, args.user_state_index, exclude_wave=wave
        )
    else:
        # bootstrap wave: no history — the plain batch as-of join
        enriched = temporal.asof_enrich(events)

    # enriched rows first (descends from the cached wave + the index;
    # the index appends below never re-derive it), wave-keyed with
    # delete-before-overwrite for retry replay
    out_seg = os.path.join(args.output, f"wave={wave}")
    fsio.delete_path(spark, out_seg)
    enriched = enriched.persist()
    enriched.write.mode("overwrite").parquet(out_seg)

    if args.metrics is not None:
        n_events = events.count()
        n_targets = enriched.count()
        n_matched = enriched.where(F.col("ref_event_id") >= 0).count()
        n_hist = enriched.where(
            (F.col("ref_ts_us") >= 0) & (F.col("ref_ts_us") < wave_min)
        ).count()
        metrics = spark.createDataFrame(
            [
                ("n_events", n_events),
                ("n_targets", n_targets),
                ("n_enriched", n_matched),
                ("n_enriched_from_history", n_hist),
                ("n_unmatched", n_targets - n_matched),
            ],
            "metric: string, n: long",
        )
        m_seg = os.path.join(args.metrics, f"wave={wave}")
        fsio.delete_path(spark, m_seg)
        metrics.write.mode("overwrite").parquet(m_seg)

    # index segments LAST (a failed wave never poisons the indexes; both
    # writes replay under the same wave id, the bootstrap's at wave 0),
    # and within them the user_state write LAST of all — its wave=0
    # segment is the bootstrap commit point the next run's have_state
    # probe reads, so everything written before it must be (and is)
    # replayable: the rollup wave segment replays delete-before-overwrite,
    # the user_state write is idempotent by construction (struct-max).
    index_wave = wave if have_state else 0
    temporal.write_rollup_index(events, args.rollup_index, index_wave)
    temporal.write_user_state_index(events, args.user_state_index, index_wave)

    enriched.unpersist()
    events.unpersist()
    spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
