"""Streaming ingest dedup: exact dedup as documents arrive.

The recurring-crawl ingest stage run AS the stream instead of as a nightly
batch: documents are keyed by their text digest and
``applyInPandasWithState`` keeps one tiny (survivor, count) state row per
distinct digest across micro-batches.  The survivor is the MINIMUM doc_id
seen — the same canonical-survivor convention as exact dedup clusters and
connected_components (min-id), which also makes the result independent of
batch composition and arrival order, so the stream is gated against the
plain batch ``groupBy(digest)`` oracle row-for-row.

State is 8 + 8 bytes per distinct document — the minimum any exact
ingest-dedup can carry — and emission is one row per (batch, digest seen
in that batch), written through ``foreachBatch`` into ``batch=<id>``
parquet segments (the same durable layout as the indexed loops' results —
never a driver-resident sink); the final-state read-back takes each
digest's latest emission (n_docs is strictly monotone: a group only
emits when it received rows), a distributed struct-max aggregation.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# "caller did not pass a cap" sentinel: None now means CAP LIFTED
# (structurally — the probes skip the bucket histogram and anti-joins),
# so the production default has to be expressed as absence, not None
_DEFAULT_CAP = object()

DOCUMENTS_TABLE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

DEDUP_STATE_SCHEMA = StructType(
    [
        StructField("first_doc_id", LongType()),
        StructField("n_docs", LongType()),
    ]
)

DEDUP_OUTPUT_SCHEMA = StructType(
    [
        StructField("digest", StringType()),
        StructField("first_doc_id", LongType()),
        StructField("n_docs", LongType()),
    ]
)


def _update_digest_group(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (digest,) = key
    first, n = state.get if state.exists else (None, 0)
    for pdf in pdfs:
        n += len(pdf)
        m = int(pdf["doc_id"].min())
        if first is None or m < first:
            first = m
    state.update((first, n))
    yield pd.DataFrame(
        {"digest": [digest], "first_doc_id": [first], "n_docs": [n]}
    )


def run_streaming_exact_dedup(
    spark: SparkSession,
    docs_dir: str,
    out_dir: str,
    max_files_per_trigger: int | None = None,
    path_glob: str = "*.parquet",
    normalized: bool = False,
    state_partitions: int | None = None,
) -> DataFrame:
    """Run the ingest-dedup stream (availableNow) over a documents
    directory and return the final per-digest survivors + counts.

    Each micro-batch's update-mode emissions (only digests that received
    rows in that batch) land in ``out_dir/batch=<id>`` via
    ``foreachBatch`` — mode=overwrite, so an at-least-once retry of a
    batch rewrites its own segment instead of appending duplicates; the
    driver never holds emissions (the former ``format("memory")`` sink
    was a driver-OOM cliff at 10^9 distinct digests).  The state-store
    checkpoint lives at ``out_dir + "_ckpt"``: a restart with the same
    dirs skips committed batches, keeps their segments, and resumes the
    per-digest state (n_docs keeps counting across runs), so the
    read-back's last-write-wins is stable across restarts too.

    ``normalized=True`` keys the state on the CCNet-normalized digest
    (operators.dedup.normalize_for_dedup) instead of the raw text hash —
    ingest-time mirror-copy collapse; the state/emission machinery is
    byte-identical, only the key expression changes.

    ``state_partitions`` sizes the state-store width for this stream
    (see streaming.util.state_shuffle_partitions): size it to peak
    distinct-digest cardinality — it is frozen into the checkpoint by
    the first batch."""
    from ..operators.dedup import normalize_for_dedup
    from .util import state_shuffle_partitions

    key = (
        F.md5(normalize_for_dedup(F.col("text")))
        if normalized
        else F.md5("text")
    )
    reader = spark.readStream.schema(DOCUMENTS_TABLE_SCHEMA).option(
        "pathGlobFilter", path_glob
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = (
        reader.parquet(docs_dir)
        .select(key.alias("digest"), "doc_id")
        .groupBy("digest")
        .applyInPandasWithState(
            _update_digest_group,
            outputStructType=DEDUP_OUTPUT_SCHEMA,
            stateStructType=DEDUP_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    with state_shuffle_partitions(spark, state_partitions):
        query = (
            stream.writeStream.foreachBatch(sink_batch)
            .outputMode("update")
            .option("checkpointLocation", f"{out_dir}_ckpt")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    # latest emission per digest: n_docs is strictly monotone across a
    # group's emissions (within a run AND across checkpoint-resumed
    # runs); the struct-max keeps (n_docs, first_doc_id) from the SAME
    # row (first_doc_id only ever decreases, so pairing it with the
    # highest n_docs is exactly the final state)
    return (
        spark.read.parquet(out_dir)
        .groupBy("digest")
        .agg(F.max(F.struct("n_docs", "first_doc_id")).alias("s"))
        .select(
            "digest",
            F.col("s.first_doc_id").alias("first_doc_id"),
            F.col("s.n_docs").alias("n_docs"),
        )
    )


def run_streaming_simhash_dedup(
    spark: SparkSession,
    docs_dir: str,
    index_dir: str,
    results_dir: str,
    max_files_per_trigger: int | None = None,
    path_glob: str = "*.parquet",
    cap=_DEFAULT_CAP,
    state_partitions: int | None = None,
) -> DataFrame:
    """The recurring-crawl near-dup pipeline run AS a stream: every
    micro-batch (a crawl wave) is probed against the persisted SimHash
    fingerprint index — only the wave is hashed, the corpus side is the
    16 B/doc index — then appended to it, so the index IS the stream's
    state and survives restarts (unlike operator state, it is shared
    infrastructure other jobs read too).  Emitted pairs accumulate in
    ``results_dir``; each qualifying pair surfaces exactly once, in the
    batch where its LATER document arrives (same-wave pairs via the
    delta-delta orientation), so the union over batches equals the
    whole-corpus pair sweep and never re-emits — exactly-once by
    construction, not by sink dedup.

    Omitting ``cap`` keeps the production band cap; ``cap=None`` LIFTS
    it structurally (no per-wave bucket histogram at all) so the
    accumulated result is provably the corpus's complete Hamming≤max
    pair set (per-wave cap sets aren't expressible as one batch query —
    the cap is counted over index ∪ wave at each wave).

    Durability layout: the index is an ordinary ``simhash`` index root
    (``wave=<id>`` segments written by fsio.write_wave_segment, so an
    index built by ``write_simhash_index`` can seed the stream and the
    stream's segments compact like any other) and the results are a
    directory of ``batch=<id>`` segments; every batch writes ONLY its
    own segment with mode=overwrite.  foreachBatch is at-least-once, so
    a retried batch first deletes any leftover segment from its failed
    attempt (restoring the disjoint-ids probe contract) and then
    rewrites it — idempotent, never appending duplicates.  On restart
    the checkpoint skips committed batches and the index keeps their
    segments: the empty ``wave=0`` build is seeded ONLY when the root
    holds no wave segment yet, never wiping fingerprints a prior run
    committed."""
    from ..materialize import materialize
    from ..operators import dedup as dedup_ops

    # the 64-bit PAIR fingerprint everywhere (simhash() alone defaults to
    # the 16-bit statistics width — a silent 700× pair explosion)
    bits = dedup_ops.SIMHASH_PAIR_BITS
    kwargs = {} if cap is _DEFAULT_CAP else {"cap": cap}

    def wave(batch_df: DataFrame):
        # hash ONCE: the same materialized (doc_id, simhash) frame feeds
        # the probe and becomes the wave's index segment
        sh = materialize(dedup_ops.simhash(batch_df, bits))
        pairs = dedup_ops.simhash_delta_pairs_from_sh(
            spark, sh, index_dir, delta_materialized=True, **kwargs
        )
        return pairs, sh

    empty = dedup_ops.simhash(spark.createDataFrame([], DOCUMENTS_TABLE_SCHEMA), bits)
    return _run_indexed_wave_stream(
        spark, docs_dir, index_dir, results_dir, DOCUMENTS_TABLE_SCHEMA,
        "simhash", empty, wave, ["doc_a", "doc_b", "hamming"],
        max_files_per_trigger, path_glob, state_partitions,
    )


def _run_indexed_wave_stream(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    results_dir: str,
    input_schema: StructType,
    kind: str,
    empty_segment: DataFrame,
    process_wave,
    out_cols: list[str],
    max_files_per_trigger: int | None = None,
    path_glob: str = "*.parquet",
    state_partitions: int | None = None,
) -> DataFrame:
    """Shared scaffolding for the streamed recurring-crawl loops — the
    exactly-once/restart machinery lives HERE, once: the index root is
    an ordinary ``kind`` index, so every segment goes through
    fsio.write_wave_segment and its refusals.  ``empty_segment`` seeds
    the ``wave=0`` build only when the root holds no wave segment
    (never wiping a prior run's committed segments).  Batch ``<id>``
    owns the index segment ``wave=b<id>`` — stable across retries and
    never the build's 0 — and deletes it before the probe (at-least-once
    retries restore the disjoint-ids contract); results are batch-keyed
    overwrite writes, read back accumulated.  ``process_wave(batch_df)``
    returns ``(pairs_df, index_segment_df)``; the restart-retention test
    covers every loop built on this scaffolding.  These loops keep NO
    operator state (the index is the state), but ``state_partitions``
    still pins the shuffle width of the per-batch probe jobs — a
    gate-scale wave doesn't need the session's full width."""
    from ..fsio import check_wave_segment, delete_path, wave_names, write_wave_segment
    from .util import state_shuffle_partitions

    if not wave_names(spark, index_dir):
        write_wave_segment(empty_segment, index_dir, 0, kind)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        wave = f"b{batch_id}"
        check_wave_segment(spark, index_dir, wave, kind)
        # a failed prior attempt of THIS batch leaves its own segment
        delete_path(spark, f"{index_dir}/wave={wave}")
        pairs, segment = process_wave(batch_df)
        pairs.write.mode("overwrite").parquet(f"{results_dir}/batch={batch_id}")
        write_wave_segment(segment, index_dir, wave, kind)

    reader = spark.readStream.schema(input_schema).option(
        "pathGlobFilter", path_glob
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    with state_shuffle_partitions(spark, state_partitions):
        query = (
            reader.parquet(input_dir)
            .writeStream.foreachBatch(process_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{results_dir}_ckpt")
            .start()
        )
        query.awaitTermination()
    return spark.read.parquet(results_dir).select(*out_cols)


EMBEDDINGS_TABLE_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ]
)


def run_streaming_embedding_dedup(
    spark: SparkSession,
    emb_dir: str,
    index_dir: str,
    results_dir: str,
    max_files_per_trigger: int | None = None,
    path_glob: str = "*.parquet",
    threshold: float | None = None,
    cap=_DEFAULT_CAP,
    state_partitions: int | None = None,
) -> DataFrame:
    """The vector twin of :func:`run_streaming_simhash_dedup` — semantic
    near-dup sweep as a stream: each wave is sign-LSH-coded ONCE (the
    materialized (vec_id, emb, code) frame feeds the probe and becomes
    the wave's index segment), probed against the persisted
    ``embedding_lsh`` index, and written under the same wave-keyed
    idempotent layout (own segment deleted before the probe; restart
    keeps committed segments).
    Completes the streamed recurring-crawl trilogy: text fingerprints
    (SimHash), and vectors here — the pair surfaces exactly once, in the
    batch where its later vector arrives."""
    from ..materialize import materialize
    from ..operators import similarity as sim

    kwargs = {}
    if threshold is not None:
        kwargs["threshold"] = threshold
    if cap is not _DEFAULT_CAP:
        kwargs["cap"] = cap

    def wave(batch_df: DataFrame):
        base = batch_df.select(
            "vec_id", sim._to_double(F.col("embedding")).alias("emb")
        )
        coded = materialize(
            base.select(
                "vec_id", "emb", sim.lsh_code_col(F.col("emb")).alias("code")
            )
        )
        pairs = sim.embedding_delta_near_dup_from_coded(
            spark,
            coded.select("vec_id", "emb"),
            coded.select("vec_id", "code"),
            index_dir,
            **kwargs,
        )
        return pairs, coded

    empty = spark.createDataFrame([], "vec_id: long, emb: array<double>, code: string")
    return _run_indexed_wave_stream(
        spark, emb_dir, index_dir, results_dir, EMBEDDINGS_TABLE_SCHEMA,
        "embedding_lsh", empty, wave, ["vec_a", "vec_b", "cosine"],
        max_files_per_trigger, path_glob, state_partitions,
    )
