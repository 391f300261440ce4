"""Streaming ingest near-dup: the recurring-crawl SimHash loop as a stream.

Every micro-batch (a crawl wave) is hashed once, probed against the
persisted SimHash fingerprint index, and then appended to that index, so
the index is the stream's only state and other jobs can read it too.
Pairs land in ``batch=<id>`` parquet segments through ``foreachBatch``;
each qualifying pair is emitted once, in the batch where its later
document arrives, so the union over batches equals the whole-corpus pair
sweep (gated against the naive Hamming oracle with the cap lifted).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators import dedup as dedup_ops

DOCUMENTS_TABLE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def run_streaming_simhash_dedup(
    spark: SparkSession,
    docs_dir: str,
    index_dir: str,
    results_dir: str,
    max_files_per_trigger: int | None = None,
    path_glob: str = "*.parquet",
    cap: int | None = dedup_ops.SIMHASH_BAND_CAP,
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

    The default ``cap`` is the production band cap; ``cap=None`` LIFTS
    it structurally (no per-wave bucket histogram at all) so the
    accumulated result is provably the corpus's complete Hamming≤max
    pair set (per-wave cap sets aren't expressible as one batch query —
    the cap is counted over index ∪ wave at each wave).

    Durability layout: the index is an ordinary ``simhash`` index root
    (``wave=<id>`` segments written by fsio.write_wave_segment, so an
    index built by ``write_simhash_index`` can seed the stream) and the
    results are a
    directory of ``batch=<id>`` segments; every batch writes ONLY its
    own segment with mode=overwrite.  foreachBatch is at-least-once, so
    a retried batch first deletes any leftover segment from its failed
    attempt (restoring the disjoint-ids probe contract) and then
    rewrites it — idempotent, never appending duplicates.  On restart
    the checkpoint skips committed batches and the index keeps their
    segments: the empty ``wave=0`` build is seeded ONLY when the root
    holds no wave segment yet, never wiping fingerprints a prior run
    committed."""
    from ..fsio import check_wave_segment, delete_path, wave_names, write_wave_segment
    from ..materialize import materialize
    from .util import state_shuffle_partitions

    # the 64-bit PAIR fingerprint everywhere (simhash() alone defaults to
    # the 16-bit statistics width — a silent 700× pair explosion)
    bits = dedup_ops.SIMHASH_PAIR_BITS

    if not wave_names(spark, index_dir):
        empty = spark.createDataFrame([], DOCUMENTS_TABLE_SCHEMA)
        write_wave_segment(dedup_ops.simhash(empty, bits), index_dir, 0, "simhash")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # batch <id> owns the index segment wave=b<id>: stable across
        # retries and never the build's 0
        wave = f"b{batch_id}"
        check_wave_segment(spark, index_dir, wave, "simhash")
        # a failed prior attempt of THIS batch leaves its own segment
        delete_path(spark, f"{index_dir}/wave={wave}")
        # hash ONCE: the same materialized (doc_id, simhash) frame feeds
        # the probe and becomes the wave's index segment
        sh = materialize(dedup_ops.simhash(batch_df, bits))
        pairs = dedup_ops.simhash_delta_pairs_from_sh(
            spark, sh, index_dir, cap=cap, delta_materialized=True
        )
        pairs.write.mode("overwrite").parquet(f"{results_dir}/batch={batch_id}")
        write_wave_segment(sh, index_dir, wave, "simhash")

    reader = spark.readStream.schema(DOCUMENTS_TABLE_SCHEMA).option(
        "pathGlobFilter", path_glob
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    # the loop keeps NO operator state (the index is the state), but
    # state_partitions still pins the shuffle width of the per-batch
    # probe jobs — a gate-scale wave doesn't need the session's width
    with state_shuffle_partitions(spark, state_partitions):
        query = (
            reader.parquet(docs_dir)
            .writeStream.foreachBatch(process_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{results_dir}_ckpt")
            .start()
        )
        query.awaitTermination()
    return spark.read.parquet(results_dir).select("doc_a", "doc_b", "hamming")
