"""The materialization-policy knob: operators default to localCheckpoint
(executor-local, right for idempotent analytics) but a long-lived pipeline
can swap in reliable checkpoint() or a persisted table at the SAME cut
points and get identical rows — the node-loss-tolerance option the
localCheckpoint tradeoff note in CLAUDE.md points at."""

from __future__ import annotations

import os

import pytest

from paperoni_spark.materialize import (
    get_materialize_mode,
    materialize,
    materialize_mode,
    set_materialize_mode,
)
from paperoni_spark.operators import dedup


@pytest.fixture()
def small_docs(spark):
    rows = [
        (i, f"alpha beta gamma delta epsilon zeta token{i} eta theta iota kappa")
        for i in range(20)
    ] + [(100, "alpha beta gamma delta epsilon zeta token3 eta theta iota kappa")]
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def _pairs(df):
    return sorted(
        (r["doc_a"], r["doc_b"], r["n_shared_bands"]) for r in df.collect()
    )


def test_materialize_modes_row_identical(spark, small_docs, tmp_path):
    """checkpoint and table modes survive their round-trips with rows
    identical to the localCheckpoint default, through a real operator whose
    pipeline crosses the materialization cut (LSH band rows) AND through
    the lazy per-round cut in connected components."""
    baseline_pairs = _pairs(dedup.lsh_candidate_doc_pairs(small_docs))
    baseline_clusters = sorted(
        map(tuple, dedup.dedup_clusters(small_docs).collect())
    )
    assert get_materialize_mode() == "localCheckpoint"

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    with materialize_mode("checkpoint"):
        assert _pairs(dedup.lsh_candidate_doc_pairs(small_docs)) == baseline_pairs
        assert (
            sorted(map(tuple, dedup.dedup_clusters(small_docs).collect()))
            == baseline_clusters
        )
    assert get_materialize_mode() == "localCheckpoint"  # restored

    mat_dir = str(tmp_path / "mat")
    spark.conf.set("paperoni.materialize.dir", mat_dir)
    try:
        with materialize_mode("table"):
            assert (
                _pairs(dedup.lsh_candidate_doc_pairs(small_docs))
                == baseline_pairs
            )
            # through the per-round CC cut too: table mode writes every
            # iteration's labels to parquet even though the default
            # localCheckpoint cut is lazy (schema/nullability round-trip)
            assert (
                sorted(map(tuple, dedup.dedup_clusters(small_docs).collect()))
                == baseline_clusters
            )
        # the frame really was persisted as a readable table
        assert os.path.isdir(mat_dir) and os.listdir(mat_dir)
    finally:
        spark.conf.unset("paperoni.materialize.dir")


def test_materialize_mode_guards(spark, small_docs):
    with pytest.raises(ValueError, match="unknown materialize mode"):
        set_materialize_mode("bogus")
    with materialize_mode("table"):
        with pytest.raises(ValueError, match="paperoni.materialize.dir"):
            materialize(small_docs)


def test_stream_tmp_reaps_previous_generation():
    """The streamed gate queries return lazy frames over _stream_tmp
    roots: re-entry must reap the PREVIOUS generation (a long-lived
    driver re-running the gate otherwise accumulates unbounded /tmp),
    while distinct query names keep independent live roots."""
    import os

    from paperoni_spark.contract import _STREAM_TMPS, _stream_tmp

    a1 = _stream_tmp("reaptest_a")
    b1 = _stream_tmp("reaptest_b")
    assert os.path.isdir(a1) and os.path.isdir(b1)
    a2 = _stream_tmp("reaptest_a")
    assert not os.path.exists(a1)  # previous generation reaped on re-entry
    assert os.path.isdir(a2) and os.path.isdir(b1)  # other names untouched
    assert _STREAM_TMPS["reaptest_a"] == a2
    for name in ("reaptest_a", "reaptest_b"):
        import shutil

        shutil.rmtree(_STREAM_TMPS.pop(name), ignore_errors=True)


def test_stage_micro_batches_empty_class(spark, small_docs):
    """Dynamic partitionBy writes NO directory for an empty batch class;
    the stager must still emit a readable (empty) parquet file for it so
    class composition — not data skew — decides the trigger count."""
    from pyspark.sql import functions as F

    from paperoni_spark.contract import _stream_tmp, _stage_micro_batches

    evens = small_docs.where(F.col("doc_id") % 2 == 0)
    tmp, docs_dir = _stage_micro_batches(evens, root=_stream_tmp("reaptest_c"))
    files = sorted(os.listdir(docs_dir))
    assert files == ["b0.parquet", "b1.parquet"]
    assert spark.read.parquet(os.path.join(docs_dir, "b1.parquet")).count() == 0
    assert (
        spark.read.parquet(os.path.join(docs_dir, "b0.parquet")).count()
        == evens.count()
    )
    import shutil

    from paperoni_spark.contract import _STREAM_TMPS

    shutil.rmtree(_STREAM_TMPS.pop("reaptest_c"), ignore_errors=True)
