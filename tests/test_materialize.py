"""Helpers around the streamed contract queries' scratch roots: the
generation reaper and the micro-batch stager."""

from __future__ import annotations

import os

import pytest


@pytest.fixture()
def small_docs(spark):
    rows = [
        (i, f"alpha beta gamma delta epsilon zeta token{i} eta theta iota kappa")
        for i in range(20)
    ] + [(100, "alpha beta gamma delta epsilon zeta token3 eta theta iota kappa")]
    return spark.createDataFrame(rows, "doc_id: long, text: string")


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
