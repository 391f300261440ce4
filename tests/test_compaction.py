"""Wave-segment compaction: probe-result parity across every compacted
family, crash-recovery via the manifest protocol, and the consumed-wave
refusals that keep the retry contract sound afterwards."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import paperoni_spark.contract as contract
import paperoni_spark.fsio as fsio
from paperoni_spark.operators import dedup

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.exists(os.path.join(SF_DIR, "documents.parquet")),
    reason="driver testdata not present",
)


@pytest.fixture(scope="module")
def docs(spark):
    return contract.load(spark, SF_DIR, "documents")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _split(df, id_col, lo, hi):
    return df.where((F.col(id_col) % 10 >= lo) & (F.col(id_col) % 10 < hi))


def _sh(documents):
    """The 64-bit fingerprint frame an index append takes."""
    return dedup.simhash(documents, dedup.SIMHASH_PAIR_BITS)


def test_simhash_compaction_parity(spark, docs, tmp_path):
    """Build + two appends, compact, and the delta probe returns the
    byte-identical pair set over ONE merged segment; the consumed wave
    ids (including the build's 0, so a stale rebuild can't interleave
    with the merged segment) are refused afterwards."""
    path = str(tmp_path / "sh_idx")
    dedup.write_simhash_index(_sh(_split(docs, "doc_id", 0, 6)), path)
    dedup.write_simhash_index(_sh(_split(docs, "doc_id", 6, 8)), path, 1)
    dedup.write_simhash_index(_sh(_split(docs, "doc_id", 8, 9)), path, 2)
    delta = _split(docs, "doc_id", 9, 10)
    before = _rows(dedup.simhash_delta_pairs_against_index(spark, delta, path))

    assert fsio.compact_index_kind(spark, path, "simhash") == 3
    assert fsio.wave_names(spark, path) == ["wave=3"]
    assert not fsio.path_exists(spark, f"{path}/_compact_tmp")
    assert not fsio.path_exists(spark, f"{path}/{fsio._COMPACT_MANIFEST}")
    after = _rows(dedup.simhash_delta_pairs_against_index(spark, delta, path))
    assert after == before

    # retry of a folded wave, a write at the merged segment's own id,
    # and the build id are all refused
    for wid in (1, 2, 3, 0):
        with pytest.raises(ValueError, match="owned by a compaction"):
            fsio.write_wave_segment(docs.limit(1), path, wid, kind="simhash")
    # fresh ids append fine, and a second compaction folds them again
    dedup.write_simhash_index(_sh(delta), path, 4)
    assert fsio.compact_index_kind(spark, path, "simhash") == 2
    assert fsio.wave_names(spark, path) == ["wave=5"]

    # compacting with the wrong family's geometry is refused up front
    with pytest.raises(ValueError, match="is a 'simhash' index"):
        fsio.compact_index_kind(spark, path, "user_state")
    with pytest.raises(ValueError, match="no compaction geometry"):
        fsio.compact_index_kind(spark, path, "nonsense")


def test_compaction_noop_and_foreign(spark, docs, tmp_path):
    """Single-segment roots are a no-op; flat foreign dirs are refused."""
    path = str(tmp_path / "sh_single")
    dedup.write_simhash_index(_sh(docs), path)
    assert fsio.compact_index_kind(spark, path, "simhash") == 0
    assert fsio.wave_names(spark, path) == ["wave=0"]

    flat = str(tmp_path / "flat")
    docs.limit(5).write.parquet(flat)
    with pytest.raises(ValueError, match="not a wave-segmented index"):
        fsio.compact_index(spark, flat)


def test_substring_compaction_parity(spark, docs, tmp_path):
    """The histogram family re-aggregates on compaction: occurrence
    TOTALS (what probes sum) are preserved, one row per shingle, and the
    delta clean rewrites the same docs identically."""
    corpus = _split(docs, "doc_id", 0, 7)
    wave1 = _split(docs, "doc_id", 7, 9)
    delta = _split(docs, "doc_id", 9, 10)
    path = str(tmp_path / "sub_idx")
    dedup.write_substring_index(corpus, path, n=8)
    dedup.write_substring_index(wave1, path, 1, n=8)
    before = _rows(
        dedup.substring_delta_clean(spark, delta, path, n=8).select(
            "doc_id", "text_clean", "n_removed"
        )
    )
    hist_before = _rows(
        spark.read.parquet(path).groupBy("h").agg(F.sum("occ").alias("occ"))
    )
    assert fsio.compact_index_kind(spark, path, "substring_hist") == 2
    merged = spark.read.parquet(path)
    assert _rows(merged.groupBy("h").agg(F.sum("occ").alias("occ"))) == hist_before
    # re-aggregated: one row per shingle
    assert merged.count() == merged.select("h").distinct().count()
    # geometry pin survives compaction
    with pytest.raises(ValueError, match="shingle_n=8"):
        dedup.substring_delta_clean(spark, delta, path, n=5).collect()
    after = _rows(
        dedup.substring_delta_clean(spark, delta, path, n=8).select(
            "doc_id", "text_clean", "n_removed"
        )
    )
    assert after == before


def test_compaction_crash_recovery(spark, docs, tmp_path, monkeypatch):
    """Crash mid-commit (after the manifest, during the consumed-segment
    deletes): appends are refused while the manifest exists, and
    re-running compact_index resumes from the manifest and converges to
    the same result."""
    path = str(tmp_path / "sh_crash")
    dedup.write_simhash_index(_sh(_split(docs, "doc_id", 0, 6)), path)
    dedup.write_simhash_index(_sh(_split(docs, "doc_id", 6, 9)), path, 1)
    expected = _rows(spark.read.parquet(path).drop("wave"))

    real_delete = fsio.delete_path
    calls = {"n": 0}

    def flaky_delete(sp, p):
        if "/wave=" in p:
            calls["n"] += 1
            if calls["n"] == 2:
                raise IOError("injected crash mid-commit")
        real_delete(sp, p)

    monkeypatch.setattr(fsio, "delete_path", flaky_delete)
    with pytest.raises(IOError, match="injected crash"):
        fsio.compact_index_kind(spark, path, "simhash")
    monkeypatch.setattr(fsio, "delete_path", real_delete)

    assert fsio.path_exists(spark, f"{path}/{fsio._COMPACT_MANIFEST}")
    with pytest.raises(ValueError, match="mid-commit"):
        dedup.write_simhash_index(_sh(docs.limit(1)), path, 7)
    # PROBES refuse too: in this window the folded rows may exist only
    # in the invisible _compact_tmp — a normal read would silently
    # return a truncated pair set
    with pytest.raises(ValueError, match="truncated index"):
        dedup.simhash_delta_pairs_against_index(spark, docs.limit(1), path)
    # resume: folds the same two segments recorded in the manifest
    assert fsio.compact_index_kind(spark, path, "simhash") == 2
    assert fsio.wave_names(spark, path) == ["wave=2"]
    assert _rows(spark.read.parquet(path).drop("wave")) == expected


