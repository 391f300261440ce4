"""Wave-segment compaction: probe-result parity across every compacted
family, crash-recovery via the manifest protocol, and the consumed-wave
refusals that keep the retry contract sound afterwards."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import paperoni_spark.contract as contract
import paperoni_spark.fsio as fsio
from paperoni_spark.operators import dedup, similarity

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.exists(os.path.join(SF_DIR, "documents.parquet")),
    reason="driver testdata not present",
)


@pytest.fixture(scope="module")
def docs(spark):
    return contract.load(spark, SF_DIR, "documents")


@pytest.fixture(scope="module")
def embeds(spark):
    return contract.load(spark, SF_DIR, "embeddings")


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
        fsio.compact_index_kind(spark, path, "ivf")
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


def test_ivf_compaction_parity(spark, embeds, tmp_path):
    """Quantizer-bearing family: assigned rows are merged untouched
    (never re-assigned) under the centroid partition layout, the probe
    scan returns identical rows, and the post-compaction rebuild refusal
    still holds (the merged segment is not wave=0)."""
    path = str(tmp_path / "ivf_idx")
    corpus = embeds.where(F.col("vec_id") % 10 < 8)
    wave1 = embeds.where(F.col("vec_id") % 10 >= 8)
    assigned, centroids = similarity.ivf_assignments(corpus)
    similarity.write_ivf_index(assigned, path, centroids)
    similarity.append_to_ivf_index(wave1, path, 1)
    probes = [0, 3, 7]

    def probe_rows():
        scan = similarity.ivf_probe_scan(spark, path, probes)
        return _rows(scan.select("vec_id", "centroid", "emb"))

    before = probe_rows()
    assert fsio.compact_index_kind(spark, path, "ivf") == 2
    assert probe_rows() == before
    with pytest.raises(ValueError, match="appended segments"):
        similarity.write_ivf_index(assigned, path, centroids)


def test_lsh_bucket_compaction_parity(spark, embeds, tmp_path):
    """Two-table family: rows keep the (band, bkey) partition layout
    (probe stays partition-pruned), counts re-aggregate to one row per
    bucket, and the indexed ANN result is identical."""
    path = str(tmp_path / "lsh_idx")
    corpus = embeds.where(F.col("vec_id") % 10 < 8)
    wave1 = embeds.where(F.col("vec_id") % 10 >= 8)
    similarity.write_lsh_bucket_index(corpus, path)
    similarity.write_lsh_bucket_index(wave1, path, 1)
    before = _rows(similarity.ann_lsh_topk_indexed(spark, embeds, path))
    assert similarity.compact_lsh_bucket_index(spark, path) == 2
    assert fsio.wave_names(spark, f"{path}/rows") == ["wave=2"]
    assert fsio.wave_names(spark, f"{path}/counts") == ["wave=2"]
    after = _rows(similarity.ann_lsh_topk_indexed(spark, embeds, path))
    assert after == before
    # counts re-aggregated: one row per bucket
    counts = spark.read.schema(similarity._LSH_COUNTS_SCHEMA).parquet(
        f"{path}/counts"
    )
    assert counts.count() == counts.select("band", "bkey").distinct().count()
    # appends at consumed ids are refused on the sub-roots too
    with pytest.raises(ValueError, match="owned by a compaction"):
        similarity.write_lsh_bucket_index(wave1, path, 1)


def test_lsh_half_append_refused(spark, embeds, tmp_path):
    """A crash between the rows and counts writes of an append is healed
    by retrying the wave — compaction must refuse to fold the rows half
    first (the retry would be refused forever and the histogram would
    permanently under-count), and the retry must unblock it."""
    path = str(tmp_path / "lsh_half")
    similarity.write_lsh_bucket_index(
        embeds.where(F.col("vec_id") % 10 < 8), path
    )
    wave1 = embeds.where(F.col("vec_id") % 10 >= 8)
    similarity.write_lsh_bucket_index(wave1, path, 1)
    fsio.delete_path(spark, f"{path}/counts/wave=1")  # the crash window
    with pytest.raises(ValueError, match="half-written append"):
        similarity.compact_lsh_bucket_index(spark, path)
    similarity.write_lsh_bucket_index(wave1, path, 1)  # the retry
    assert similarity.compact_lsh_bucket_index(spark, path) == 2


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


def test_cms_compaction_parity(spark, docs, tmp_path):
    """The counts family re-aggregates on compaction: counter TOTALS are
    preserved, one row per (d, bucket), the probe estimates identically,
    and the geometry pin survives."""
    from paperoni_spark.operators import textstats

    path = str(tmp_path / "cms_idx")
    textstats.write_cms_index(_split(docs, "doc_id", 0, 7), path)
    textstats.write_cms_index(_split(docs, "doc_id", 7, 9), path, 1)
    delta = _split(docs, "doc_id", 9, 10)
    before = _rows(textstats.cms_delta_heavy_hitters(spark, delta, path))
    totals_before = _rows(
        spark.read.parquet(path).groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))
    )
    assert fsio.compact_index_kind(spark, path, "cms_sketch") == 2
    merged = spark.read.parquet(path)
    assert (
        _rows(merged.groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt")))
        == totals_before
    )
    assert merged.count() == merged.select("d", "bucket").distinct().count()
    with pytest.raises(ValueError, match="cms_depth"):
        textstats.cms_delta_heavy_hitters(spark, delta, path, depth=6).collect()
    assert _rows(textstats.cms_delta_heavy_hitters(spark, delta, path)) == before


def test_bloom_compaction_parity(spark, docs, tmp_path):
    """The idempotent-OR family re-distincts on compaction: the merged
    segment holds exactly the union bit-set (one row per bit), the probe
    verdicts are identical, the k geometry pin survives, and appending
    at a consumed wave id is refused forever."""
    path = str(tmp_path / "bloom_idx")
    dedup.write_bloom_index(_split(docs, "doc_id", 0, 7), path)
    dedup.write_bloom_index(_split(docs, "doc_id", 7, 9), path, 1)
    delta = _split(docs, "doc_id", 9, 10)
    before = _rows(dedup.bloom_delta_new_docs(spark, delta, path))
    bits_before = {
        r["pos"] for r in spark.read.parquet(path).select("pos").collect()
    }
    assert fsio.compact_index_kind(spark, path, "bloom_bits") == 2
    merged = spark.read.parquet(path)
    assert {r["pos"] for r in merged.collect()} == bits_before
    assert merged.count() == len(bits_before)  # one row per set bit
    with pytest.raises(ValueError, match="bloom_k"):
        dedup.bloom_delta_new_docs(spark, delta, path, k=2).collect()
    assert _rows(dedup.bloom_delta_new_docs(spark, delta, path)) == before
    with pytest.raises(ValueError, match="owned by a compaction"):
        dedup.write_bloom_index(_split(docs, "doc_id", 7, 9), path, 1)
