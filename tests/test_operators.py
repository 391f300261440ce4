"""Operator-suite tests: dedup / similarity / textstats / multimodal /
streaming over the driver's sf0.001 tables, including a pytest-side replica
of the driver's DuckDB-oracle gate for a representative subset."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import paperoni_spark.contract as contract
from pyspark.sql import functions as F
from paperoni_spark.operators import dedup, multimodal, similarity, textstats
from paperoni_spark.streaming import run_streaming_window_counts

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


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(SF_DIR, t + '.parquet')}'"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    return v


def assert_matches_oracle(sdf, con, sql):
    srows = sdf.collect()
    scols = sdf.columns
    res = con.execute(sql)
    orows = res.fetchall()
    ocols = [d[0] for d in res.description]
    order_s = sorted(range(len(scols)), key=lambda i: scols[i])
    order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
    assert [scols[i] for i in order_s] == [ocols[i] for i in order_o]
    s_set = sorted(
        (tuple(_norm(r[i]) for i in order_s) for r in srows), key=repr
    )
    o_set = sorted(
        (tuple(_norm(r[i]) for i in order_o) for r in orows), key=repr
    )
    assert s_set == o_set


def test_exact_dedup_matches_oracle(spark, docs, ddb):
    assert_matches_oracle(
        dedup.exact_dedup_stats(docs), ddb, contract.oracle_exact_dedup()
    )


def test_simhash_matches_oracle(spark, docs, ddb):
    assert_matches_oracle(dedup.simhash(docs), ddb, contract.oracle_simhash())


# building one simhash plan took ~2.3k gateway commands at 16 bits and
# ~9k at 64 while each bit was its own Column; the SQL-string plan takes
# well under 200 at any width
SIMHASH_PLAN_GATEWAY_CEILING = 250


def test_simhash_plan_size(spark, docs):
    """Plan-size guard: BUILDING (not running) a simhash plan costs a
    constant, small number of py4j gateway commands at any width, so a
    per-bit Column loop cannot silently bring the gateway traffic back."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = [0]

    def counting(*args, **kwargs):
        sent[0] += 1
        return send(*args, **kwargs)

    for bits in (16, dedup.SIMHASH_PAIR_BITS):
        sent[0] = 0
        client.send_command = counting
        try:
            dedup.simhash(docs, bits)
        finally:
            del client.send_command
        assert 0 < sent[0] < SIMHASH_PLAN_GATEWAY_CEILING, (bits, sent[0])


def test_minhash_matches_oracle(spark, docs, ddb):
    assert_matches_oracle(
        dedup.minhash_signatures(docs), ddb, contract.oracle_minhash_signatures()
    )


def test_selfjoin_pipelines_reuse_exchanges(spark, docs):
    """The blocked self-join family must physically SHARE its expensive
    upstream pipeline: direct per-doc sizes keep the subtrees canonical so
    Spark plans ReusedExchange (round 2's diagonal trick split the filters
    and re-derived the whole shingle pipeline per branch — 13 scans, zero
    reuse)."""
    for df in (dedup.ngram_jaccard_pairs(docs), dedup.winnow_overlap_pairs(docs)):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ReusedExchange") >= 2, plan[:2000]


def test_connected_components_generic(spark, docs, ddb):
    """connected_components is edge-source agnostic: a hand-built graph
    resolves to min-id labels; the simhash-edge clustering matches its
    recursive-CTE oracle."""
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id: long")
    # components: {1,2,3,4} (chain), {5,6}, {7} isolated
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "doc_a: long, doc_b: long"
    )
    got = {r["doc_id"]: (r["cluster"], r["is_survivor"]) for r in dedup.connected_components(nodes, pairs).collect()}
    assert got == {
        1: (1, True), 2: (1, False), 3: (1, False), 4: (1, False),
        5: (5, True), 6: (5, False), 7: (7, True),
    }
    assert_matches_oracle(
        dedup.simhash_dedup_clusters(docs),
        ddb,
        contract.oracle_simhash_dedup_clusters(),
    )


def test_simhash_near_dup_pairs(spark, docs, ddb):
    assert_matches_oracle(
        dedup.simhash_near_dup_pairs(docs),
        ddb,
        contract.oracle_simhash_near_dup_pairs(),
    )
    # pigeonhole exactness: with the cap lifted, the banded join must find
    # EXACTLY the naive all-pairs Hamming<=3 set (blocking is lossless when
    # bands > max_hamming)
    sh = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash(docs, bits=dedup.SIMHASH_PAIR_BITS).collect()
    }
    # the 64-bit fingerprint is two's-complement packed: bit 63 flips the
    # sign, and the corpus must exercise BOTH sides of that boundary or the
    # naive sweep below proves nothing about the sign-bit band/xor math
    assert any(v < 0 for v in sh.values()) and any(v >= 0 for v in sh.values())

    def hamming64(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    ids = sorted(sh)
    naive = {
        (a, b, hamming64(sh[a], sh[b]))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if hamming64(sh[a], sh[b]) <= dedup.SIMHASH_HAMMING_MAX
    }
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dedup.simhash_near_dup_pairs(docs, cap=10**9).collect()
    }
    assert got == naive and len(naive) > 0
    # lossy-parameter guard: pigeonhole exactness requires hamming < bands
    with pytest.raises(ValueError, match="max_hamming"):
        dedup.simhash_near_dup_pairs(docs, max_hamming=dedup.SIMHASH_BANDS)


def test_lsh_candidate_doc_pairs(spark, docs, ddb):
    assert_matches_oracle(
        dedup.lsh_candidate_doc_pairs(docs),
        ddb,
        contract.oracle_lsh_candidate_doc_pairs(),
    )
    # pairs must be consistent with the bucket histogram: every pair shares
    # at least one band-bucket, and exact-duplicate docs collide in ALL bands
    pairs = dedup.lsh_candidate_doc_pairs(docs).collect()
    assert len(pairs) > 0
    assert all(r["doc_a"] < r["doc_b"] for r in pairs)
    assert all(1 <= r["n_shared_bands"] <= dedup.LSH_BANDS for r in pairs)


def test_dedup_delta_never_reshingles(spark, docs, ddb, tmp_path):
    """Incremental delta-vs-corpus dedup: (1) the oracled query matches the
    DuckDB full-recompute twin, (2) results equal a full
    lsh_candidate_doc_pairs recompute restricted to delta-touching pairs,
    and (3) the corpus side is served ENTIRELY from the persisted band
    index — proven by deleting the corpus source files after the index
    write: any re-shingle attempt would fail on the missing input."""
    import shutil

    assert_matches_oracle(
        contract.q_dedup_delta_pairs(spark, SF_DIR),
        ddb,
        contract.oracle_dedup_delta_pairs(),
    )

    delta = docs.where(contract._delta_flag_col())
    corpus = docs.where(~contract._delta_flag_col())
    delta_ids = {r["doc_id"] for r in delta.select("doc_id").collect()}
    want = {
        (r["doc_a"], r["doc_b"], r["n_shared_bands"])
        for r in dedup.lsh_candidate_doc_pairs(docs).collect()
        if r["doc_a"] in delta_ids or r["doc_b"] in delta_ids
    }
    corpus_path = str(tmp_path / "corpus_src")
    corpus.write.parquet(corpus_path)
    index_path = str(tmp_path / "band_index")
    dedup.write_minhash_band_index(spark.read.parquet(corpus_path), index_path)
    shutil.rmtree(corpus_path)  # corpus text gone — re-shingling impossible
    got_df = dedup.dedup_delta_pairs_against_index(spark, delta, index_path)
    got = {
        (r["doc_a"], r["doc_b"], r["n_shared_bands"]) for r in got_df.collect()
    }
    assert got == want and len(want) > 0
    # the corpus side is the index scan (plan toString truncates long tmp
    # paths out of the Location field — inputFiles is exact)
    assert any("band_index" in f for f in got_df.inputFiles())
    # plan shape: the index is scanned at most twice (bucket histogram +
    # target side); without the materialized over-cap set each anti-join
    # consumer re-derives the histogram — 6 scans (round-4 plan audit)
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") <= 2, plan[:2000]

    # the recurring loop's write-back: append the probed delta, then a
    # second wave finds its duplicate against a WAVE-1 doc via the index
    dedup.write_minhash_band_index(delta, index_path, wave=1)
    # at-least-once retry of the SAME wave replays its segment —
    # the index does not grow and probes stay correct
    n_before = spark.read.parquet(index_path).count()
    dedup.write_minhash_band_index(delta, index_path, wave=1)
    assert spark.read.parquet(index_path).count() == n_before
    seed = delta.orderBy("doc_id").limit(1).collect()[0]
    wave2 = spark.createDataFrame(
        [(10_000_001, seed["text"])], "doc_id: long, text: string"
    )
    pairs2 = dedup.dedup_delta_pairs_against_index(spark, wave2, index_path).collect()
    hits = {(r["doc_a"], r["doc_b"]): r["n_shared_bands"] for r in pairs2}
    assert hits.get((seed["doc_id"], 10_000_001)) == dedup.LSH_BANDS


def test_simhash_delta_never_rehashes(spark, docs, ddb, tmp_path):
    """SimHash incremental twin: oracle parity, equality with the full
    recompute restricted to delta-touching pairs, and corpus-side
    independence proven by deleting the corpus source after the 16 B/doc
    fingerprint index is written."""
    import shutil

    assert_matches_oracle(
        contract.q_simhash_delta_pairs(spark, SF_DIR),
        ddb,
        contract.oracle_simhash_delta_pairs(),
    )

    delta = docs.where(contract._delta_flag_col())
    corpus = docs.where(~contract._delta_flag_col())
    delta_ids = {r["doc_id"] for r in delta.select("doc_id").collect()}
    want = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dedup.simhash_near_dup_pairs(docs).collect()
        if r["doc_a"] in delta_ids or r["doc_b"] in delta_ids
    }
    corpus_path = str(tmp_path / "corpus_src")
    corpus.write.parquet(corpus_path)
    index_path = str(tmp_path / "sh_index")
    dedup.write_simhash_index(
        dedup.simhash(spark.read.parquet(corpus_path), dedup.SIMHASH_PAIR_BITS),
        index_path,
    )
    shutil.rmtree(corpus_path)  # corpus text gone — re-hashing impossible
    got_df = dedup.simhash_delta_pairs_against_index(spark, delta, index_path)
    got = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in got_df.collect()}
    assert got == want and len(want) > 0
    assert any("sh_index" in f for f in got_df.inputFiles())

    # append the wave, then an exact copy of a delta doc (hamming 0)
    # surfaces against the WAVE-1 fingerprint via the index
    delta_sh = dedup.simhash(delta, dedup.SIMHASH_PAIR_BITS)
    dedup.write_simhash_index(delta_sh, index_path, wave=1)
    n_before = spark.read.parquet(index_path).count()
    dedup.write_simhash_index(delta_sh, index_path, wave=1)  # retry replays
    assert spark.read.parquet(index_path).count() == n_before
    seed = delta.orderBy("doc_id").limit(1).collect()[0]
    wave2 = spark.createDataFrame(
        [(10_000_001, seed["text"])], "doc_id: long, text: string"
    )
    pairs2 = dedup.simhash_delta_pairs_against_index(spark, wave2, index_path).collect()
    hits = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs2}
    assert hits.get((seed["doc_id"], 10_000_001)) == 0


def test_lsh_candidate_doc_pairs_degenerate_bucket_capped(spark):
    """An identical-signature cluster larger than the cap must yield ZERO
    pairs — the guard against the one-bucket O(B²) blowup — while a small
    cluster still enumerates."""
    n_big = dedup.MINHASH_BUCKET_CAP + 8
    rows = [(i, "boiler plate page " * 10) for i in range(n_big)]
    rows += [(1000 + i, "a rare unique document body here " * 5) for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = dedup.lsh_candidate_doc_pairs(df).collect()
    small = {(r["doc_a"], r["doc_b"]) for r in got}
    assert small == {(1000, 1001), (1000, 1002), (1001, 1002)}
    assert all(r["n_shared_bands"] == dedup.LSH_BANDS for r in got)
    # with the cap lifted the degenerate cluster explodes into B(B-1)/2 pairs
    uncapped = dedup.lsh_candidate_doc_pairs(df, cap=10_000).count()
    assert uncapped == n_big * (n_big - 1) // 2 + 3


def test_winnow_overlap_pairs(spark, docs, ddb):
    assert_matches_oracle(
        dedup.winnow_overlap_pairs(docs),
        ddb,
        contract.oracle_winnow_overlap_pairs(),
    )
    # overlap is containment in (0, 1]; exact duplicates hit 1.0
    text = "a perfectly ordinary duplicated document body with plenty of words " * 4
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, "utterly unrelated content entirely " * 5)],
        "doc_id: long, text: string",
    )
    got = {(r["doc_a"], r["doc_b"]): r["overlap"] for r in dedup.winnow_overlap_pairs(df).collect()}
    assert got == {(1, 2): 1.0}
    # the hot-fingerprint cap must be an UNHINTED anti-join (AQE decides)
    plan = dedup.winnow_overlap_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan


def test_lang_id_profile(spark, docs, ddb):
    assert_matches_oracle(
        contract.q_lang_id_profile(spark, SF_DIR),
        ddb,
        contract.oracle_lang_id_profile(),
    )
    # each stopword-dense sentence classifies as its own language; a
    # no-stopword doc falls back to 'und'
    rows = [(lang, text) for lang, text in contract._PLANT_SENTENCES.items()]
    rows.append(("xx", "zzqx gibberish tokens wholly outside every profile"))
    df = spark.createDataFrame(rows, "lang: string, text: string")
    got = {(r["lang"], r["lang_guess"]) for r in textstats.lang_id_profile(df).collect()}
    assert got == {("de", "de"), ("en", "en"), ("es", "es"), ("fr", "fr"), ("xx", "und")}


def test_benchmark_contamination(spark, docs, ddb):
    from paperoni_spark.operators.textstats import benchmark_contamination

    assert_matches_oracle(
        contract.q_benchmark_contamination(spark, SF_DIR),
        ddb,
        contract.oracle_benchmark_contamination(),
    )
    # a doc sharing one 13-gram with the benchmark is flagged; others not
    bench_text = " ".join(f"benchword{i}" for i in range(13))
    corpus = spark.createDataFrame(
        [
            (1, "prefix words " + bench_text + " suffix words"),
            (2, "entirely clean document with no overlapping grams at all " * 2),
        ],
        "doc_id: long, text: string",
    )
    bench = spark.createDataFrame([(bench_text,)], "text: string")
    got = {r["doc_id"]: (r["n_contaminated"], r["contaminated"]) for r in benchmark_contamination(corpus, bench).collect()}
    assert got == {1: (1, True), 2: (0, False)}
    # the benchmark n-gram set is a bounded eval suite: forced broadcast is
    # the intended plan (map-side probe of the corpus)
    plan = benchmark_contamination(corpus, bench)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # a corpus-scale frame handed as the benchmark fails LOUDLY before the
    # forced broadcast can OOM the driver
    with pytest.raises(ValueError, match="force-broadcast"):
        benchmark_contamination(corpus, bench, max_benchmark_rows=0)


def test_quality_scores_matches_oracle(spark, docs, ddb):
    assert_matches_oracle(
        textstats.quality_scores(docs), ddb, contract.oracle_quality_scores()
    )


def test_fingerprints_matches_oracle(spark, docs, ddb):
    assert_matches_oracle(
        textstats.fingerprints(docs), ddb, contract.oracle_fingerprints()
    )


def test_cosine_topk_matches_oracle(spark, embeds, ddb):
    assert_matches_oracle(
        similarity.cosine_topk(embeds), ddb, contract.oracle_cosine_topk()
    )


def test_ann_recall_against_exact(spark, embeds):
    """ANN is approximate: its hits must be a subset of each query's bucket
    and every returned pair must carry the exact cosine score."""
    exact = {
        (r["query_id"], r["vec_id"]): r["score"]
        for r in similarity.cosine_topk(embeds, n_queries=10, k=50).collect()
    }
    ann = similarity.ann_lsh_topk(embeds, n_queries=10, k=5).collect()
    assert len(ann) > 0
    for r in ann:
        key = (r["query_id"], r["vec_id"])
        if key in exact:
            assert exact[key] == r["score"]


def test_lsh_bucket_histogram_total(spark, embeds):
    rows = similarity.lsh_sign_buckets(embeds).collect()
    # banded: every vector appears once per band
    assert sum(r["n_vecs"] for r in rows) == embeds.count() * similarity.N_BANDS
    assert {r["band"] for r in rows} == set(range(similarity.N_BANDS))


def test_bucket_cap_excludes_degenerate_cluster(spark):
    """The MAX_BUCKET guard: a degenerate cluster (every vector identical →
    one over-cap bucket per band) generates NO candidate pairs, while the
    same corpus passes with the cap lifted — the O(B²) skew bound."""
    from paperoni_spark.operators.similarity import embedding_near_dup_pairs

    vec = [1.0] * similarity.EMBED_DIM
    rows = [(i, vec) for i in range(similarity.MAX_BUCKET + 5)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    assert embedding_near_dup_pairs(df).count() == 0
    capped_off = embedding_near_dup_pairs(df, cap=10_000)
    n = similarity.MAX_BUCKET + 5
    assert capped_off.count() == n * (n - 1) // 2


def test_media_features_plumbing(spark, docs):
    media = multimodal.media_table_from_documents(docs)
    feats = multimodal.media_features(media).limit(20).collect()
    assert len(feats) == 20
    for r in feats:
        assert 64 <= r["width"] < 256
        assert 64 <= r["height"] < 256
        assert len(r["feature"]) == multimodal.FEATURE_DIM
        assert r["n_bytes"] > 0


def test_streaming_equals_batch(spark, ddb):
    from paperoni_spark.streaming import windowed_event_counts

    events = contract.load(spark, SF_DIR, "events")
    batch = windowed_event_counts(events)
    stream = run_streaming_window_counts(spark, SF_DIR)
    assert_matches_oracle(stream, ddb, contract.oracle_windowed_events())
    assert sorted(map(tuple, batch.collect())) == sorted(map(tuple, stream.collect()))


def test_ngram_jaccard_sane(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.05).collect()
    for r in pairs:
        assert 0.05 <= r["jaccard"] <= 1.0
        assert r["doc_a"] < r["doc_b"]


def test_session_stats_matches_oracle(spark, ddb):
    events = contract.load(spark, SF_DIR, "events")
    assert_matches_oracle(
        contract.sessionize.session_stats(events), ddb, contract.oracle_session_stats()
    )


def test_stateful_streaming_equals_batch(spark, ddb):
    from paperoni_spark.streaming.stateful import running_user_totals

    totals = running_user_totals(spark, SF_DIR)
    assert_matches_oracle(totals, ddb, contract.oracle_user_totals())


def test_pdf_extract_plumbing(spark, docs, ddb):
    from paperoni_spark.operators import pdf

    result = pdf.extract_pdf(pdf.pdf_table_from_documents(docs))
    rows = result.collect()
    assert len(rows) == docs.count()
    for r in rows[:20]:
        assert r["status"] == "ok"
        assert 1 <= r["n_pages"] <= 4
        spans = r["extracted"]
        assert [s["order"] for s in spans] == list(range(len(spans)))
        assert all(s["kind"] in ("text", "image") for s in spans)
        pages = [s["page"] for s in spans if s["kind"] == "text"]
        assert pages == sorted(pages)
    assert_matches_oracle(
        pdf.extract_pdf(pdf.pdf_table_from_documents(docs)).select(
            "doc_id", "n_pages", "status", "spans_emitted"
        ),
        ddb,
        contract.oracle_pdf_page_stats(),
    )


def test_ivf_ann(spark, embeds):
    from paperoni_spark.operators.similarity import ann_ivf_topk, cosine_topk, ivf_assignments

    assigned, centroids = ivf_assignments(embeds, n_centroids=8, iters=2)
    counts = {r["centroid"]: r["n"] for r in assigned.groupBy("centroid").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == embeds.count()
    assert len(centroids) == 8 and all(len(c) == 64 for c in centroids)

    ann = ann_ivf_topk(embeds, n_queries=5, k=5, n_centroids=8, nprobe=2).collect()
    assert len(ann) > 0
    exact = {
        (r["query_id"], r["vec_id"]): r["score"]
        for r in cosine_topk(embeds, n_queries=5, k=100).collect()
    }
    # every IVF hit carries the exact cosine score for that pair
    for r in ann:
        key = (r["query_id"], r["vec_id"])
        if key in exact:
            assert exact[key] == r["score"]
    # IVF with nprobe=2 of 8 clusters should recover a decent share of the
    # true top-5 (deterministic corpus → deterministic recall)
    true_top = {}
    for (q, v), s in exact.items():
        true_top.setdefault(q, []).append((s, v))
    hits = 0
    for q, lst in true_top.items():
        top5 = {v for _, v in sorted(lst, key=lambda t: (-t[0], t[1]))[:5]}
        got = {r["vec_id"] for r in ann if r["query_id"] == q}
        hits += len(top5 & got)
    assert hits >= 5  # ≥20% recall across 5 queries at this tiny scale


def test_embedding_near_dup_blocking(spark, embeds, ddb):
    from paperoni_spark.operators.similarity import embedding_near_dup_pairs

    # planted twins make the 0.95 gate non-trivial (>0 rows both engines)
    planted = contract.planted_embeddings(embeds)
    result = embedding_near_dup_pairs(planted)
    assert result.count() >= contract.N_PLANTED_TWINS
    assert_matches_oracle(result, ddb, contract.oracle_embedding_near_dup())
    # at a permissive threshold the blocked comparison yields real pairs
    pairs = embedding_near_dup_pairs(embeds, threshold=0.3).collect()
    assert len(pairs) > 0
    for r in pairs:
        assert r["vec_a"] < r["vec_b"]
        assert 0.3 <= r["cosine"] <= 1.0


def test_embedding_delta_never_recodes(spark, embeds, ddb, tmp_path):
    """Embedding incremental twin: oracle parity, equality with the full
    recompute restricted to delta-touching pairs, and corpus-side
    independence — the corpus source is deleted after the index (vectors
    + precomputed codes) is written, so any re-coding would fail."""
    import shutil

    from paperoni_spark.operators.similarity import (
        embedding_delta_near_dup_against_index,
        embedding_near_dup_pairs,
        write_embedding_lsh_index,
    )

    assert_matches_oracle(
        contract.q_embedding_delta_near_dup(spark, SF_DIR),
        ddb,
        contract.oracle_embedding_delta_near_dup(),
    )

    planted = contract.planted_embeddings(embeds)
    flag = contract._delta_flag_col("vec_id", contract._EMB_DELTA_PREFIX_CHARS)
    delta = planted.where(flag)
    corpus = planted.where(~flag)
    delta_ids = {r["vec_id"] for r in delta.select("vec_id").collect()}
    want = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in embedding_near_dup_pairs(planted).collect()
        if r["vec_a"] in delta_ids or r["vec_b"] in delta_ids
    }
    corpus_path = str(tmp_path / "corpus_src")
    corpus.write.parquet(corpus_path)
    index_path = str(tmp_path / "emb_index")
    write_embedding_lsh_index(spark.read.parquet(corpus_path), index_path)
    shutil.rmtree(corpus_path)  # corpus vectors gone from the source
    got_df = embedding_delta_near_dup_against_index(spark, delta, index_path)
    got = {(r["vec_a"], r["vec_b"], r["cosine"]) for r in got_df.collect()}
    assert got == want and len(want) > 0
    assert any("emb_index" in f for f in got_df.inputFiles())

    # the recurring loop's write-back: append the probed wave, then an
    # exact copy of a wave-1 delta vector surfaces (cosine 1.0) against
    # the appended codes via the index — mirrors the MinHash/SimHash twins
    write_embedding_lsh_index(delta, index_path, wave=1)
    # at-least-once retry of the SAME wave replays its segment
    n_before = spark.read.parquet(index_path).count()
    write_embedding_lsh_index(delta, index_path, wave=1)
    assert spark.read.parquet(index_path).count() == n_before
    seed = delta.orderBy("vec_id").limit(1).collect()[0]
    wave2 = spark.createDataFrame(
        [(10_000_001, list(seed["embedding"]))], "vec_id: long, embedding: array<double>"
    )
    pairs2 = embedding_delta_near_dup_against_index(spark, wave2, index_path).collect()
    hits = {(r["vec_a"], r["vec_b"]): r["cosine"] for r in pairs2}
    assert hits.get((seed["vec_id"], 10_000_001)) == 1.0


def test_embedding_dedup_clusters(spark, embeds, ddb):
    """Semantic dedup: CC over the cosine near-dup edges; every planted
    twin lands in its seed's cluster with the seed surviving."""
    from paperoni_spark.operators.similarity import embedding_dedup_clusters

    planted = contract.planted_embeddings(embeds)
    result = embedding_dedup_clusters(planted)
    assert_matches_oracle(result, ddb, contract.oracle_embedding_dedup_clusters())
    got = {r["vec_id"]: (r["cluster"], r["is_survivor"]) for r in result.collect()}
    for seed in range(contract.N_PLANTED_TWINS):
        twin = seed + contract.TWIN_ID_OFFSET
        assert got[twin][0] == got[seed][0] == seed
        assert got[seed][1] and not got[twin][1]


def test_bpe_token_stats(spark, docs, ddb):
    assert_matches_oracle(
        contract.textstats.bpe_token_stats(docs), ddb, contract.oracle_bpe_token_stats()
    )


def test_media_resize_sample(spark, docs, ddb):
    from paperoni_spark.operators import multimodal

    media = multimodal.media_table_from_documents(docs)
    result = multimodal.media_resize_and_sample(media)
    rows = result.collect()
    for r in rows[:30]:
        assert max(r["out_width"], r["out_height"]) <= 224
        if r["mime"].startswith("video/"):
            assert 1 <= len(r["frame_indices"].split("|")) <= 8
        else:
            assert r["frame_indices"] == ""
    assert_matches_oracle(result, ddb, contract.oracle_media_resize_sample())


def test_shingle_df_cap_blocks_boilerplate(spark):
    """Hot-shingle guard: documents whose ONLY overlap is a boilerplate
    shingle (df > cap) never become candidates, while the same corpus
    pairs up with the cap lifted."""
    from paperoni_spark.operators.dedup import SHINGLE_DF_CAP, ngram_jaccard_pairs

    n = SHINGLE_DF_CAP + 20
    rows = [(f"d{i:04d}", f"BOILER PLATE TEXT unique{i} token{i}") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id: string, text: string")
    assert ngram_jaccard_pairs(df).count() == 0
    uncapped = ngram_jaccard_pairs(df, df_cap=10_000)
    assert uncapped.count() == n * (n - 1) // 2


def test_winnow_fingerprints(spark, docs, ddb):
    from paperoni_spark.operators.dedup import winnow_fingerprints

    result = winnow_fingerprints(docs)
    assert_matches_oracle(result, ddb, contract.oracle_winnow_fingerprints())
    rows = result.collect()
    # winnowing selects far fewer fingerprints than there are shingles
    for r in rows[:20]:
        assert r["n_fingerprints"] >= 1
        assert len(r["fp_digest"]) == 32


def test_dedup_clusters_chain(spark):
    """A duplicate chain A~B~C (A!~C directly) must collapse into ONE
    cluster labeled with the minimum doc_id — the transitive-closure case
    pair-listing alone can't express."""
    from paperoni_spark.operators.dedup import dedup_clusters

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, f"{shared} one two three"),
        (2, f"{shared} one two three four five"),  # near-dup of 1 and 3
        (3, f"{shared} four five six"),
        (10, "completely different text with no overlap at all whatsoever"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {r["doc_id"]: (r["cluster"], r["is_survivor"]) for r in dedup_clusters(df, threshold=0.1).collect()}
    assert got[1] == (1, True)
    assert got[2] == (2, False) or got[2] == (1, False)
    assert got[2][0] == 1 and got[3][0] == 1  # transitive closure via 2
    assert got[10] == (10, True)


def test_dedup_clusters_oracle(spark, docs, ddb):
    from paperoni_spark.operators.dedup import dedup_clusters

    assert_matches_oracle(
        dedup_clusters(docs), ddb, contract.oracle_dedup_clusters()
    )


def test_hash_sampling(spark, docs, ddb):
    from paperoni_spark.operators.sampling import hash_sample, stratified_hash_sample

    total = docs.count()
    sampled = hash_sample(docs, fraction=0.2)
    n = sampled.count()
    # deterministic: same result twice, and roughly the asked fraction
    assert n == hash_sample(docs, fraction=0.2).count()
    assert 0.1 * total < n < 0.35 * total
    # monotone in fraction: a bigger sample contains the smaller one
    small = {r["doc_id"] for r in sampled.collect()}
    big = {r["doc_id"] for r in hash_sample(docs, fraction=0.5).collect()}
    assert small <= big
    # salt rotation draws a different subset
    other = {r["doc_id"] for r in hash_sample(docs, fraction=0.2, salt="v2:").collect()}
    assert other != small
    # fraction=1.0 keeps EVERY document (keys equal to 'ffffffff' included)
    assert hash_sample(docs, fraction=1.0).count() == total
    assert_matches_oracle(
        hash_sample(docs, fraction=0.2).select("doc_id", "lang"),
        ddb,
        contract.oracle_hash_sample(),
    )
    strat = stratified_hash_sample(docs, {"en": 1.0, "zh": 0.0}, 0.0)
    langs = {r["lang"] for r in strat.collect()}
    assert langs == {"en"}


def test_quality_filter(spark, docs, ddb):
    from paperoni_spark.operators.textstats import quality_filter

    result = quality_filter(docs)
    rows = result.collect()
    assert len(rows) == docs.count()
    for r in rows:
        assert r["keep"] == (r["reject_reason"] is None)
    assert_matches_oracle(result, ddb, contract.oracle_quality_filter())
    # adversarial rows hit each rule in the documented order
    adv = spark.createDataFrame(
        [
            (1, "en", "tiny doc"),  # too_short
            (2, "en", " ".join(["superlongtokenxxxxxxxxxx"] * 60)),  # token_len
            (3, "en", " ".join(["a.b,c!d?e;f:"] * 60)),  # high_punct (punct>0.2)
            (4, "en", " ".join(["word"] * 60)),  # low_stopword (en, no stops)
            (5, "zh", " ".join(["word"] * 60)),  # kept: stopword rule is en-only
        ],
        "doc_id: long, lang: string, text: string",
    )
    got = {r["doc_id"]: r["reject_reason"] for r in quality_filter(adv).collect()}
    assert got == {
        1: "too_short",
        2: "token_len",
        3: "high_punct",
        4: "low_stopword",
        5: None,
    }


def test_token_budget_sample(spark, docs, ddb):
    from paperoni_spark.operators.sampling import token_budget_sample

    budgets = {"en": 5_000, "zh": 1_000}
    result = token_budget_sample(docs, budgets, default_budget=500)
    rows = result.collect()
    assert len(rows) > 0
    per_lang_max = {}
    for r in rows:
        assert r["cum_tokens"] <= budgets.get(r["lang"], 500)
        per_lang_max[r["lang"]] = max(per_lang_max.get(r["lang"], 0), r["cum_tokens"])
    # deterministic under repartitioning
    again = token_budget_sample(docs.repartition(7), budgets, default_budget=500)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again.collect()))
    # scale shape: the data-side cumulative window must be partitioned by
    # (lang, pfx) — never a whole stratum through one task — and AQE must
    # pick a broadcast for the (here runtime-tiny) unhinted offsets join
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    import re

    data_windows = [
        m for m in re.findall(r"windowspecdefinition\([^)]*\)", plan)
    ]
    assert any("pfx" in w for w in data_windows)
    # the only per-lang-alone window partitions the 256-row summary: its
    # frame is the offsets running sum (unboundedpreceding, -1), not the
    # data-side cumulative frame (ends at currentrow)
    for w in data_windows:
        if "pfx" not in w:
            assert "-1" in w
    assert_matches_oracle(
        token_budget_sample(docs, contract._TOKEN_BUDGETS, contract._TOKEN_BUDGET_DEFAULT),
        ddb,
        contract.oracle_token_budget_sample(),
    )


def test_unigram_logprob(spark, docs, ddb):
    from paperoni_spark.operators.textstats import unigram_logprob

    result = unigram_logprob(docs)
    rows = result.collect()
    assert len(rows) == docs.count()
    for r in rows:
        assert r["avg_log2_prob"] < 0  # probabilities < 1
        assert r["perplexity"] > 1
    assert_matches_oracle(result, ddb, contract.oracle_unigram_logprob())
    # a gibberish doc (all-unique tokens) scores lower than a common-word doc
    adv = spark.createDataFrame(
        [(900001, "en", "the of and the of and the of and " * 10),
         (900002, "en", " ".join(f"zzqx{i}gibber" for i in range(90)))],
        "doc_id: long, lang: string, text: string",
    )
    scored = {r["doc_id"]: r["avg_log2_prob"] for r in unigram_logprob(docs.select("doc_id", "lang", "text").union(adv)).collect()}
    assert scored[900002] < scored[900001]
    # head/tail split: with a tiny head_k that genuinely routes hot tokens
    # map-side and cold tokens through the shuffled join, values must be
    # IDENTICAL (lp depends only on (tf, total), not the branch)
    split = unigram_logprob(docs, head_k=3)
    assert sorted(map(tuple, split.collect())) == sorted(map(tuple, rows))
    plan = split._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # head matches map-side
    assert "LeftAnti" in plan  # tail routing is the anti-join on head keys


def test_ivf_probe_scan_partition_pruned(spark, embeds, tmp_path_factory):
    """The IVF scale path, demonstrated: the assigned table written
    partitioned by centroid yields probe scans that prune to exactly the
    nprobe probed partitions — a partition filter, not a row filter over
    the full corpus."""
    path = str(tmp_path_factory.mktemp("ivf") / "index")
    assigned, centroids = similarity.ivf_assignments(embeds, n_centroids=16)
    similarity.write_ivf_index(assigned, path, centroids)
    probes = [3, 7]
    scan = similarity.ivf_probe_scan(spark, path, probes)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    # the IN-filter must land in PartitionFilters (listing-time pruning);
    # a PushedFilter would still open every partition's files
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "centroid" in pf and "IN" in pf.upper()
    # only the probed directories are actually read
    files = {
        r[0]
        for r in scan.select(
            F.regexp_extract(F.input_file_name(), r"centroid=(\d+)", 1)
        ).distinct().collect()
    }
    assert files == {"3", "7"}
    # and the pruned scan returns exactly the probed clusters' rows
    expected = assigned.where(F.col("centroid").isin(probes)).count()
    assert scan.count() == expected > 0

    # recurring-wave write-back: the persisted coarse quantizer makes the
    # index self-contained — a wave assigns against the FROZEN centroids
    # map-side and appends into its partition; the side table is
    # underscore-prefixed, invisible to partition discovery
    assert similarity.read_ivf_centroids(spark, path) == centroids
    seed = assigned.orderBy("vec_id").limit(1).collect()[0]
    wave = spark.createDataFrame(
        [(10_000_001, list(seed["emb"]))], "vec_id: long, embedding: array<double>"
    )
    similarity.append_to_ivf_index(wave, path, 1)
    # at-least-once retry of the SAME wave replays its segment
    n_before = spark.read.parquet(path).count()
    similarity.append_to_ivf_index(wave, path, 1)
    assert spark.read.parquet(path).count() == n_before
    got = similarity.ivf_probe_scan(spark, path, [seed["centroid"]]).where(
        F.col("vec_id") == 10_000_001
    ).collect()
    assert len(got) == 1 and got[0]["centroid"] == seed["centroid"]
    # an index without its quantizer side table fails loudly
    with pytest.raises(ValueError, match="_centroids"):
        similarity.read_ivf_centroids(spark, str(tmp_path_factory.mktemp("none")))
    # a legacy flat directory (bare part files) is refused at the WRITE,
    # not discovered as a broken mixed layout at the next probe
    from paperoni_spark.fsio import write_wave_segment

    flat = tmp_path_factory.mktemp("flatdir")
    (flat / "part-00000.parquet").touch()
    with pytest.raises(ValueError):
        write_wave_segment(embeds.limit(1), str(flat), 1, kind="ivf")


def test_ann_lsh_index_partition_pruned(spark, embeds, ddb, tmp_path):
    """The LSH-index ANN scale path: the rows table partitioned by
    (band, bkey) is read pruned to the probed buckets only, results are
    identical to the in-query ann_lsh_topk, and the over-cap guard comes
    from the counts table, never a corpus scan."""
    from paperoni_spark.operators.similarity import (
        ann_lsh_topk,
        ann_lsh_topk_indexed,
        write_lsh_bucket_index,
    )

    path = str(tmp_path / "lsh_index")
    write_lsh_bucket_index(embeds, path)
    got_df = ann_lsh_topk_indexed(spark, embeds, path)
    got = sorted(map(tuple, got_df.collect()))
    want = sorted(map(tuple, ann_lsh_topk(embeds).collect()))
    assert got == want and len(got) > 0
    assert_matches_oracle(got_df, ddb, contract.oracle_ann_lsh_topk())
    # the pruned scan really prunes: probe two known buckets and assert
    # only their directories' files are read (input_file_name is single-
    # source here) and the predicate lands in PartitionFilters
    from paperoni_spark.operators.similarity import lsh_probe_scan

    some = spark.read.parquet(f"{path}/counts").orderBy("band", "bkey").limit(2).collect()
    probe = {(r["band"], r["bkey"]) for r in some}
    scan = lsh_probe_scan(spark, path, probe, cap=10**9)
    read_dirs = {
        (int(r[0]), r[1])
        for r in scan.select(
            F.regexp_extract(F.input_file_name(), r"band=(\d+)", 1),
            F.regexp_extract(F.input_file_name(), r"bkey=([01]+)", 1),
        )
        .distinct()
        .collect()
    }
    assert read_dirs == probe
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters:" in plan, plan[:2000]
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "band" in pf and "bkey" in pf

    # the recurring loop's write-back: append a wave duplicating query
    # vector 0 under a fresh id — the probe then surfaces it at cosine
    # 1.0 rank 1, and the per-wave counts segments stay exact (sum to
    # rows-table cardinality, so the over-cap guard keeps working)
    from paperoni_spark.operators.similarity import (
        _LSH_ROWS_SCHEMA,
        write_lsh_bucket_index,
    )

    seed = embeds.orderBy("vec_id").limit(1).collect()[0]
    wave = spark.createDataFrame(
        [(10_000_001, list(seed["embedding"]))], "vec_id: long, embedding: array<double>"
    )
    write_lsh_bucket_index(wave, path, wave=1)
    after = ann_lsh_topk_indexed(spark, embeds.unionByName(wave.withColumn("label", F.lit(None).cast("int"))), path)
    top = {(r["query_id"], r["vec_id"]): (r["score"], r["rank"]) for r in after.collect()}
    assert top[(seed["vec_id"], 10_000_001)] == (1.0, 1)

    def index_state():
        rows = spark.read.schema(_LSH_ROWS_SCHEMA).parquet(f"{path}/rows")
        n_rows = rows.count()
        n_counted = (
            spark.read.parquet(f"{path}/counts").agg(F.sum("n_vecs")).collect()[0][0]
        )
        return n_rows, n_counted

    n_rows, n_counted = index_state()
    assert n_rows == n_counted
    # at-least-once retry of the SAME wave id replays its own segments —
    # rows are NOT double-appended and the histogram stays exact (the
    # failure mode of the former global-append + counts-swap design)
    write_lsh_bucket_index(wave, path, wave=1)
    assert index_state() == (n_rows, n_counted)
    # a negative wave id is refused (0 is the build)
    with pytest.raises(ValueError):
        write_lsh_bucket_index(wave, path, wave=-1)


def test_repetition_stats(spark, docs, ddb):
    from paperoni_spark.operators.textstats import repetition_stats

    result = repetition_stats(docs)
    assert_matches_oracle(result, ddb, contract.oracle_repetition_stats())
    adv = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam"),
         (2, "all tokens here are fully distinct words"),
         (3, "single")],
        "doc_id: long, text: string",
    )
    got = {r["doc_id"]: r for r in repetition_stats(adv).collect()}
    assert got[1]["top_bigram_frac"] == 1.0 and got[1]["dup_token_frac"] > 0.8
    assert got[2]["dup_token_frac"] == 0.0
    assert got[3]["n_bigrams"] == 0 and got[3]["top_bigram_frac"] == 0.0


def test_index_kind_marker(spark, embeds, docs, tmp_path):
    """All wave-keyed indexes share one layout, so the layout guard alone
    can't stop one family's wave=0 build from destroying another's
    committed segment: the _index_kind marker must (a) refuse a foreign
    family BEFORE anything is deleted, (b) adopt a legacy marker-less
    index, (c) extend to the two-table LSH bucket index, whose writer
    checks both sub-roots before writing either."""
    from paperoni_spark.fsio import write_wave_segment
    from paperoni_spark.operators.dedup import (
        SIMHASH_PAIR_BITS,
        simhash,
        write_simhash_index,
    )
    from paperoni_spark.operators.similarity import (
        write_lsh_bucket_index,
    )

    # (a) cross-family refusal, committed build left untouched
    sim_path = str(tmp_path / "simhash_idx")
    write_simhash_index(simhash(docs, SIMHASH_PAIR_BITS), sim_path)
    before = sorted(r["doc_id"] for r in spark.read.parquet(sim_path).collect())
    with pytest.raises(ValueError, match="simhash"):
        write_wave_segment(embeds.limit(1), sim_path, 0, kind="ivf")
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(sim_path).collect()
    ) == before

    # (b) a pre-round-6 index (wave layout, no marker) is adopted: the
    # matching family appends fine and the marker appears
    legacy = tmp_path / "legacy_idx"
    write_simhash_index(simhash(docs, SIMHASH_PAIR_BITS), str(legacy))
    for p in legacy.iterdir():
        if p.name.startswith("_index_kind_"):
            p.unlink()
    write_simhash_index(
        simhash(docs.withColumn("doc_id", F.col("doc_id") + 10_000_000), SIMHASH_PAIR_BITS),
        str(legacy),
        1,
    )
    assert (legacy / "_index_kind_simhash").exists()
    with pytest.raises(ValueError, match="simhash"):
        write_wave_segment(embeds.limit(1), str(legacy), 2, kind="ivf")

    # (c) the LSH bucket index: foreign-kind refusal at its root, and the
    # flat-legacy refusal on its rows/ sub-root (the one writer that
    # bypassed write_wave_segment's guard until round 6)
    with pytest.raises(ValueError, match="simhash"):
        write_lsh_bucket_index(embeds, sim_path)
    lsh_path = tmp_path / "lsh_idx"
    (lsh_path / "rows").mkdir(parents=True)
    (lsh_path / "rows" / "part-00000.parquet").touch()
    with pytest.raises(ValueError, match="not a wave-segmented"):
        write_lsh_bucket_index(embeds, str(lsh_path), 1)


_WAVE_ID_FAMILIES = [
    "minhash_bands", "simhash", "substring_hist", "bloom_bits", "cms_sketch",
    "embedding_lsh", "lsh_buckets", "user_state", "time_rollup", "ivf",
]


@pytest.mark.parametrize("family", _WAVE_ID_FAMILIES)
def test_wave_id_rule_every_family(spark, docs, embeds, tmp_path, family):
    """One wave-id rule for every index family's segment writer (the
    ivf family's append): a non-numeric string id is a wave like
    any other, an empty or negative id is refused with ValueError before
    the root is touched."""
    from paperoni_spark.operators import temporal

    small_docs = docs.orderBy("doc_id").limit(40)
    small_embeds = embeds.orderBy("vec_id").limit(64)
    events = contract.load(spark, SF_DIR, "events").orderBy("event_id").limit(200)
    sh = dedup.simhash(small_docs, dedup.SIMHASH_PAIR_BITS)

    def ivf_build(p):
        assigned, centroids = similarity.ivf_assignments(small_embeds, n_centroids=4)
        similarity.write_ivf_index(assigned, p, centroids)

    # family -> (build at wave 0, write the given wave)
    writers = {
        "minhash_bands": (None, lambda p, w: dedup.write_minhash_band_index(small_docs, p, w)),
        "simhash": (None, lambda p, w: dedup.write_simhash_index(sh, p, w)),
        "substring_hist": (None, lambda p, w: dedup.write_substring_index(small_docs, p, w, n=8)),
        "bloom_bits": (None, lambda p, w: dedup.write_bloom_index(small_docs, p, w)),
        "cms_sketch": (None, lambda p, w: textstats.write_cms_index(small_docs, p, w)),
        "embedding_lsh": (None, lambda p, w: similarity.write_embedding_lsh_index(small_embeds, p, w)),
        "lsh_buckets": (None, lambda p, w: similarity.write_lsh_bucket_index(small_embeds, p, w)),
        "user_state": (None, lambda p, w: temporal.write_user_state_index(events, p, w)),
        "time_rollup": (None, lambda p, w: temporal.write_rollup_index(events, p, w)),
        "ivf": (ivf_build, lambda p, w: similarity.append_to_ivf_index(small_embeds, p, w)),
    }
    build, write = writers[family]
    path = str(tmp_path / family)
    if build is None:
        write(path, 0)
    else:
        build(path)

    def listing():
        return sorted(
            os.path.relpath(os.path.join(d, n), path)
            for d, dirs, files in os.walk(path)
            for n in dirs + files
        )

    write(path, "w1")
    after_w1 = listing()
    assert any("wave=w1" in n for n in after_w1), after_w1
    for bad in ("", "-1"):
        with pytest.raises(ValueError, match="wave id"):
            write(path, bad)
        assert listing() == after_w1, bad


def test_normalized_dedup(spark, docs, ddb):
    """Normalization-aware dedup: oracle parity on the planted mirror
    corpus (every planted case/punct variant collapses onto its seed),
    plus a fixture pinning the normalization rules one by one."""
    from paperoni_spark.operators.dedup import normalized_dedup

    result = contract.q_normalized_dedup(spark, SF_DIR)
    rows = result.collect()
    assert_matches_oracle(result, ddb, contract.oracle_normalized_dedup())
    merged = {r["first_doc_id"]: r["n_docs"] for r in rows if r["n_docs"] > 1}
    assert {i: 2 for i in range(contract._NORM_PLANT_N)}.items() <= merged.items()

    adv = spark.createDataFrame(
        [
            (1, "Hello, World!"),
            (2, "hello   world"),       # case + punct + whitespace variant
            (3, "  HELLO — world.  "),  # unicode punct + padding
            (4, "hello worlds"),        # genuinely different
        ],
        "doc_id: long, text: string",
    )
    got = {r["first_doc_id"]: r["n_docs"] for r in normalized_dedup(adv).collect()}
    assert got == {1: 3, 4: 1}


def test_edit_verified_pairs(spark, docs, ddb):
    """Two-stage near-dup verification: oracle parity (the length
    prefilter is proven result-neutral by the oracle omitting it), plus
    an exact-twin fixture pinning the all-bands candidate and the zero
    distance."""
    from paperoni_spark.operators.dedup import LSH_BANDS, edit_verified_pairs

    result = edit_verified_pairs(docs)
    assert_matches_oracle(result, ddb, contract.oracle_edit_verified_pairs())

    t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    adv = spark.createDataFrame(
        [(1, t), (2, t), (3, "completely unrelated words nothing shared here at all")],
        "doc_id: long, text: string",
    )
    got = edit_verified_pairs(adv).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["n_shared_bands"] == LSH_BANDS
    assert r["edit_dist"] == 0 and r["norm_dist"] == 0.0

    # non-ASCII portability: Spark levenshtein counts code points,
    # DuckDB's counts BYTES — both sides measure over the ASCII
    # projection, so a multibyte edit ('café'→'cafe': 2 bytes, 1 char)
    # cannot desynchronize the gate.  Candidacy here is deterministic
    # (md5 minhash), pinned by the candidate assertion.
    base_t = "café rösti naïve " + " ".join(f"tok{i}" for i in range(40))
    nadv = spark.createDataFrame(
        [
            (1, base_t),
            (2, base_t.replace("café", "cafe")),
            (3, "all totally different words here nothing common"),
        ],
        "doc_id: long, text: string",
    )
    nres = edit_verified_pairs(nadv)
    nrows = nres.collect()
    assert [(r["doc_a"], r["doc_b"]) for r in nrows] == [(1, 2)], nrows
    assert nrows[0]["edit_dist"] == 1  # café→caf?, cafe: one substitution
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    for i, t in [(1, base_t), (2, base_t.replace("café", "cafe")),
                 (3, "all totally different words here nothing common")]:
        con.execute("INSERT INTO documents VALUES (?, ?)", [i, t])
    assert_matches_oracle(nres, con, contract.oracle_edit_verified_pairs())


def test_interleave_stats(spark, ddb):
    """Interleaved-payload profile: oracle parity against the frozen
    golden span sequences, plus a hand-checked micro-fixture (runs,
    media fraction, single-span doc, empty doc excluded)."""
    from paperoni_spark.operators.multimodal import interleave_stats

    result = contract.q_interleave_stats(spark, SF_DIR)
    assert_matches_oracle(result, ddb, contract.oracle_interleave_stats())
    rows = result.collect()
    # the fixture corpus really interleaves: some doc alternates kinds
    assert any(r["n_media_spans"] > 0 and r["n_runs"] >= 3 for r in rows)

    schema = (
        "doc_id: long, extracted: array<struct<"
        "kind:string,text:string,media_ref:string,order:int>>"
    )
    adv = spark.createDataFrame(
        [
            (1, [("text", "a", None, 0), ("image", None, "m1", 1),
                 ("image", None, "m2", 2), ("text", "b", None, 3)]),
            (2, [("text", "only", None, 0)]),
            (3, []),
        ],
        schema,
    )
    got = {r["doc_id"]: r for r in interleave_stats(adv).collect()}
    assert set(got) == {1, 2}  # empty doc produces no row
    r1 = got[1]
    assert (r1["n_spans"], r1["n_text_spans"], r1["n_media_spans"]) == (4, 2, 2)
    assert r1["n_runs"] == 3 and r1["media_frac"] == 0.5
    r2 = got[2]
    assert (r2["n_spans"], r2["n_runs"], r2["media_frac"]) == (1, 1, 0.0)


def test_sequence_pack(spark, docs, ddb):
    """Concat-then-chunk packing manifest: oracle parity (two-phase
    bucket prefix sum ≡ the naive single window), global contiguity of
    the token layout, boundary-crossing docs present, and a hand-checked
    micro-fixture."""
    from paperoni_spark.operators.packing import sequence_pack

    result = contract.build_queries()["sequence_pack"](spark, SF_DIR)
    rows = sorted(result.collect(), key=lambda r: r["doc_id"])
    assert_matches_oracle(result, ddb, contract.oracle_sequence_pack())
    # the layout is gapless and ordered: each doc starts where the
    # previous one ended
    cum = 0
    for r in rows:
        assert r["start_token"] == cum, r
        cum += r["n_tokens"]
    # short gate seq_len guarantees chunk-boundary crossings
    assert any(r["end_seq"] > r["start_seq"] for r in rows)

    adv = spark.createDataFrame(
        [
            (0, "a b c d e f g"),        # 7 tokens + EOD = 8
            (1, "h i j k"),              # 4 + 1 = 5
            (2, "l m n o p q r s t u v w"),  # 12 + 1 = 13
            (3, "x"),                    # 1 + 1 = 2
        ],
        "doc_id: long, text: string",
    )
    got = {
        r["doc_id"]: r for r in sequence_pack(adv, seq_len=10, bucket_size=2).collect()
    }
    assert (got[0]["start_token"], got[0]["start_seq"], got[0]["end_seq"]) == (0, 0, 0)
    assert (got[1]["start_token"], got[1]["start_seq"], got[1]["end_seq"]) == (8, 0, 1)
    assert (got[2]["start_token"], got[2]["start_seq"], got[2]["end_seq"]) == (13, 1, 2)
    assert (got[3]["start_token"], got[3]["start_seq"], got[3]["end_seq"]) == (26, 2, 2)


def test_shard_assignments(spark, docs, ddb):
    """Size-balanced shard export: oracle parity (two-phase DESC rank ≡
    the naive single window), ranks form a permutation, and the
    longest-first round-robin dealing bounds the per-shard token spread
    by one maximum document (telescoping over dealing rounds)."""
    from paperoni_spark.operators.packing import shard_assignments

    result = contract.build_queries()["shard_assignments"](spark, SF_DIR)
    rows = result.collect()
    assert_matches_oracle(result, ddb, contract.oracle_shard_assignments())
    ranks = sorted(r["rank"] for r in rows)
    assert ranks == list(range(1, len(rows) + 1))
    totals: dict[int, int] = {}
    for r in rows:
        totals[r["shard"]] = totals.get(r["shard"], 0) + r["n_tokens"]
    assert len(totals) == 8
    max_doc = max(r["n_tokens"] for r in rows)
    assert max(totals.values()) - min(totals.values()) <= max_doc

    adv = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d"), (3, "a b c"), (4, "a b")],
        "doc_id: long, text: string",
    )
    got = {
        r["doc_id"]: (r["rank"], r["shard"])
        for r in shard_assignments(adv, n_shards=2, bucket_tokens=2).collect()
    }
    assert got == {1: (1, 0), 2: (2, 1), 3: (3, 0), 4: (4, 1)}


def test_substring_dedup(spark, docs, ddb):
    """Exact-substring dedup (Lee et al.): oracle parity on the planted
    gate corpus, planted-structure assertions, and a hand-checked
    micro-fixture covering cross-doc spans, interval union of
    overlapping duplicated shingles, and the untouched doc."""
    from paperoni_spark.operators.dedup import substring_dedup

    result = contract.q_substring_dedup(spark, SF_DIR)
    rows = {r["doc_id"]: r for r in result.collect()}
    assert_matches_oracle(result, ddb, contract.oracle_substring_dedup())
    # planted cross-doc passage: its 20 tokens are removed from every
    # planted doc; the junction shingles are unique per doc so each
    # doc's own text survives (organic dup shingles may remove more — ≥)
    for i in range(contract._SUBSTR_PLANT_N):
        assert rows[i]["n_removed"] >= 20, rows[i]
        assert contract._SUBSTR_PASSAGE not in rows[i]["text_clean"]
    # within-doc doubled text: occurrence counting (not distinct-doc)
    # flags it and the interval union covers both copies — doc empties
    doubled = rows[contract._SUBSTR_PLANT_N]
    assert doubled["removed_frac"] == 1.0 and doubled["text_clean"] == ""

    adv = spark.createDataFrame(
        [
            (1, "x1 y1 a b c d z1"),
            (2, "x2 a b c d z2 w2"),
            (3, "totally unrelated words here"),
        ],
        "doc_id: long, text: string",
    )
    got = {r["doc_id"]: r for r in substring_dedup(adv, n=3).collect()}
    # shared 4-token span "a b c d" → shingles "a b c" + "b c d" are
    # duplicated; their interval union covers exactly the span
    assert got[1]["text_clean"] == "x1 y1 z1" and got[1]["n_removed"] == 4
    assert got[2]["text_clean"] == "x2 z2 w2" and got[2]["n_removed"] == 4
    assert got[3]["n_removed"] == 0 and got[3]["removed_frac"] == 0.0
    assert got[3]["text_clean"] == "totally unrelated words here"


def test_line_dedup(spark, docs, ddb):
    """CCNet-style boilerplate removal: oracle parity on the planted
    multi-line gate corpus, plus an adversarial fixture pinning the
    df-cap boundary, order preservation, and the all-lines-removed doc."""
    from paperoni_spark.operators.dedup import line_dedup

    assert_matches_oracle(
        contract.q_line_dedup(spark, SF_DIR), ddb, contract.oracle_line_dedup()
    )

    boiler = "copyright footer"
    rows = [(i, f"unique line {i}\n{boiler}") for i in range(4)]  # df=4 > cap 3
    rows.append((4, f"{boiler}\n{boiler}"))  # only boilerplate -> empty doc
    rows.append((5, "kept one\n\n  \nkept two"))  # blank lines don't count
    adv = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {r["doc_id"]: r for r in line_dedup(adv, df_cap=3).collect()}
    assert got[0]["text_clean"] == "unique line 0" and got[0]["n_kept"] == 1
    assert got[4]["text_clean"] == "" and got[4]["n_kept"] == 0
    assert got[4]["n_lines"] == 2  # repeated within ONE doc still counts lines
    assert got[5]["text_clean"] == "kept one\nkept two"
    assert got[5]["n_lines"] == 2
    # at df_cap=4 nothing is hot (df counts DISTINCT docs: doc 4's two
    # copies count once) and original line order survives reassembly
    kept_all = {
        r["doc_id"]: r for r in line_dedup(adv, df_cap=5).collect()
    }
    assert kept_all[0]["text_clean"] == f"unique line 0\n{boiler}"


def test_pii_redact(spark, docs, ddb):
    from paperoni_spark.operators.pii import pii_redact

    assert_matches_oracle(
        contract.q_pii_redact(spark, SF_DIR), ddb, contract.oracle_pii_redact()
    )
    adv = spark.createDataFrame(
        [
            (1, "mail a.b-c_d@sub.example.org and e@f.io now"),
            (2, "call 123-456-7890 or visit 192.168.1.254 ok"),
            (3, "clean text with no identifiers at all"),
            (4, "almost 12-345-6789 and 1.2.3 and user@nodot"),
        ],
        "doc_id: long, text: string",
    )
    got = {r["doc_id"]: r for r in pii_redact(adv).collect()}
    assert got[1]["n_emails"] == 2 and got[1]["has_pii"]
    assert got[1]["text_redacted"] == "mail <EMAIL> and <EMAIL> now"
    assert got[2]["n_phones"] == 1 and got[2]["n_ips"] == 1
    assert got[2]["text_redacted"] == "call <PHONE> or visit <IP> ok"
    assert not got[3]["has_pii"]
    assert got[3]["text_redacted"] == "clean text with no identifiers at all"
    assert got[4]["n_emails"] == 0 and got[4]["n_phones"] == 0 and got[4]["n_ips"] == 0


def test_source_cap_sample(spark, docs, ddb):
    """Per-domain cap: oracle parity, and the two-phase prefix-cut plan is
    row-identical (including ranks) to the naive single-window plan."""
    from pyspark.sql.window import Window

    from paperoni_spark.operators.sampling import (
        SOURCE_CAP_SALT,
        source_cap_sample,
    )

    result = source_cap_sample(docs, cap_per_source=7)
    got = {(r["doc_id"], r["source"], r["rk"]) for r in result.collect()}
    key = F.md5(F.concat(F.lit(SOURCE_CAP_SALT), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(key.asc(), F.col("doc_id").asc())
    naive = (
        docs.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 7)
        .select("doc_id", "source", "rk")
    )
    assert got == {(r["doc_id"], r["source"], r["rk"]) for r in naive.collect()}
    per_src = result.groupBy("source").count().collect()
    assert per_src and all(r["count"] <= 7 for r in per_src)
    # NULL-source docs form one stratum and are CAPPED, never dropped
    # (the offsets join is null-safe; a plain column-list join loses them)
    dirty = spark.createDataFrame(
        [(i, None if i < 5 else "s") for i in range(9)],
        "doc_id: long, source: string",
    )
    null_rows = [
        r for r in source_cap_sample(dirty, cap_per_source=3).collect()
        if r["source"] is None
    ]
    assert len(null_rows) == 3 and all(1 <= r["rk"] <= 3 for r in null_rows)
    assert_matches_oracle(
        contract.build_queries()["source_cap_sample"](spark, SF_DIR),
        ddb,
        contract.oracle_source_cap_sample(),
    )


def test_dup_ngram_stats(spark, docs, ddb):
    """Duplicated-ngram profile: oracle parity, exact values on a planted
    graph (full dup, partial overlap, unique), and the histogram join
    reuses the shingle exchange instead of re-shingling per consumer."""
    from paperoni_spark.operators.dedup import dup_ngram_stats

    result = dup_ngram_stats(docs)
    assert_matches_oracle(result, ddb, contract.oracle_dup_ngram_stats())
    # natural exact duplicates must read as fully-duplicated docs
    assert result.where("dup_frac = 1.0").count() > 0

    adv = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),   # 3 shingles, all shared w/ 2
            (2, "alpha beta gamma delta epsilon"),
            (3, "zeta eta theta alpha beta gamma"),  # 4 shingles, 1 shared
            (4, "iota kappa lambda mu"),             # unique
        ],
        "doc_id: long, text: string",
    )
    got = {r["doc_id"]: r for r in dup_ngram_stats(adv).collect()}
    assert got[1]["dup_frac"] == 1.0 and got[1]["n_shingles"] == 3
    assert got[3]["n_shingles"] == 4 and got[3]["n_dup_shingles"] == 1
    assert got[3]["dup_frac"] == 0.25
    assert got[4]["dup_frac"] == 0.0

    # single shingle derivation: the materialized (doc_id, digest) frame
    # feeds both the histogram and the rollup, so the final plan contains
    # the _shingles explode pair (token barrier + shingle explode) at most
    # once — a second derivation would double the Generate count
    plan = result._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Generate") <= 2, final[:3000]


def test_streaming_exact_dedup(spark, docs, ddb):
    """Ingest-dedup stream: oracle parity (planted twins land in different
    micro-batches than their seeds), min-id survivor, and state actually
    merged across batches (every planted digest shows n_docs == 2 with
    the seed as survivor)."""
    result = contract.q_streaming_exact_dedup(spark, SF_DIR)
    rows = result.collect()
    assert_matches_oracle(result, ddb, contract.oracle_streaming_exact_dedup())
    # every planted digest merged across batches; subset assertion (not
    # equality) so a corpus WITH natural twins — sf0.1 has 8 — still passes
    dups = {r["first_doc_id"]: r["n_docs"] for r in rows if r["n_docs"] > 1}
    assert {i: 2 for i in range(contract.LINE_PLANT_N)}.items() <= dups.items()


def test_ngram_containment(spark, docs, ddb):
    """Asymmetric containment: oracle parity on the planted-quote
    corpus, every planted prefix-quote fully contained in its seed
    (containment exactly 1.0 — the quote's blocked shingle set is a
    subset, and the DF cap removes hot shingles from both sides), and a
    hand-checked prefix fixture where Jaccard is small."""
    from paperoni_spark.operators.dedup import ngram_containment_pairs

    result = contract.q_ngram_containment(spark, SF_DIR)
    rows = {(r["doc_a"], r["doc_b"]): r for r in result.collect()}
    assert_matches_oracle(result, ddb, contract.oracle_ngram_containment())
    planted = []
    for i in range(contract._CONTAIN_PLANT_N):
        r = rows.get((i, i + contract.PLANT_ID_OFFSET))
        assert r is not None, i
        assert r["containment"] == 1.0
        planted.append(r)
    # the asymmetry is real: some seed is longer than its 40-token quote,
    # so containment 1.0 coexists with jaccard < 1.0 (a seed shorter than
    # the prefix makes its quote a full twin — jaccard 1.0 — also fine)
    assert any(r["jaccard"] < 1.0 for r in planted)

    adv = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
            (2, "w1 w2 w3 w4 w5"),
            (3, "x1 x2 x3 x4 x5 x6"),
        ],
        "doc_id: long, text: string",
    )
    got = {
        (r["doc_a"], r["doc_b"]): r
        for r in ngram_containment_pairs(adv).collect()
    }
    assert set(got) == {(1, 2)}
    r = got[(1, 2)]
    assert r["containment"] == 1.0
    assert r["jaccard"] == 0.375  # 3 common / (8 + 3 − 3)


def test_streaming_normalized_dedup(spark, docs, ddb):
    """Normalized-key ingest dedup stream: oracle parity, and every
    planted case/punct mirror collapses onto its seed via a real
    cross-batch state update (the odd offset splits seed and mirror
    across the two staged micro-batches)."""
    result = contract.q_streaming_normalized_dedup(spark, SF_DIR)
    rows = result.collect()
    assert_matches_oracle(
        result, ddb, contract.oracle_streaming_normalized_dedup()
    )
    merged = {r["first_doc_id"]: r["n_docs"] for r in rows if r["n_docs"] > 1}
    assert {i: 2 for i in range(contract._NORM_PLANT_N)}.items() <= merged.items()


def test_streaming_exact_dedup_restart(spark, tmp_path):
    """Survivor state and committed batch segments survive a stream
    restart: run 1 ingests two batches; run 2 reuses the same dirs and
    checkpoint with a NEW batch file duplicating a run-1 document — the
    committed batches are skipped (their segments retained, not
    rewritten), the resumed state merges the cross-restart duplicate
    (n_docs=2, min-id survivor), and no driver-side sink is involved."""
    import glob as g
    import shutil
    import time

    from paperoni_spark.streaming.dedup import run_streaming_exact_dedup

    def write_batch(rows, name, mtime):
        df = spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in rows],
            "doc_id: long, text: string, lang: string, source: string, n_chars: long",
        )
        sdir = str(tmp_path / ("stage_" + name))
        df.coalesce(1).write.parquet(sdir)
        dst = str(tmp_path / "docs" / name)
        shutil.move(g.glob(sdir + "/part-*.parquet")[0], dst)
        os.utime(dst, (mtime, mtime))

    (tmp_path / "docs").mkdir()
    now = time.time()
    write_batch([(5, "alpha bravo"), (7, "charlie delta")], "b0.parquet", now)
    write_batch([(6, "echo foxtrot")], "b1.parquet", now + 10)
    out = str(tmp_path / "out")
    r1 = {
        r["first_doc_id"]: r["n_docs"]
        for r in run_streaming_exact_dedup(
            spark, str(tmp_path / "docs"), out, max_files_per_trigger=1
        ).collect()
    }
    assert r1 == {5: 1, 6: 1, 7: 1}
    segs1 = {os.path.basename(p) for p in g.glob(out + "/batch=*")}
    assert segs1 == {"batch=0", "batch=1"}
    mtimes1 = {p: os.path.getmtime(p) for p in g.glob(out + "/batch=*/part-*")}

    # restart: new batch duplicates run-1's doc 5 text under a smaller id
    write_batch([(3, "alpha bravo")], "b2.parquet", now + 20)
    r2 = {
        r["first_doc_id"]: r["n_docs"]
        for r in run_streaming_exact_dedup(
            spark, str(tmp_path / "docs"), out, max_files_per_trigger=1
        ).collect()
    }
    # cross-restart merge: resumed state counted run-1's doc 5, survivor
    # re-elected to the new minimum id
    assert r2 == {3: 2, 6: 1, 7: 1}
    # committed segments were skipped, not rewritten
    for p, m in mtimes1.items():
        assert os.path.getmtime(p) == m, p


def test_length_stats(spark, docs, ddb):
    """Exact percentiles: Spark `percentile` == DuckDB `quantile_cont`
    (shared linear-interpolation definition), plus a hand-checked
    interpolated value on a tiny fixture."""
    from paperoni_spark.operators.textstats import length_stats

    assert_matches_oracle(length_stats(docs), ddb, contract.oracle_length_stats())
    adv = spark.createDataFrame(
        [(i, "x", "en", "s", n) for i, n in enumerate([10, 20, 40, 80])],
        "doc_id: long, text: string, lang: string, source: string, n_chars: long",
    )
    row = length_stats(adv).collect()[0]
    # p50 of [10,20,40,80]: index 1.5 -> 20 + 0.5*(40-20) = 30
    assert row["p50_chars"] == 30.0
    # p90: index 2.7 -> 40 + 0.7*(80-40) = 68
    assert row["p90_chars"] == 68.0
    assert row["min_chars"] == 10 and row["max_chars"] == 80

    # scale mode: approx (bounded sketch) gated against quantile_disc
    assert_matches_oracle(
        length_stats(docs, approx=True), ddb, contract.oracle_length_stats_approx()
    )
    # exact ≡ approx wherever the interpolation rank is integral: a
    # 101-value group puts p50/p90/p99 exactly on elements 50/90/99
    big = spark.createDataFrame(
        [(i, "x", "en", "s", (i * 7) % 101 + 1) for i in range(101)],
        "doc_id: long, text: string, lang: string, source: string, n_chars: long",
    )
    exact = length_stats(big).collect()[0]
    apx = length_stats(big, approx=True).collect()[0]
    assert exact.asDict() == apx.asDict()
    # both modes share one schema (the profiling consumer can swap modes)
    assert length_stats(docs).schema == length_stats(docs, approx=True).schema


def test_streaming_simhash_pairs(spark, docs, ddb):
    """Streamed per-wave index probe+append accumulates exactly the
    whole-corpus pair sweep: oracle parity, and every pair surfaces in
    the batch where its later document arrived (cross-wave pairs exist —
    the corpus's near-dup pairs straddle the mod-2 batch split)."""
    result = contract.q_streaming_simhash_pairs(spark, SF_DIR)
    rows = result.collect()
    assert_matches_oracle(result, ddb, contract.oracle_streaming_simhash_pairs())
    # the staged split must actually produce cross-batch pairs, or the
    # index-probe path was never exercised
    assert any(r["doc_a"] % 2 != r["doc_b"] % 2 for r in rows), rows
    # and no duplicates across waves (exactly-once by construction)
    assert len(rows) == len({(r["doc_a"], r["doc_b"]) for r in rows})


def test_streaming_simhash_restart(spark, tmp_path):
    """The index survives a stream restart: run 1 ingests two batches;
    run 2 reuses the same dirs/checkpoint with a NEW wave file — the
    committed batches are skipped, their fingerprints are NOT re-seeded
    away, and the new wave pairs against a run-1 document via the
    retained index (the exact failure mode of an unconditional empty
    bootstrap + durable checkpoint)."""
    import time

    from paperoni_spark.streaming.dedup import run_streaming_simhash_dedup

    def write_batch(rows, name, mtime):
        df = spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in rows],
            "doc_id: long, text: string, lang: string, source: string, n_chars: long",
        )
        sdir = str(tmp_path / ("stage_" + name))
        df.coalesce(1).write.parquet(sdir)
        import glob as g
        import shutil

        dst = str(tmp_path / "docs" / name)
        shutil.move(g.glob(sdir + "/part-*.parquet")[0], dst)
        os.utime(dst, (mtime, mtime))

    (tmp_path / "docs").mkdir()
    now = time.time()
    t1 = "alpha beta gamma delta epsilon zeta eta theta"
    write_batch([(1, t1)], "b0.parquet", now)
    write_batch([(2, "one two three four five six seven eight")], "b1.parquet", now + 10)
    index = str(tmp_path / "ix")
    results = str(tmp_path / "res")
    r1 = run_streaming_simhash_dedup(
        spark, str(tmp_path / "docs"), index, results,
        max_files_per_trigger=1, cap=10**9,
    ).collect()

    # restart with a new wave duplicating run-1's doc 1 under a new id
    write_batch([(3, t1)], "b2.parquet", now + 20)
    r2 = run_streaming_simhash_dedup(
        spark, str(tmp_path / "docs"), index, results,
        max_files_per_trigger=1, cap=10**9,
    ).collect()
    pairs2 = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in r2}
    assert pairs2.get((1, 3)) == 0  # cross-restart pair via retained index
    assert len(r2) == len(set((r["doc_a"], r["doc_b"]) for r in r2))
    assert set((r["doc_a"], r["doc_b"]) for r in r1) <= set(pairs2)


def test_streaming_simhash_over_operator_index(spark, tmp_path):
    """The streamed loop writes through the same segment writer as the
    operators: run over an index built by write_simhash_index, it adds a
    kind-marked ``wave=`` segment beside the build (no second layout),
    the root still reads as one table, the batch doc duplicating a build
    doc pairs with it, and compaction folds the stream's segment like
    any other."""
    import glob as g
    import shutil

    from paperoni_spark import fsio
    from paperoni_spark.streaming.dedup import run_streaming_simhash_dedup

    t1 = "alpha beta gamma delta epsilon zeta eta theta"
    build = spark.createDataFrame(
        [(1, t1), (2, "one two three four five six seven eight")],
        "doc_id: long, text: string",
    )
    index = str(tmp_path / "ix")
    dedup.write_simhash_index(dedup.simhash(build, dedup.SIMHASH_PAIR_BITS), index)

    batch = spark.createDataFrame(
        [(3, t1, "en", "s", len(t1))],
        "doc_id: long, text: string, lang: string, source: string, n_chars: long",
    )
    stage = str(tmp_path / "stage")
    batch.coalesce(1).write.parquet(stage)
    (tmp_path / "docs").mkdir()
    shutil.move(g.glob(stage + "/part-*.parquet")[0], str(tmp_path / "docs" / "b0.parquet"))

    rows = run_streaming_simhash_dedup(
        spark, str(tmp_path / "docs"), index, str(tmp_path / "res"),
        max_files_per_trigger=1, cap=10**9,
    ).collect()
    names = sorted(os.listdir(index))
    assert all(n.startswith(("wave=", "_", ".")) for n in names), names
    assert "_index_kind_simhash" in names
    assert spark.read.parquet(index).count() == 3
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in rows}
    assert pairs.get((1, 3)) == 0, pairs
    assert fsio.compact_index_kind(spark, index, "simhash") == 2
    assert len(fsio.wave_names(spark, index)) == 1
    assert spark.read.parquet(index).count() == 3


def test_streaming_embedding_pairs(spark, embeds, ddb):
    """Vector twin of the streamed near-dup loop: oracle parity with the
    whole-corpus banded sweep, cross-batch pairs present (planted twins
    at vec_id+TWIN_ID_OFFSET land in different mod-2 batches — the
    offset is odd), no duplicate emissions."""
    result = contract.q_streaming_embedding_pairs(spark, SF_DIR)
    rows = result.collect()
    assert_matches_oracle(
        result, ddb, contract.oracle_streaming_embedding_pairs()
    )
    assert any(r["vec_a"] % 2 != r["vec_b"] % 2 for r in rows), rows
    assert len(rows) == len({(r["vec_a"], r["vec_b"]) for r in rows})
    assert all(r["cosine"] >= 0.95 for r in rows) and rows


def test_source_cap_two_phase_identity_property(spark):
    """Property: on arbitrary (doc_id, source) frames — skewed strata,
    singleton strata, NULL sources, caps above/below stratum sizes — the
    two-phase prefix-cut plan returns EXACTLY the naive per-source
    window's rows and ranks.  Few examples (each spins Spark jobs), wide
    shapes: the per-example corpus is drawn from a seeded generator
    rather than hypothesis to keep the suite's runtime bounded."""
    import random

    from pyspark.sql.window import Window

    from paperoni_spark.operators.sampling import SOURCE_CAP_SALT, source_cap_sample

    rng = random.Random(0xC0FFEE)
    for case in range(5):
        n = rng.randint(1, 120)
        srcs = [None, "a", "b", "monster", "x", ""]
        rows = [
            (rng.randint(0, 10_000_000), rng.choice(srcs)) for _ in range(n)
        ]
        rows = list({r[0]: r for r in rows}.values())  # unique doc_ids
        cap = rng.randint(1, 12)
        df = spark.createDataFrame(rows, "doc_id: long, source: string")
        got = {
            (r["doc_id"], r["source"], r["rk"])
            for r in source_cap_sample(df, cap_per_source=cap).collect()
        }
        key = F.md5(F.concat(F.lit(SOURCE_CAP_SALT), F.col("doc_id").cast("string")))
        w = Window.partitionBy("source").orderBy(key.asc(), F.col("doc_id").asc())
        want = {
            (r["doc_id"], r["source"], r["rk"])
            for r in df.withColumn("rk", F.row_number().over(w).cast("long"))
            .where(F.col("rk") <= cap)
            .collect()
        }
        assert got == want, (case, cap, len(rows))


def test_connected_components_random_graphs(spark):
    """Property: min-label propagation equals a reference union-find on
    random graphs (chains, stars, isolates, dense pockets arise freely
    from the seeded generator)."""
    import random

    rng = random.Random(0xBEEF)
    for case in range(4):
        n = rng.randint(2, 60)
        nodes = list(range(1, n + 1))
        m = rng.randint(0, n * 2)
        edges = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(m)
        ]
        edges = [(a, b) for a, b in edges if a != b]

        parent = {v: v for v in nodes}

        def find(v):
            while parent[v] != v:
                parent[v] = parent[parent[v]]
                v = parent[v]
            return v

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {v: find(v) for v in nodes}

        nodes_df = spark.createDataFrame([(v,) for v in nodes], "doc_id: long")
        pairs_df = spark.createDataFrame(
            edges or [(1, 1)], "doc_a: long, doc_b: long"
        ).where(F.col("doc_a") != F.col("doc_b"))
        got = {
            r["doc_id"]: r["cluster"]
            for r in dedup.connected_components(nodes_df, pairs_df).collect()
        }
        assert got == want, (case, n, edges)


def test_substring_delta_index(spark, docs, tmp_path):
    """Cross-wave ExactSubstr: (a) the delta probe is row-identical to
    the whole-corpus substring_dedup restricted to the delta ids, with
    the index accumulated over TWO waves (build + append) — occurrence
    totals sum across segments; (b) an at-least-once retry of the same
    append wave replays its segment (same index rows, same probe
    result), never double-counts (a double-counted histogram would
    erroneously flag singleton delta shingles as duplicated)."""
    from paperoni_spark.operators.dedup import (
        substring_dedup,
        substring_delta_clean,
        write_substring_index,
    )

    n = 8
    passage = " ".join(f"w{i}" for i in range(20))
    base = docs.select(
        "doc_id",
        F.when(F.col("doc_id") < 30, F.concat("text", F.lit(" " + passage)))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    wave0 = base.where(F.col("doc_id") % 3 == 0)
    wave1 = base.where(F.col("doc_id") % 3 == 1)
    delta = base.where(F.col("doc_id") % 3 == 2)
    path = str(tmp_path / "substr_idx")
    write_substring_index(wave0, path, n=n)
    write_substring_index(wave1, path, 1, n=n)

    got = sorted(
        map(tuple, substring_delta_clean(spark, delta, path, n=n).collect())
    )
    want = sorted(
        map(
            tuple,
            substring_dedup(base, n=n)
            .where(F.col("doc_id") % 3 == 2)
            .collect(),
        )
    )
    assert got == want
    # retry replays: identical histogram rows and identical probe output
    hist_before = sorted(
        map(tuple, spark.read.parquet(path).select("h", "occ").collect())
    )
    write_substring_index(wave1, path, 1, n=n)
    assert (
        sorted(map(tuple, spark.read.parquet(path).select("h", "occ").collect()))
        == hist_before
    )
    assert (
        sorted(map(tuple, substring_delta_clean(spark, delta, path, n=n).collect()))
        == want
    )


def test_connected_components_chain_converges_fast(spark):
    """Adversarial long-diameter topology: a 1,000-node chain.  Plain
    min-label propagation needs ~1,000 rounds (a stall at any real
    scale); the pointer-doubling shortcut must converge in <15 rounds
    (O(log n)) AND still produce the exact single-component min-label
    fixpoint.  Also pins the max-rounds guard's loud failure mode."""
    import pytest as _pytest

    from paperoni_spark.operators.dedup import _cc_fixpoint, connected_components

    n = 1000
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id: long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a: long, doc_b: long"
    )
    labels, rounds = _cc_fixpoint(nodes, chain)
    assert rounds < 15, rounds
    rows = labels.collect()
    assert all(r["cluster"] == 0 for r in rows) and len(rows) == n
    got = connected_components(nodes, chain)
    assert got.where(F.col("is_survivor")).count() == 1
    with _pytest.raises(RuntimeError, match="did not converge"):
        _cc_fixpoint(nodes, chain, max_rounds=2)


def test_index_geometry_guards(spark, docs, embeds, tmp_path):
    """Round-6 geometry guards: (a) the substring index pins its shingle
    size — probing or appending at a different n would hash disjoint
    digests and silently match nothing; (b) the quantizer-bearing IVF
    index refuses a REBUILD over existing append segments — retrained
    centroids would silently mis-probe every appended vector's old
    assignment."""
    from paperoni_spark.operators.dedup import (
        substring_delta_clean,
        write_substring_index,
    )
    from paperoni_spark.operators.similarity import (
        append_to_ivf_index,
        ivf_assignments,
        write_ivf_index,
    )

    sub = str(tmp_path / "sub_idx")
    write_substring_index(docs, sub, n=8)
    with pytest.raises(ValueError, match="shingle_n=8"):
        write_substring_index(
            docs.withColumn("doc_id", F.col("doc_id") + 10_000_000), sub, 1, n=5
        )
    with pytest.raises(ValueError, match="shingle_n=8"):
        substring_delta_clean(spark, docs, sub, n=5).collect()
    with pytest.raises(ValueError, match="must not be negative"):
        write_substring_index(docs, sub, "-1", n=8)
    # matching n appends fine
    write_substring_index(
        docs.withColumn("doc_id", F.col("doc_id") + 10_000_000), sub, 1, n=8
    )

    assigned, centroids = ivf_assignments(embeds)
    ivf = str(tmp_path / "ivf_idx")
    write_ivf_index(assigned, ivf, centroids)
    seed = embeds.orderBy("vec_id").limit(1).collect()[0]
    wave_df = spark.createDataFrame(
        [(30_000_001, list(seed["embedding"]))],
        "vec_id: long, embedding: array<double>",
    )
    append_to_ivf_index(wave_df, ivf, 1)
    with pytest.raises(ValueError, match="appended segments"):
        write_ivf_index(assigned, ivf, centroids)
    # a pure wave=0 rebuild (no appends) stays allowed
    ivf2 = str(tmp_path / "ivf_idx2")
    write_ivf_index(assigned, ivf2, centroids)
    write_ivf_index(assigned, ivf2, centroids)


def test_semantic_dedup(spark, embeds, ddb):
    """SemDeDup: oracle match plus the structural invariants — every
    removed row points at a LOWER-id survivor in the SAME cluster, kept
    rows carry the exact sentinels, and the lowest vec_id always
    survives (nothing below it can remove it)."""
    out = similarity.semantic_dedup(embeds)
    assert_matches_oracle(out, ddb, contract.oracle_semantic_dedup())
    rows = out.collect()
    by_id = {r["vec_id"]: r for r in rows}
    assert by_id[min(by_id)]["keep"]
    for r in rows:
        if r["keep"]:
            assert r["dup_of"] == -1 and r["sim"] == -1.0
        else:
            assert r["dup_of"] < r["vec_id"]
            assert by_id[r["dup_of"]]["centroid"] == r["centroid"]
            assert r["sim"] >= similarity.SEMANTIC_DEDUP_THRESHOLD


def test_bigram_logprob(spark, docs, ddb):
    """Interpolated bigram LM: oracle match plus sanity — probabilities
    are genuine (< 1 ⇒ negative log2; perplexity = 2^-avg), and the
    conditional model sharpens the unigram proxy on most of its own
    training corpus (not all: the λ-mixture charges up to −log2 λ per
    token against docs whose bigram contexts are diffuse — 392/500 on
    the frozen sf0.001 corpus, pinned loosely at 3/4)."""
    out = textstats.bigram_logprob(docs)
    assert_matches_oracle(out, ddb, contract.oracle_bigram_logprob())
    rows = out.collect()
    assert rows
    for r in rows:
        assert r["avg_log2_prob"] < 0
        assert r["perplexity"] == pytest.approx(
            2.0 ** -r["avg_log2_prob"], rel=1e-3
        )
    uni = {
        r["doc_id"]: r["avg_log2_prob"]
        for r in textstats.unigram_logprob(docs).collect()
    }
    sharper = sum(1 for r in rows if r["avg_log2_prob"] >= uni[r["doc_id"]])
    assert sharper >= 0.75 * len(rows)


def test_source_kl_divergence(spark, docs, ddb):
    """Per-source KL vs corpus: oracle match plus information-theoretic
    sanity — KL is non-negative (up to the 6-decimal rounding), every
    source present, token totals reconcile with the corpus, and a
    PLANTED out-of-distribution source (vocabulary disjoint from the
    rest) dominates every natural source's divergence."""
    out = textstats.source_kl_divergence(docs)
    assert_matches_oracle(out, ddb, contract.oracle_source_kl_divergence())
    rows = out.collect()
    n_sources = docs.select("source").distinct().count()
    assert len(rows) == n_sources
    assert all(r["kl_bits"] >= -1e-6 for r in rows)
    total = sum(r["n_tokens"] for r in rows)
    from pyspark.sql import functions as F

    expected = docs.select(
        F.sum(F.size(textstats.tokens_col(F.col("text")))).alias("n")
    ).collect()[0]["n"]
    assert total == expected

    planted = docs.unionByName(
        spark.createDataFrame(
            [(900001 + i, "zzq%d zzw%d zzq%d" % (i, i, i), "en", "oodsrc", 17)
             for i in range(5)],
            docs.schema,
        )
    )
    prows = {r["source"]: r["kl_bits"]
             for r in textstats.source_kl_divergence(planted).collect()}
    ood = prows.pop("oodsrc")
    assert ood > max(prows.values())


def test_tfidf_top_terms(spark, docs, ddb):
    """Top-k TF-IDF keywords: oracle match plus shape — exactly top_k
    ranks per doc (the corpus has ≥ top_k distinct terms everywhere),
    scores non-increasing within a doc."""
    out = textstats.tfidf_top_terms(docs)
    assert_matches_oracle(out, ddb, contract.oracle_tfidf_top_terms())
    rows = out.collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
    for doc_rows in per_doc.values():
        doc_rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in doc_rows] == list(
            range(1, textstats.TFIDF_TOP_K + 1)
        )
        scores = [r["tfidf"] for r in doc_rows]
        assert scores == sorted(scores, reverse=True)


def test_perplexity_buckets(spark, docs, ddb):
    """CCNet tertiles: oracle match plus the structural invariants —
    per-lang bucket sizes are balanced to within one doc, and every
    head doc scores at least as well as every tail doc in its lang."""
    out = textstats.perplexity_buckets(docs)
    assert_matches_oracle(out, ddb, contract.oracle_perplexity_buckets())
    rows = out.collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        sizes = {b: 0 for b in textstats.PPL_BUCKET_NAMES}
        for r in rs:
            sizes[r["ppl_bucket"]] += 1
        if len(rs) >= 3:
            assert max(sizes.values()) - min(sizes.values()) <= 1, (lang, sizes)
        head_min = min(
            (r["avg_log2_prob"] for r in rs if r["ppl_bucket"] == "head"),
            default=None,
        )
        tail_max = max(
            (r["avg_log2_prob"] for r in rs if r["ppl_bucket"] == "tail"),
            default=None,
        )
        if head_min is not None and tail_max is not None:
            assert head_min >= tail_max


def test_cms_heavy_hitters(spark, docs, ddb):
    """Count-min sketch: oracle match plus the CMS guarantee — the
    estimate NEVER undercounts (min over depth rows of sums that each
    include the token's own mass)."""
    out = textstats.cms_heavy_hitters(docs)
    assert_matches_oracle(out, ddb, contract.oracle_cms_heavy_hitters())
    rows = out.collect()
    assert len(rows) == textstats.CMS_TOP_K
    assert sorted(r["rank"] for r in rows) == list(
        range(1, textstats.CMS_TOP_K + 1)
    )
    for r in rows:
        assert r["cms_estimate"] >= r["true_count"]
        assert r["overestimate"] == r["cms_estimate"] - r["true_count"]


def test_cluster_balanced_sample(spark, embeds, ddb):
    """Diversity cap: oracle match plus per-cluster ranks dense in
    1..min(cap, cluster size) against the independent assignment."""
    out = similarity.cluster_balanced_sample(embeds)
    assert_matches_oracle(out, ddb, contract.oracle_cluster_balanced_sample())
    assigned, _ = similarity.ivf_assignments(embeds)
    sizes = {
        r["centroid"]: r["n"]
        for r in assigned.groupBy("centroid").agg(F.count("*").alias("n")).collect()
    }
    got = {}
    for r in out.collect():
        got.setdefault(r["centroid"], []).append(r["rk"])
    for cid, rks in got.items():
        expect = min(similarity.CLUSTER_SAMPLE_CAP, sizes[cid])
        assert sorted(rks) == list(range(1, expect + 1))
    # every non-empty cluster is represented
    assert set(got) == {c for c, n in sizes.items() if n > 0}


def test_cms_delta_matches_oracle(spark, ddb):
    """The persisted-sketch probe through the gate query (memoized even-id
    index + odd-id delta) against the two-sketch SQL replay."""
    out = contract.build_queries()["cms_delta_heavy_hitters"](spark, SF_DIR)
    assert_matches_oracle(out, ddb, contract.oracle_cms_delta_heavy_hitters())


def test_cms_index_waves_linearity_and_replay(spark, docs, tmp_path):
    """CMS linearity is the index family's whole premise: a build + an
    append must estimate EXACTLY like a single-pass index over the union
    (counter sums are order-independent).  Plus the family invariants:
    append retry replays (same counters, same probe), a negative wave id
    is refused, the depth geometry pin refuses a mismatched
    probe, and a foreign family cannot write into the root."""
    from paperoni_spark.operators.textstats import (
        cms_delta_heavy_hitters,
        write_cms_index,
    )

    wave0 = docs.where(F.col("doc_id") % 3 == 0)
    wave1 = docs.where(F.col("doc_id") % 3 == 1)
    delta = docs.where(F.col("doc_id") % 3 == 2)
    path = str(tmp_path / "cms_idx")
    write_cms_index(wave0, path)
    write_cms_index(wave1, path, 1)
    got = sorted(map(tuple, cms_delta_heavy_hitters(spark, delta, path).collect()))

    single = str(tmp_path / "cms_single")
    write_cms_index(docs.where(F.col("doc_id") % 3 != 2), single)
    want = sorted(
        map(tuple, cms_delta_heavy_hitters(spark, delta, single).collect())
    )
    assert got == want

    # retry replays: identical counters and identical probe output
    before = sorted(
        map(tuple, spark.read.parquet(path).select("d", "bucket", "cnt").collect())
    )
    write_cms_index(wave1, path, 1)
    assert (
        sorted(
            map(
                tuple,
                spark.read.parquet(path).select("d", "bucket", "cnt").collect(),
            )
        )
        == before
    )
    assert (
        sorted(map(tuple, cms_delta_heavy_hitters(spark, delta, path).collect()))
        == got
    )

    with pytest.raises(ValueError, match="wave id"):
        write_cms_index(wave1, path, -1)
    with pytest.raises(ValueError, match="cms_depth"):
        cms_delta_heavy_hitters(spark, delta, path, depth=6).collect()
    from paperoni_spark.operators.dedup import write_substring_index

    with pytest.raises(ValueError, match="refusing to write"):
        write_substring_index(docs, path, n=8)
    # the refusal happened BEFORE any marker was adopted into the root
    import os as _os

    assert not _os.path.exists(_os.path.join(path, "_param_shingle_n_8"))


def test_hll_distinct_tokens(spark, docs, ddb):
    """HLL census: oracle match plus the estimator sanity band — with
    256 registers the standard error is ~1.04/sqrt(256) ≈ 6.5%, so the
    estimate must land within 5σ of exact (a hash-quality failure or a
    rho off-by-one lands far outside)."""
    out = textstats.hll_distinct_tokens(docs)
    assert_matches_oracle(out, ddb, contract.oracle_hll_distinct_tokens())
    for r in out.collect():
        rel = abs(r["hll_estimate"] - r["exact_distinct"]) / r["exact_distinct"]
        assert rel < 5 * 1.04 / (textstats.HLL_M ** 0.5), (r, rel)


def test_quality_classifier_scores(spark, docs, ddb):
    """Model-based quality gate: oracle match plus the integer-weight
    invariants — the logit is bounded by the weight range, and kept is
    exactly the threshold test on the rounded logit."""
    out = textstats.quality_classifier_scores(docs)
    assert_matches_oracle(out, ddb, contract.oracle_quality_classifier_scores())
    rows = out.collect()
    assert {r["kept"] for r in rows} == {True, False}  # model discriminates
    for r in rows:
        assert -1.0 <= r["quality_logit"] < 1.0
        assert r["kept"] == (r["quality_logit"] >= textstats.QC_THRESHOLD)


def test_source_temperature_mix(spark, docs, ddb):
    """Temperature mixing: oracle match plus the α<1 flattening law —
    weights sum to ~1 and every below-average source is upweighted
    relative to its raw share (p^α lifts the tail, damps the head)."""
    out = textstats.source_temperature_mix(docs)
    assert_matches_oracle(out, ddb, contract.oracle_source_temperature_mix())
    rows = out.collect()
    assert abs(sum(r["mix_weight"] for r in rows) - 1.0) < 1e-4
    mean_p = 1.0 / len(rows)
    for r in rows:
        if r["p_raw"] < mean_p * 0.5:
            assert r["mix_weight"] > r["p_raw"], r
        assert r["expected_epochs"] > 0


def test_zipf_law_fit(spark, docs, ddb):
    """Zipf fit: oracle match (banded two-phase ranks == the oracle's
    whole-stratum window) plus the power-law sanity band — natural-ish
    text slopes land negative with a real fit quality."""
    out = textstats.zipf_law_fit(docs)
    assert_matches_oracle(out, ddb, contract.oracle_zipf_law_fit())
    rows = out.collect()
    assert rows, "every lang stratum vanished"
    for r in rows:
        assert r["zipf_slope"] < 0, r
        assert 0.0 <= r["zipf_r2"] <= 1.0, r


def test_bloom_delta_matches_oracle(spark, ddb):
    """The persisted-Bloom probe through the gate query (memoized even-id
    index + odd-id delta) against the bit-replay oracle, plus the two
    filter laws: NO false negatives ever, and possibly_seen ⊇
    actually_seen."""
    out = contract.build_queries()["bloom_delta_new_docs"](spark, SF_DIR)
    assert_matches_oracle(out, ddb, contract.oracle_bloom_delta_new_docs())
    for r in out.collect():
        if r["actually_seen"]:
            assert r["possibly_seen"], r


def test_bloom_index_idempotent_or_and_replay(spark, docs, tmp_path):
    """The Bloom family's contract vs CMS: bits combine by OR, so
    overlapping appends — including re-sending an ALREADY-INDEXED wave —
    leave the filter identical to the single-pass build over the union
    (CMS would double-count; this family has no disjointness clause).
    Plus the family invariants: retry replay, negative-wave refusal, k
    geometry pin, foreign-kind refusal before marker adoption."""
    from paperoni_spark.operators.dedup import (
        bloom_delta_new_docs,
        write_bloom_index,
    )

    wave0 = docs.where(F.col("doc_id") % 3 == 0)
    wave1 = docs.where(F.col("doc_id") % 3 == 1)
    delta = docs.where(F.col("doc_id") % 3 == 2)
    path = str(tmp_path / "bloom_idx")
    write_bloom_index(wave0, path)
    write_bloom_index(wave1, path, 1)
    # OVERLAPPING append: wave0 ∪ wave1 re-sent under a fresh wave id —
    # pure OR idempotence, the filter must not change
    write_bloom_index(docs.where(F.col("doc_id") % 3 != 2), path, 2)
    got = sorted(
        tuple(r)
        for r in bloom_delta_new_docs(spark, delta, path).collect()
    )

    single = str(tmp_path / "bloom_single")
    write_bloom_index(docs.where(F.col("doc_id") % 3 != 2), single)
    want = sorted(
        tuple(r)
        for r in bloom_delta_new_docs(spark, delta, single).collect()
    )
    assert got == want

    # the union of segment bit-sets equals the single-pass bit-set
    union_bits = {
        r["pos"]
        for r in spark.read.parquet(path).select("pos").distinct().collect()
    }
    single_bits = {
        r["pos"] for r in spark.read.parquet(single).select("pos").collect()
    }
    assert union_bits == single_bits

    # retry replays byte-identically
    before = sorted(
        r["pos"] for r in spark.read.parquet(f"{path}/wave=1").collect()
    )
    write_bloom_index(wave1, path, 1)
    assert (
        sorted(r["pos"] for r in spark.read.parquet(f"{path}/wave=1").collect())
        == before
    )

    with pytest.raises(ValueError, match="wave id"):
        write_bloom_index(wave1, path, -1)
    with pytest.raises(ValueError, match="bloom_k"):
        bloom_delta_new_docs(spark, delta, path, k=2).collect()
    from paperoni_spark.operators.textstats import write_cms_index

    with pytest.raises(ValueError, match="refusing to write"):
        write_cms_index(docs, path)
    assert not os.path.exists(os.path.join(path, "_param_cms_depth_4"))


def test_shingle_novelty(spark, ddb):
    """Novelty probe through the gate query (shared substring_hist memo)
    against the SQL replay, plus the planted-signal sanity: passage
    carriers in the delta (odd ids < the plant count) overlap the
    index's carriers and must score strictly less novel than the
    average junk doc."""
    out = contract.build_queries()["shingle_novelty"](spark, SF_DIR)
    assert_matches_oracle(out, ddb, contract.oracle_shingle_novelty())
    rows = {r["doc_id"]: r for r in out.collect()}
    carriers = [
        r for i, r in rows.items() if i < contract._SUBSTR_PLANT_N and i % 2 == 1
    ]
    plain = [
        r
        for i, r in rows.items()
        if i > contract._SUBSTR_PLANT_N and r["n_shingles"] > 0
    ]
    assert carriers and plain
    avg = lambda rs: sum(r["novel_frac"] for r in rs) / len(rs)
    assert avg(carriers) < avg(plain)
    for r in rows.values():
        assert r["n_seen"] <= r["n_shingles"]


def test_funnel_conversion(spark, ddb):
    """Ordered funnel against the SQL replay, plus the funnel laws:
    monotone narrowing (step i+1 ≤ step i) and rates relative to
    step 1."""
    events = contract.load(spark, SF_DIR, "events")
    from paperoni_spark.operators import sessionize

    out = sessionize.funnel_conversion(events)
    assert_matches_oracle(out, ddb, contract.oracle_funnel_conversion())
    rows = sorted(out.collect(), key=lambda r: r["step"])
    assert [r["event_type"] for r in rows] == list(sessionize.FUNNEL_STEPS)
    for a, b in zip(rows, rows[1:]):
        assert b["n_users"] <= a["n_users"]
    assert rows[0]["conv_rate"] == 1.0


def test_asof_join_enrich(spark, ddb):
    """Union-window as-of join vs the SQL replay, the as-of laws (ref at
    or before the target, exact lag, -1 sentinel only when no prior ref
    exists), and a full brute-force replay of the winner selection —
    the check the window trick must not be allowed to grade itself on."""
    from paperoni_spark.operators import temporal

    events = contract.load(spark, SF_DIR, "events")
    out = temporal.asof_enrich(events)
    assert_matches_oracle(out, ddb, contract.oracle_asof_join_enrich())
    rows = out.collect()
    assert len(rows) == events.where(
        F.col("event_type") == temporal.ASOF_TARGET_TYPE
    ).count()
    for r in rows:
        if r["ref_event_id"] == -1:
            assert r["ref_ts_us"] == -1 and r["lag_us"] == -1
        else:
            assert r["ref_ts_us"] <= r["ts_us"]
            assert r["lag_us"] == r["ts_us"] - r["ref_ts_us"] >= 0

    ev = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    ).collect()
    refs = [e for e in ev if e.event_type == temporal.ASOF_REF_TYPE]
    by_tgt = {r["event_id"]: r for r in rows}
    for t in (e for e in ev if e.event_type == temporal.ASOF_TARGET_TYPE):
        cands = [
            r
            for r in refs
            if r.user_id == t.user_id
            and (r.us, 0, r.event_id) < (t.us, 1, t.event_id)
        ]
        got = by_tgt[t.event_id]
        if not cands:
            assert got["ref_event_id"] == -1
        else:
            best = max(cands, key=lambda r: (r.us, r.event_id))
            assert got["ref_event_id"] == best.event_id
            assert got["ref_ts_us"] == best.us


def test_time_rollup(spark, ddb):
    """Multi-resolution rollup vs the SQL replay, plus the hypertable
    laws: every level's counts total the raw table, and each coarse
    bucket is EXACTLY the sum of its fine children (integer micro-unit
    sums make this an equality, not an approximation)."""
    from paperoni_spark.operators import temporal

    events = contract.load(spark, SF_DIR, "events")
    out = temporal.time_rollup(events)
    assert_matches_oracle(out, ddb, contract.oracle_time_rollup())
    rows = out.collect()
    by_res = {}
    for r in rows:
        by_res.setdefault(r["resolution_s"], []).append(r)
    assert sorted(by_res) == sorted(temporal.ROLLUP_RESOLUTIONS_S)
    n_raw = events.count()
    for res, rs in by_res.items():
        assert sum(r["n_events"] for r in rs) == n_raw
    for coarse, fine in zip(
        temporal.ROLLUP_RESOLUTIONS_S[1:], temporal.ROLLUP_RESOLUTIONS_S
    ):
        kids = {}
        for f in by_res[fine]:
            key = (f["bucket_start_s"] // coarse * coarse, f["event_type"])
            n, s = kids.get(key, (0, 0))
            kids[key] = (n + f["n_events"], s + f["sum_value_micro"])
        got = {
            (r["bucket_start_s"], r["event_type"]): (
                r["n_events"],
                r["sum_value_micro"],
            )
            for r in by_res[coarse]
        }
        assert got == kids


def test_session_concurrency(spark, ddb):
    """Sweep-formulated interval concurrency vs the SQL replay (which
    uses the DIRECT pairwise overlap join), plus a brute-force count
    over the engine's own intervals — the two-phase band arithmetic
    must reproduce the naive O(n^2) answer exactly."""
    from paperoni_spark.operators import sessionize, temporal

    events = contract.load(spark, SF_DIR, "events")
    out = temporal.session_concurrency(events)
    assert_matches_oracle(out, ddb, contract.oracle_session_concurrency())
    rows = out.collect()
    assert all(r["n_concurrent"] >= 0 for r in rows)

    iv = temporal._session_intervals(
        events, sessionize.DEFAULT_GAP_MINUTES
    ).collect()
    expected = {
        (a.user_id, a.session_idx): sum(
            1 for b in iv if b.s_us <= a.e_us and b.e_us >= a.s_us
        )
        - 1
        for a in iv
    }
    assert {
        (r.user_id, r.session_idx): r.n_concurrent for r in rows
    } == expected


def test_doc_pagerank(spark, ddb):
    """Integer PageRank vs the chained-CTE SQL replay, plus a full
    Python big-int replay of the five iterations (same floor-division
    semantics — the strongest cross-check available: three independent
    implementations must agree bit-for-bit), plus the mass laws."""
    import collections

    from paperoni_spark.operators import dedup, graph

    docs = contract.load(spark, SF_DIR, "documents")
    out_df = graph.doc_pagerank(docs)
    assert_matches_oracle(out_df, ddb, contract.oracle_doc_pagerank())
    rows = out_df.collect()

    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    pairs = dedup.lsh_candidate_doc_pairs(docs).select("doc_a", "doc_b").collect()
    nbrs = collections.defaultdict(list)
    for p in pairs:
        nbrs[p.doc_a].append(p.doc_b)
        nbrs[p.doc_b].append(p.doc_a)
    n = len(ids)
    S, dn, dd = graph.PAGERANK_SCALE, graph.PAGERANK_DAMP_NUM, graph.PAGERANK_DAMP_DEN
    teleport = S * (dd - dn) // (dd * n)
    pr = {v: S // n for v in ids}
    for _ in range(graph.PAGERANK_ITERS):
        dangling = sum(pr[v] * dn // dd for v in ids if not nbrs[v])
        share = dangling // n
        new = {v: teleport + share for v in ids}
        for v in ids:
            deg = len(nbrs[v])
            if deg:
                c = pr[v] * dn // (dd * deg)
                for u in nbrs[v]:
                    new[u] += c
        pr = new
    assert {r.doc_id: r.pr_scaled for r in rows} == pr
    total = sum(pr.values())
    assert 0.99 * S <= total <= S
    # isolated docs all carry the identical floor (teleport + share)
    floor_pr = min(pr.values())
    for v in ids:
        if not nbrs[v]:
            assert pr[v] == floor_pr


def test_source_overlap_matrix(spark, ddb):
    """Cross-source fingerprint matrix vs the SQL replay, plus a
    set-arithmetic brute force from the engine's own winnow selection
    (n_shared must equal the literal intersection size) and the grid
    law: every unordered source pair appears exactly once."""
    from paperoni_spark.operators import dedup

    docs = contract.load(spark, SF_DIR, "documents")
    out_df = dedup.source_overlap_matrix(docs)
    assert_matches_oracle(out_df, ddb, contract.oracle_source_overlap_matrix())
    rows = out_df.collect()

    sel = (
        dedup._winnow_selected(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "fp")
        .distinct()
        .collect()
    )
    by_src = {}
    for r in sel:
        by_src.setdefault(r.source, set()).add(r.fp)
    assert {(r.source_a, r.source_b) for r in rows} == {
        (a, b) for a in by_src for b in by_src if a < b
    }
    for r in rows:
        a, b = by_src[r.source_a], by_src[r.source_b]
        assert r.n_shared == len(a & b)
        assert abs(
            r.containment - round(len(a & b) / min(len(a), len(b)), 6)
        ) < 1e-9
        assert 0.0 <= r.containment <= 1.0


def test_asof_delta_enrich(spark, ddb, tmp_path):
    """Incremental as-of against the user-state index: (1) the gate
    identity — incremental == full-history as-of restricted to delta
    targets (both via the oracle and via the engine's own full join);
    (2) idempotent appends — re-sending an OVERLAPPING wave leaves the
    probe bit-identical (max-merge, the Bloom-OR property); (3)
    compaction parity — folding segments changes nothing."""
    from paperoni_spark import fsio
    from paperoni_spark.operators import temporal

    assert_matches_oracle(
        contract.q_asof_delta_enrich(spark, SF_DIR),
        ddb,
        contract.oracle_asof_join_enrich(delta_only=True),
    )

    events = contract.load(spark, SF_DIR, "events")
    cut = F.expr(f"TIMESTAMP_NTZ '{contract._ASOF_CUTOFF}'")
    hist, delta = events.where(F.col("ts") < cut), events.where(F.col("ts") >= cut)
    idx = str(tmp_path / "user_state")
    temporal.write_user_state_index(hist, idx)

    def probe():
        return sorted(
            tuple(r)
            for r in temporal.asof_enrich_delta(spark, delta, idx).collect()
        )

    base = probe()
    full = sorted(
        tuple(r)
        for r in temporal.asof_enrich(events)
        .where(F.col("ts_us") >= F.unix_micros(cut.cast("timestamp")))
        .collect()
    )
    assert base == full

    # overlapping re-append: the SAME history sent again as wave 1
    temporal.write_user_state_index(hist, idx, wave=1)
    assert probe() == base
    # and a genuinely overlapping partial wave
    temporal.write_user_state_index(hist.limit(200), idx, wave=2)
    assert probe() == base

    folded = fsio.compact_index_kind(spark, idx, "user_state")
    assert folded == 3
    assert probe() == base

    # geometry pin: probing for a different ref stream is refused
    import pytest as _pytest

    with _pytest.raises(ValueError, match="ref_type"):
        temporal.asof_enrich_delta(spark, delta, idx, ref_type="signup")


def test_streaming_asof_enrich(spark, ddb):
    """Streaming shape == the batch oracle, and at least one enrichment
    CROSSES the micro-batch boundary (ref in batch 0, target in batch 1)
    — the group state must be doing real cross-batch work, not a
    within-batch shortcut."""
    import datetime

    out = contract.q_streaming_asof_enrich(spark, SF_DIR)
    assert_matches_oracle(out, ddb, contract.oracle_asof_join_enrich())
    rows = out.collect()
    split_us = int(
        datetime.datetime.strptime(
            contract._ASOF_STREAM_SPLIT, "%Y-%m-%d %H:%M:%S"
        )
        .replace(tzinfo=datetime.timezone.utc)
        .timestamp()
        * 1_000_000
    )
    cross = [
        r
        for r in rows
        if r.ts_us >= split_us and r.ref_event_id != -1 and r.ref_ts_us < split_us
    ]
    assert cross, "no enrichment crossed the micro-batch boundary"


def test_time_rollup_index(spark, ddb, tmp_path):
    """Continuous-aggregate index: the additive identity (probe over
    build+append segments == full recompute), compaction parity, and
    the finest-grid param pin."""
    import pytest as _pytest

    from paperoni_spark import fsio
    from paperoni_spark.operators import temporal

    events = contract.load(spark, SF_DIR, "events")
    cut = F.expr(f"TIMESTAMP_NTZ '{contract._ASOF_CUTOFF}'")
    idx = str(tmp_path / "rollup")
    temporal.write_rollup_index(events.where(F.col("ts") < cut), idx)
    temporal.write_rollup_index(events.where(F.col("ts") >= cut), idx, wave=1)

    def probe():
        return sorted(
            tuple(r)
            for r in temporal.time_rollup_from_index(spark, idx).collect()
        )

    base = probe()
    full = sorted(tuple(r) for r in temporal.time_rollup(events).collect())
    assert base == full

    assert fsio.compact_index_kind(spark, idx, "time_rollup") == 2
    assert probe() == base

    # geometry pin: a probe at a different finest grid is refused
    with _pytest.raises(ValueError, match="finest_s"):
        temporal.time_rollup_from_index(spark, idx, resolutions_s=(120, 600, 3600))


def test_label_centroid_similarity(spark, ddb):
    """Centroid cosine matrix vs the SQL replay, a numpy brute force
    with the same rounding ladder, and the geometry laws (full upper
    triangle, cosine within [-1, 1])."""
    import numpy as np

    from paperoni_spark.operators import similarity

    embeds = contract.load(spark, SF_DIR, "embeddings")
    out_df = similarity.label_centroid_similarity(embeds)
    assert_matches_oracle(
        out_df, ddb, contract.oracle_label_centroid_similarity()
    )
    rows = out_df.collect()

    data = embeds.select("label", "embedding").collect()
    by_label = {}
    for r in data:
        by_label.setdefault(r.label, []).append(np.array(r.embedding, dtype=np.float64))
    cents = {
        lb: np.round(np.mean(np.stack(v), axis=0), similarity.CENTROID_MEAN_ROUND)
        for lb, v in by_label.items()
    }
    labels = sorted(cents)
    assert {(r.label_a, r.label_b) for r in rows} == {
        (a, b) for a in labels for b in labels if a < b
    }
    for r in rows:
        ca, cb = cents[r.label_a], cents[r.label_b]
        want = round(
            float(ca @ cb) / (float(np.sqrt(ca @ ca)) * float(np.sqrt(cb @ cb))),
            similarity.CENTROID_COS_ROUND,
        )
        assert abs(r.cosine - want) < 1e-9
        assert -1.0 <= r.cosine <= 1.0


def test_pmi_collocations(spark, ddb):
    """Top-K PMI collocations vs the SQL replay, plus the laws: exactly
    top_k rows, min_count respected, the (pmi_q desc, w1, w2) order, and
    exact bigram counts vs a Python Counter replay."""
    import collections

    from paperoni_spark.operators import textstats

    docs = contract.load(spark, SF_DIR, "documents")
    out_df = textstats.pmi_collocations(docs)
    assert_matches_oracle(out_df, ddb, contract.oracle_pmi_collocations())
    rows = out_df.collect()
    assert len(rows) == textstats.PMI_TOP_K

    counts = collections.Counter()
    for r in docs.select("text").collect():
        t = r.text.strip().split()
        if len(t) >= 2:
            counts.update(zip(t, t[1:]))
    keys = [(-r.pmi_q, r.w1, r.w2) for r in rows]
    assert keys == sorted(keys)
    for r in rows:
        assert r.n_ab >= textstats.PMI_MIN_COUNT
        assert counts[(r.w1, r.w2)] == r.n_ab
