"""Operator-suite tests: dedup / similarity / textstats / temporal /
streaming over the driver's sf0.001 tables, including a
pytest-side replica of the driver's DuckDB-oracle gate for a
representative subset."""

from __future__ import annotations

import datetime as dt
import math
import os
import time

import duckdb
import pytest

import paperoni_spark.contract as contract
from pyspark.sql import functions as F
from paperoni_spark.operators import dedup, textstats
from paperoni_spark.streaming.sessions import EVENTS_SCHEMA

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


def test_selfjoin_pipelines_reuse_exchanges(spark, docs):
    """The blocked self-join family must physically SHARE its expensive
    upstream pipeline: direct per-doc sizes keep the subtrees canonical so
    Spark plans ReusedExchange (round 2's diagonal trick split the filters
    and re-derived the whole shingle pipeline per branch — 13 scans, zero
    reuse)."""
    df = dedup.ngram_jaccard_pairs(docs)
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


def test_simhash_delta_never_rehashes(spark, docs, ddb, tmp_path):
    """Incremental delta-vs-corpus near-dup sweep: (1) the oracled query
    matches the DuckDB full-recompute twin, (2) results equal the full
    simhash_near_dup_pairs recompute restricted to delta-touching pairs,
    and (3) the probe never re-reads the corpus: its source files are
    deleted after the 16 B/doc fingerprint index is written, so any
    re-hash would fail on the missing input."""
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


def test_quality_scores_matches_oracle(spark, docs, ddb):
    assert_matches_oracle(
        textstats.quality_scores(docs), ddb, contract.oracle_quality_scores()
    )


def test_simhash_band_cap_excludes_degenerate_bucket(spark):
    """The SIMHASH_BAND_CAP guard: a degenerate cluster (every document
    identical → one over-cap bucket per band) generates NO candidate
    pairs, while the same corpus pairs up with the cap lifted — the
    O(B²) skew bound of the unhinted over-cap anti-join."""
    n = dedup.SIMHASH_BAND_CAP + 5
    rows = [(i, "the same boilerplate page body " * 4) for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    assert dedup.simhash_near_dup_pairs(df).count() == 0
    uncapped = dedup.simhash_near_dup_pairs(df, cap=10**9).collect()
    assert len(uncapped) == n * (n - 1) // 2
    assert all(r["hamming"] == 0 for r in uncapped)


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


def _rounded_cosines(qvecs, vecs):
    """Brute-force cosine of every (query, vector) pair in the engine's
    exact arithmetic: doubles, products summed left to right (Spark's
    ``aggregate`` over ``zip_with``; ``np.add.accumulate`` is sequential,
    unlike the pairwise ``np.sum``), then rounded to 3 decimals the way
    Spark's ``round`` does."""
    import numpy as np

    from paperoni_spark.streaming.sessions import spark_round

    def seq_sum(m):
        return np.add.accumulate(m, axis=-1)[..., -1]

    dots = seq_sum(qvecs[:, None, :] * vecs[None, :, :])
    qn = np.sqrt(seq_sum(qvecs * qvecs))
    vn = np.sqrt(seq_sum(vecs * vecs))
    cos = dots / (qn[:, None] * vn[None, :])
    return [[spark_round(float(x), 3) for x in row] for row in cos]


def test_ivf_ann(spark, embeds):
    import numpy as np

    from paperoni_spark.operators.similarity import ann_ivf_topk, ivf_assignments

    assigned, centroids = ivf_assignments(embeds, n_centroids=8, iters=2)
    counts = {r["centroid"]: r["n"] for r in assigned.groupBy("centroid").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == embeds.count()
    assert len(centroids) == 8 and all(len(c) == 64 for c in centroids)

    ann = ann_ivf_topk(embeds, n_queries=5, k=5, n_centroids=8, nprobe=2).collect()
    assert len(ann) > 0
    # exact reference: numpy brute force over every other vector, the
    # same rounded cosine the operator ranks by
    rows = embeds.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    vecs = np.array([r["embedding"] for r in rows], dtype=np.float64)
    qidx = [i for i, v in enumerate(ids) if v < 5]
    scores = _rounded_cosines(vecs[qidx], vecs)
    exact = {
        (ids[qi], v): scores[n][j]
        for n, qi in enumerate(qidx)
        for j, v in enumerate(ids)
        if v != ids[qi]
    }
    # every IVF hit carries the exact cosine score for that pair
    for r in ann:
        assert exact[(r["query_id"], r["vec_id"])] == r["score"]
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
    # the hot-shingle cap must be an UNHINTED anti-join (AQE decides), not
    # a filter on a per-shingle window count
    plan = ngram_jaccard_pairs(df)._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan


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


def test_index_kind_marker(spark, docs, tmp_path):
    """All wave-keyed indexes share one layout, so the layout guard alone
    can't stop one family's wave=0 build from destroying another's
    committed segment: the _index_kind marker must (a) refuse a foreign
    family BEFORE anything is deleted, (b) adopt a legacy marker-less
    index, (c) hold for the family writers themselves, not only for a
    bare write_wave_segment call."""
    from paperoni_spark.fsio import write_wave_segment
    from paperoni_spark.operators.dedup import (
        SIMHASH_PAIR_BITS,
        simhash,
        write_simhash_index,
    )
    from paperoni_spark.operators.temporal import write_user_state_index

    # (a) cross-family refusal, committed build left untouched
    sim_path = str(tmp_path / "simhash_idx")
    write_simhash_index(simhash(docs, SIMHASH_PAIR_BITS), sim_path)
    before = sorted(r["doc_id"] for r in spark.read.parquet(sim_path).collect())
    with pytest.raises(ValueError, match="simhash"):
        write_wave_segment(docs.limit(1), sim_path, 0, kind="user_state")
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
        write_wave_segment(docs.limit(1), str(legacy), 2, kind="user_state")

    # (c) through the family writers: a user_state build is refused at
    # the simhash root, committed rows untouched, and a simhash append
    # is refused on a flat legacy directory (bare part files)
    events = contract.load(spark, SF_DIR, "events").orderBy("event_id").limit(50)
    with pytest.raises(ValueError, match="simhash"):
        write_user_state_index(events, sim_path)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(sim_path).collect()
    ) == before
    flat = tmp_path / "flat_idx"
    flat.mkdir()
    (flat / "part-00000.parquet").touch()
    with pytest.raises(ValueError, match="not a wave-segmented"):
        write_simhash_index(simhash(docs, SIMHASH_PAIR_BITS), str(flat), 1)
    assert sorted(p.name for p in flat.iterdir()) == ["part-00000.parquet"]


_WAVE_ID_FAMILIES = ["simhash", "substring_hist", "user_state", "time_rollup"]


@pytest.mark.parametrize("family", _WAVE_ID_FAMILIES)
def test_wave_id_rule_every_family(spark, docs, tmp_path, family):
    """One wave-id rule for every index family's segment writer: a
    non-numeric string id is a wave like any other, an empty or negative
    id is refused with ValueError before the root is touched."""
    from paperoni_spark.operators import temporal

    small_docs = docs.orderBy("doc_id").limit(40)
    events = contract.load(spark, SF_DIR, "events").orderBy("event_id").limit(200)
    sh = dedup.simhash(small_docs, dedup.SIMHASH_PAIR_BITS)

    # family -> write the given wave (0 is the build)
    writers = {
        "simhash": lambda p, w: dedup.write_simhash_index(sh, p, w),
        "substring_hist": lambda p, w: dedup.write_substring_index(small_docs, p, w, n=8),
        "user_state": lambda p, w: temporal.write_user_state_index(events, p, w),
        "time_rollup": lambda p, w: temporal.write_rollup_index(events, p, w),
    }
    write = writers[family]
    path = str(tmp_path / family)
    write(path, 0)

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


def test_interleave_stats(spark, ddb):
    """Interleaved-payload profile: oracle parity against the frozen
    golden span sequences, plus a hand-checked micro-fixture (runs,
    media fraction, single-span doc, empty doc excluded)."""
    from paperoni_spark.operators.extract import interleave_stats

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
    the root still reads as one table, and the batch doc duplicating a
    build doc pairs with it."""
    import glob as g
    import shutil

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


def test_streaming_sessionization_matches_batch(spark, tmp_path_factory):
    """Gap-sessionization via applyInPandasWithState: fed the same events
    split across THREE micro-batches in a session-hostile order (a later
    batch delivers the bridging event that MERGES two sessions already
    emitted as separate), the final read-back must equal the batch
    session_stats rows exactly."""
    from paperoni_spark.operators.sessionize import session_stats
    from paperoni_spark.streaming.sessions import run_streaming_sessionization

    base_dir = tmp_path_factory.mktemp("sess")
    events_dir = str(base_dir / "events")
    os.makedirs(events_dir)
    # user 1: events at 0min and 50min (gap 50 > 30 → two sessions) plus a
    # 25min bridge arriving LAST (merges them into one); user 2: one session
    batches = [
        [(0, 1), (50, 1), (100, 2)],
        [(105, 2), (120, 2)],
        [(25, 1)],  # the bridge — arrives after both sessions were emitted
    ]
    eid = 0
    batch_dt = dt.datetime(2024, 3, 1)
    all_rows = []
    for bi, batch in enumerate(batches):
        rows = [
            (
                (eid := eid + 1),
                batch_dt + dt.timedelta(minutes=m),
                uid,
                "click",
                float(eid),
                "{}",
            )
            for m, uid in batch
        ]
        all_rows.extend(rows)
        spark.createDataFrame(rows, schema=EVENTS_SCHEMA).coalesce(1).write.parquet(
            os.path.join(events_dir, f"b{bi}")
        )
        time.sleep(2.1)  # file source orders batches by modification time

    streamed = run_streaming_sessionization(
        spark, events_dir + "/*", max_files_per_trigger=1, path_glob="*.parquet"
    )
    batch = session_stats(spark.createDataFrame(all_rows, schema=EVENTS_SCHEMA))
    got = sorted(map(tuple, streamed.collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want
    # the merge actually happened: user 1 ends with ONE session of 3 events
    u1 = [r for r in streamed.collect() if r["user_id"] == 1]
    assert len(u1) == 1 and u1[0]["n_events"] == 3
    # the memory sink's view is dropped once its rows are read back
    assert not [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("stream_sessions_")
    ]


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


def test_index_geometry_guards(spark, docs, tmp_path):
    """Round-6 geometry guard: the substring index pins its shingle
    size — probing or appending at a different n would hash disjoint
    digests and silently match nothing, and a write into another family's
    root is refused before that pin is adopted."""
    from paperoni_spark.operators.dedup import (
        substring_delta_clean,
        write_substring_index,
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
    # a foreign family's root is refused BEFORE the shingle_n marker is
    # adopted into it (a marker left behind would pin the wrong family)
    from paperoni_spark.operators.temporal import write_user_state_index

    ust = str(tmp_path / "ust_idx")
    write_user_state_index(
        contract.load(spark, SF_DIR, "events").orderBy("event_id").limit(50), ust
    )
    with pytest.raises(ValueError, match="refusing to write"):
        write_substring_index(docs, ust, n=8)
    assert not os.path.exists(os.path.join(ust, "_param_shingle_n_8"))


def test_tfidf_top_terms(spark, docs, ddb):
    """Top-k TF-IDF keywords: oracle match plus shape — exactly top_k
    ranks per doc (the corpus has ≥ top_k distinct terms everywhere),
    scores non-increasing within a doc, and the head/tail split changes
    the plan, never the rows."""
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
    # head/tail split: with a tiny head_k that genuinely routes hot tokens
    # map-side and cold tokens through the shuffled join, rows must be
    # IDENTICAL (the score depends only on (tf, df, N), not the branch)
    split = textstats.tfidf_top_terms(docs, head_k=3)
    assert sorted(map(tuple, split.collect())) == sorted(map(tuple, rows))
    plan = split._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # head matches map-side
    assert "LeftAnti" in plan  # tail routing is the anti-join on head keys


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


def test_asof_delta_enrich(spark, ddb, tmp_path):
    """Incremental as-of against the user-state index: (1) the gate
    identity — incremental == full-history as-of restricted to delta
    targets (both via the oracle and via the engine's own full join);
    (2) idempotent appends — re-sending an OVERLAPPING wave leaves the
    probe bit-identical (max-merge, the Bloom-OR property)."""
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

    # geometry pin: probing for a different ref stream is refused
    import pytest as _pytest

    with _pytest.raises(ValueError, match="ref_type"):
        temporal.asof_enrich_delta(spark, delta, idx, ref_type="signup")


def test_time_rollup_index(spark, ddb, tmp_path):
    """Continuous-aggregate index: the additive identity (probe over
    build+append segments == full recompute) and the finest-grid param
    pin."""
    import pytest as _pytest

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

    # geometry pin: a probe at a different finest grid is refused
    with _pytest.raises(ValueError, match="finest_s"):
        temporal.time_rollup_from_index(spark, idx, resolutions_s=(120, 600, 3600))
