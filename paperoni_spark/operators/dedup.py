"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale notes (designed for ~10^12-row corpora, verified at sf on DuckDB
oracles):

* Exact dedup hashes once map-side and aggregates on the 128-bit digest —
  a single shuffle keyed by digest, partial-aggregated (no text moves).
* MinHash signatures are computed per-document with **no shuffle at all**
  (explode → groupBy doc_id happens within the same hash partitioning as the
  scan when bucketed; here a single agg shuffle keyed by doc_id).  The LSH
  band join then shuffles only (doc_id, band_key) pairs — bytes per row, not
  documents.
* SimHash is one explode + one 16-way conditional aggregation — again one
  doc_id-keyed shuffle of small rows.
* Pairwise Jaccard is block-gated: candidate pairs come from an equi-join
  on shared shingles, never a cross join.

Hashing is engine-portable by construction: md5 hex (identical in Spark and
DuckDB) ordered lexicographically stands in for integer min-hashing, and hex
chars are decoded positionally for SimHash bits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize

MINHASH_K = 8
LSH_BANDS = 4  # rows-per-band = MINHASH_K / LSH_BANDS
SIMHASH_BITS = 16


def exact_dedup_stats(documents: DataFrame) -> DataFrame:
    """Per-source exact duplicate statistics on the text digest."""
    return (
        documents.select("source", F.md5("text").alias("digest"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("digest").alias("n_unique"),
        )
        .withColumn("n_dupes", F.col("n_docs") - F.col("n_unique"))
    )


def _shingles(documents: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document — fully map-side.

    The token array is materialized once per row behind a ``Generate``
    barrier (explode of a one-element array): without it, Catalyst's
    projection collapse inlines ``split()`` into every element of the
    shingle ``transform`` lambda, making the stage O(tokens²) per document
    (measured 2-4× slower at sf0.1, and far worse for long docs)."""
    toks_df = documents.select(
        "doc_id",
        F.explode(F.array(F.split(F.trim("text"), r"\s+"))).alias("toks"),
    )
    shingle_expr = F.expr(
        f"CASE WHEN size(toks) >= {n} THEN "
        f"transform(sequence(0, size(toks) - {n}), "
        f"i -> concat_ws(' ', slice(toks, i + 1, {n}))) "
        "ELSE array() END"
    )
    return toks_df.select(
        "doc_id", F.explode(F.array_distinct(shingle_expr)).alias("shingle")
    ).distinct()


WINNOW_WINDOW = 4


def _winnow_selected(
    documents: DataFrame, n: int = 3, window: int = WINNOW_WINDOW
) -> DataFrame:
    """(doc_id, fp): each document's DISTINCT winnowing selections — hash
    every word n-gram in document order, slide a window of ``window``
    hashes, keep each window's minimum.  Hashes are md5 (lexicographic min
    ≙ integer min, engine-portable); one doc_id-keyed window shuffle."""
    from pyspark.sql.window import Window

    toks_df = documents.select(
        "doc_id",
        F.explode(F.array(F.split(F.trim("text"), r"\s+"))).alias("toks"),
    )
    shingle_arr = F.expr(
        f"CASE WHEN size(toks) >= {n} THEN "
        f"transform(sequence(0, size(toks) - {n}), "
        f"i -> concat_ws(' ', slice(toks, i + 1, {n}))) "
        "ELSE array() END"
    )
    positioned = toks_df.select(
        "doc_id", F.posexplode(shingle_arr).alias("pos", "shingle")
    ).withColumn("h", F.md5("shingle"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    return (
        positioned.withColumn("fp", F.min("h").over(w))
        .select("doc_id", "fp")
        .distinct()
    )


def winnow_fingerprints(
    documents: DataFrame, n: int = 3, window: int = WINNOW_WINDOW
) -> DataFrame:
    """Rolling-hash document fingerprinting (winnowing): the per-document
    selection-set summary — the classic local-fingerprint scheme whose
    selections are stable under edits outside the window."""
    sel = _winnow_selected(documents, n, window)
    return (
        sel.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("fp")).alias("fps"))
        .select(
            "doc_id",
            F.size("fps").alias("n_fingerprints"),
            F.md5(F.concat_ws("|", "fps")).alias("fp_digest"),
        )
    )


WINNOW_FP_DF_CAP = 100


def winnow_overlap_pairs(
    documents: DataFrame,
    n: int = 3,
    window: int = WINNOW_WINDOW,
    min_shared: int = 2,
    df_cap: int = WINNOW_FP_DF_CAP,
) -> DataFrame:
    """Near-dup candidate pairs from SHARED WINNOWING FINGERPRINTS — the
    scale path for pairwise overlap: winnowing keeps ~1/window of each
    document's shingles, so the fingerprint equi-join moves ~window× fewer
    rows than the full shingle self-join (ngram_jaccard_pairs) while the
    window-minimum guarantee still catches any match ≥ window+n−1 tokens.

    Same skew armor as the shingle join: fingerprints with document
    frequency > ``df_cap`` (boilerplate) are excluded from the overlap
    space via an UNHINTED anti-join (AQE decides — a forced broadcast is a
    driver-OOM cliff on exactly the corpora the cap exists for).  Per-doc
    sizes are a direct aggregation over the capped selection — NOT the
    self-join diagonal, whose pairs/diagonal filter split destroys
    exchange reuse (see ngram_jaccard_pairs).  ``overlap`` is containment:
    shared / min(|A|, |B|), rounded for engine portability."""
    sel = _winnow_selected(documents, n, window)
    hot = (
        sel.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > df_cap)
        .select("fp")
    )
    blocked = sel.join(hot, "fp", "left_anti")
    pairs = (
        blocked.alias("a")
        .join(blocked.alias("b"), on="fp")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    sizes = blocked.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("nb"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(F.col("n_shared") >= min_shared)
        .select(
            "doc_a",
            "doc_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.round(
                F.col("n_shared") / F.least(F.col("na"), F.col("nb")), 6
            ).alias("overlap"),
        )
    )


NULL_SOURCE_LABEL = "(null)"


def source_overlap_matrix(
    documents: DataFrame, n: int = 3, window: int = WINNOW_WINDOW
) -> DataFrame:
    """Cross-source contamination matrix over winnowing fingerprints: for
    every unordered pair of sources, how many DISTINCT fingerprints they
    share, and the containment n_shared / min(|fps_a|, |fps_b|) — the
    corpus-mixing diagnostic read before setting source weights (a pair
    with high containment is double-counting the same text).

    Scale shape: the (source, fp) projection bounds the fp self-join's
    per-key multiplicity by SOURCE CARDINALITY (a config-sized constant),
    so unlike the doc-level overlap join no df-cap is needed — boilerplate
    fingerprints cannot explode pairs, they count toward shared mass
    (deliberate: the matrix measures raw shared-fingerprint volume).  The
    pair grid and sizes are source-cardinality-sized; every data-sized
    shuffle is keyed by doc_id (winnow window), (source, fp) (distinct),
    or fp (the bounded join).  NULL sources fold into a pinned sentinel
    label BEFORE any join (a NULL output cell cannot cross the gate, and
    a NULL join key would silently drop the stratum).

    Zero-overlap pairs are kept (n_shared = 0); sources with no
    fingerprints at all (every doc shorter than the shingle width) have
    no row — containment is undefined without a denominator."""
    # the sentinel must not SILENTLY merge with a real source literally
    # named like it — that would union two strata's fingerprints and
    # corrupt every containment involving either, with no error.  The
    # guard scan is source-only + pushed filter + limit 1: noise next
    # to the shingle pass.
    if documents.where(F.col("source") == NULL_SOURCE_LABEL).limit(1).count():
        raise ValueError(
            f"a real source is named {NULL_SOURCE_LABEL!r} — it would "
            "silently merge with the NULL-source stratum; rename the "
            "sentinel (dedup.NULL_SOURCE_LABEL)"
        )
    sel = _winnow_selected(documents, n, window)
    src = documents.select(
        "doc_id", F.coalesce("source", F.lit(NULL_SOURCE_LABEL)).alias("source")
    )
    sf = sel.join(src, "doc_id").select("source", "fp").distinct()
    sizes = sf.groupBy("source").agg(F.count("*").alias("n_fp"))
    pairs = (
        sf.alias("a")
        .join(sf.alias("b"), "fp")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n_fp").alias("na"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n_fp").alias("nb"))
    grid = sa.join(sb, F.col("source_a") < F.col("source_b"))
    return grid.join(pairs, ["source_a", "source_b"], "left").select(
        "source_a",
        "source_b",
        F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
        F.round(
            F.coalesce("n_shared", F.lit(0)) / F.least(F.col("na"), F.col("nb")), 6
        ).alias("containment"),
    )


def minhash_signatures(documents: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """K-permutation MinHash over word 3-gram shingles.

    Each permutation is the lexicographic minimum of ``md5(salt || shingle)``
    — order-isomorphic to integer min-hashing and bit-identical across
    engines.  Output: one row per doc with the signature digest (md5 of the
    concatenated mins) for cheap equality checks downstream.
    """
    sh = _shingles(documents)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"mh{i}")
        for i in range(k)
    ]
    sig = sh.groupBy("doc_id").agg(*aggs)
    return sig.select(
        "doc_id",
        F.md5(F.concat_ws("|", *[F.col(f"mh{i}") for i in range(k)])).alias(
            "signature"
        ),
        *[F.col(f"mh{i}") for i in range(k)],
    )


def _minhash_band_rows(
    documents: DataFrame,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    materialized: bool = True,
) -> DataFrame:
    """(doc_id, band, bucket): one row per (document, band), where bucket is
    the md5 of that band's signature slice — the LSH banding key.  Derived
    map-side from the signature table; each doc contributes exactly
    ``bands`` rows of a few bytes each.  ``materialized=False`` skips the
    multi-consumer cut for single-consumer callers (the index writers):
    they stream band rows straight to their sink instead of staging a full
    extra copy in executor storage first."""
    rows_per_band = k // bands
    sig = minhash_signatures(documents, k)
    # one EXPLODE of per-band structs, not a 4-way union: the union form
    # re-derives the (expensive) signature aggregation once per band in
    # every consumer (measured 20 scans in lsh_candidate_doc_pairs); the
    # single-subtree explode keeps consumers canonical so the signature
    # exchange is planned once and reused
    bands_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"mh{i}")
                            for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                        ],
                    )
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    rows = sig.select("doc_id", F.explode(bands_arr).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    # band rows are tiny (ids + 2 hashes, no text) and feed up to four
    # consumers (histogram, anti-join, both self-join sides): materialize
    # once so the shingle+minhash pipeline never re-derives per consumer
    return materialize(rows) if materialized else rows


def lsh_candidate_pairs(
    documents: DataFrame, k: int = MINHASH_K, bands: int = LSH_BANDS
) -> DataFrame:
    """MinHash-LSH banding: docs sharing a band key are near-dup candidates.
    Returns (band, bucket, n_docs) for buckets with >1 member — the shuffle
    moves only band-key rows, never documents.  This histogram is also the
    skew probe for :func:`lsh_candidate_doc_pairs`: bucket sizes here tell
    you whether MINHASH_BUCKET_CAP will bite."""
    return (
        _minhash_band_rows(documents, k, bands)
        .groupBy("band", "bucket")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") > 1)
    )


MINHASH_BUCKET_CAP = 64


def lsh_candidate_doc_pairs(
    documents: DataFrame,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    cap: int = MINHASH_BUCKET_CAP,
) -> DataFrame:
    """Enumerate MinHash-LSH candidate pairs: (doc_a, doc_b, n_shared_bands)
    for every pair colliding in >=1 under-cap bucket (doc_a < doc_b).

    Pair enumeration is where banding goes quadratic: a bucket of B docs
    yields B² pairs, and one boilerplate cluster of 10^6 identical pages
    is 10^12 rows from a single bucket.  Buckets larger than ``cap`` are
    excluded via an anti-join on the over-cap set — same guard (and same
    no-broadcast-hint rationale: the hot set scales with corpus diversity,
    AQE decides) as similarity.capped_bands.  Oversize clusters are not
    lost: they are exactly-equal families the cheap exact/fingerprint dedup
    already collapses, and the bucket histogram (:func:`lsh_candidate_pairs`)
    still reports them.  The self-join is per (band, bucket) equi-key, never
    a cross join; n_shared_bands is a free collision-strength signal (a doc
    has one bucket per band, so count(*) == count(distinct band))."""
    rows = _minhash_band_rows(documents, k, bands)
    hot = (
        rows.groupBy("band", "bucket")
        .agg(F.count("*").alias("n_in_bucket"))
        .where(F.col("n_in_bucket") > cap)
        .select("band", "bucket")
    )
    capped = rows.join(hot, ["band", "bucket"], "left_anti")
    a = capped.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    b = capped.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared_bands"))
    )


def write_minhash_band_index(
    documents: DataFrame,
    path: str,
    wave=0,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
) -> None:
    """Persist the MinHash-LSH band index — (doc_id, band, bucket) written
    PARTITIONED BY band inside a ``wave=<id>`` segment — so a recurring
    crawl never re-shingles the corpus: incremental dedup
    (:func:`dedup_delta_pairs_against_index`) probes this table instead
    of re-deriving 10^12 documents' signatures.  ``wave`` 0 is the
    build; each later wave (the post-probe step of the recurring-crawl
    loop) owns its own segment with delete-before-overwrite
    (fsio.write_wave_segment), so at-least-once retries replay instead
    of double-appending (Iceberg equivalent:
    ``writeTo(tbl).partitionedBy(col("band"))`` with per-wave
    overwrite-by-filter).  Caller contract for a wave: its doc_ids are
    not already indexed (the pipeline's anti-join resume guarantees
    this), and ``wave`` is stable across retries of the same wave."""
    from ..fsio import write_wave_segment

    write_wave_segment(
        _minhash_band_rows(documents, k, bands, materialized=False),
        path,
        wave,
        "minhash_bands",
        partition_by=("band",),
    )


def dedup_delta_pairs_against_index(
    spark,
    delta_docs: DataFrame,
    index_path: str,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    cap: int = MINHASH_BUCKET_CAP,
) -> DataFrame:
    """Incremental (delta-vs-corpus) dedup: MinHash-LSH candidate pairs
    TOUCHING THE DELTA — (doc_a, doc_b, n_shared_bands), doc_a < doc_b —
    where at least one side is a new document.  Only the delta is shingled
    and min-hashed; the corpus side comes entirely from the persisted band
    index (:func:`write_minhash_band_index`), so a daily 50k-doc wave costs
    O(delta) compute + one equi-join against the index — never a corpus
    re-shingle (at 10^12 docs the difference between a daily job and an
    impossible one).

    Semantics match a full :func:`lsh_candidate_doc_pairs` recompute
    restricted to delta-touching pairs: bucket sizes for the over-cap
    guard are counted over index ∪ delta (what the full recompute would
    see), and the same unhinted anti-join excludes over-cap buckets.
    Delta-delta pairs orient by doc_id; delta-corpus pairs join exactly
    once (the probe side is always the delta), so ``count(*)`` per ordered
    pair is the shared-band count.  Caller contract: delta doc_ids are
    disjoint from the index (the pipeline's anti-join resume —
    pipeline/job.py — is the standard way to guarantee it)."""
    from ..fsio import refuse_mid_compaction

    refuse_mid_compaction(spark, index_path)
    delta_rows = _minhash_band_rows(delta_docs, k, bands)
    index_rows = spark.read.parquet(index_path).select(
        "doc_id", F.col("band").cast("int").alias("band"), "bucket"
    )
    all_rows = index_rows.withColumn("from_delta", F.lit(False)).unionByName(
        delta_rows.withColumn("from_delta", F.lit(True))
    )
    hot = (
        all_rows.groupBy("band", "bucket")
        .agg(F.count("*").alias("n_in_bucket"))
        .where(F.col("n_in_bucket") > cap)
        .select("band", "bucket")
    )
    # hot feeds BOTH anti-joins (probe + target) with different downstream
    # column sets, so nothing below it canonicalizes for ReusedExchange —
    # without this cut each consumer re-scans the whole index for the
    # bucket histogram (executed-plan audit: 6 index scans → 2).  The
    # over-cap key set is tiny by construction.
    hot = materialize(hot)
    probe = (
        delta_rows.join(hot, ["band", "bucket"], "left_anti")
        .select(F.col("doc_id").alias("probe_id"), "band", "bucket")
    )
    target = all_rows.join(hot, ["band", "bucket"], "left_anti").select(
        F.col("doc_id").alias("target_id"), "band", "bucket", "from_delta"
    )
    return (
        probe.join(target, ["band", "bucket"])
        .where(F.col("probe_id") != F.col("target_id"))
        # delta-delta pairs appear in both orientations: keep one
        .where(~F.col("from_delta") | (F.col("probe_id") < F.col("target_id")))
        .groupBy(
            F.least("probe_id", "target_id").alias("doc_a"),
            F.greatest("probe_id", "target_id").alias("doc_b"),
        )
        .agg(F.count("*").cast("long").alias("n_shared_bands"))
    )


def _simhash_bit_sql(j: int) -> str:
    """SQL for bit ``j`` (0/1) of a token's md5 prefix, read from the two
    32-bit halves ``h_hi``/``h_lo`` decoded once per token: an integer
    shift+mask instead of per-bit substring+instr over the hex string.
    VALUE-IDENTICAL to the positional hex decode the DuckDB oracles keep
    using: hex char c (1-based) is the (8−c)th nibble of its half, and
    bit_in_char indexes within the nibble exactly as the per-char decode
    did — gated by every simhash oracle row."""
    char_idx = j // 4 + 1  # 1-based into the md5 hex string
    bit_in_char = j % 4
    if char_idx <= 8:
        half, shift = "h_hi", (8 - char_idx) * 4 + bit_in_char
    else:
        half, shift = "h_lo", (16 - char_idx) * 4 + bit_in_char
    return f"(shiftright({half}, {shift}) & 1)"


def _simhash_sql(bits: int) -> str:
    """The whole fingerprint as ONE aggregate expression: bit j is set iff
    the sum of (±1) votes from bit j of each token's hash is positive.
    Two's-complement packing: bit 63 is the sign bit, so it contributes
    -2^63 — the full 64-bit fingerprint fits a signed long exactly (bits
    0..62 sum to at most 2^63-1 before the sign term is added, so no
    intermediate overflow even under ANSI mode).  Built as a string so a
    plan costs a constant number of gateway calls at any width, not a
    Column object per bit."""
    terms = []
    for j in range(bits):
        vote = f"sum(CASE WHEN {_simhash_bit_sql(j)} = 1 THEN 1 ELSE -1 END)"
        mag = "(-9223372036854775807L - 1L)" if j == 63 else str(1 << j)
        terms.append(f"CASE WHEN {vote} > 0 THEN {mag} ELSE 0 END")
    return f"CAST({' + '.join(terms)} AS BIGINT) AS simhash"


def simhash(documents: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash over whitespace tokens: bit j is the sign of the sum of
    (±1) votes from bit j of each token's hash.  Token hash bits come from
    the first ``bits/4`` hex chars of md5 (positional decode — portable).
    Null text yields no row; empty text is one empty token."""
    halves = ["doc_id", "CAST(conv(substring(h, 1, 8), 16, 10) AS BIGINT) AS h_hi"]
    if bits > 32:
        halves.append("CAST(conv(substring(h, 9, 8), 16, 10) AS BIGINT) AS h_lo")
    toks = (
        documents.select(
            "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
        )
        .selectExpr("doc_id", "md5(tok) AS h")
        .selectExpr(*halves)
    )
    return toks.groupBy("doc_id").agg(F.expr(_simhash_sql(bits)))


# Production-width 64-bit fingerprints, 16-bit band keys (65k buckets per
# band).  At 10^12 docs lean on the band cap for degenerate fingerprints.
# Band extraction is (simhash >> s) & mask — arithmetic shift is safe for
# negative hashes because s + band_bits <= 64, so the sign-fill bits never
# overlap the masked band (identical reasoning holds for the DuckDB twin).
SIMHASH_PAIR_BITS = 64
SIMHASH_HAMMING_MAX = 3
SIMHASH_BANDS = 4  # > SIMHASH_HAMMING_MAX → blocking is LOSSLESS (pigeonhole)
SIMHASH_BAND_CAP = 64


def _simhash_pair_guard(bits: int, bands: int, max_hamming: int) -> None:
    if bits > 64 or bits % bands != 0:
        raise ValueError(
            f"simhash pair search needs bits % bands == 0 and bits <= 64 "
            f"(two's-complement signed-long packing), got bits={bits} bands={bands}"
        )
    if max_hamming >= bands:
        # pigeonhole only guarantees a shared band when hamming < bands —
        # with max_hamming >= bands the band join silently turns LOSSY,
        # contradicting the exactness contract
        raise ValueError(
            f"banded blocking is exact only for max_hamming < bands, got "
            f"max_hamming={max_hamming} bands={bands} (raise bands or accept "
            f"approximate recall via a different blocking scheme)"
        )


def _simhash_band_rows_from(sh: DataFrame, bits: int, bands: int) -> DataFrame:
    """(doc_id, simhash, band, bkey) from a fingerprint frame — a pure
    map-side explode of (band, masked-shift) structs, built as one SQL
    string (constant gateway calls per plan).  Arithmetic shift + mask
    extracts every band correctly even for negative (bit-63-set) hashes
    because shift + band width never exceeds 64 bits."""
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    structs = ", ".join(
        f"named_struct('band', {b}, 'bkey', shiftright(simhash, {b * band_bits}) & {mask})"
        for b in range(bands)
    )
    return sh.selectExpr(
        "doc_id", "simhash", f"explode(array({structs})) AS bb"
    ).selectExpr("doc_id", "simhash", "bb.band AS band", "bb.bkey AS bkey")


def simhash_near_dup_pairs(
    documents: DataFrame,
    bits: int = SIMHASH_PAIR_BITS,
    max_hamming: int = SIMHASH_HAMMING_MAX,
    bands: int = SIMHASH_BANDS,
    cap: int = SIMHASH_BAND_CAP,
) -> DataFrame:
    """All document pairs within ``max_hamming`` SimHash bits — the classic
    near-dup sweep over the fingerprint space.

    Blocking is EXACT, not approximate: the ``bits``-bit hash splits into
    ``bands`` bands, and two hashes within Hamming distance < bands must
    agree on at least one whole band (pigeonhole), so with bands >
    max_hamming the band equi-join finds every qualifying pair.  Over-cap
    bands (a degenerate fingerprint shared by a boilerplate cluster) are
    excluded via the standard unhinted anti-join — the same completeness
    caveat as exact_dedup already covering identical text; the DuckDB
    oracle mirrors banding + cap.  The verify step is one xor+bit_count
    per candidate; only (doc_id, band-key) pairs shuffle."""
    return simhash_near_dup_pairs_from_sh(
        simhash(documents, bits),
        bits=bits,
        max_hamming=max_hamming,
        bands=bands,
        cap=cap,
    )


def simhash_near_dup_pairs_from_sh(
    sh: DataFrame,
    bits: int = SIMHASH_PAIR_BITS,
    max_hamming: int = SIMHASH_HAMMING_MAX,
    bands: int = SIMHASH_BANDS,
    cap: int = SIMHASH_BAND_CAP,
) -> DataFrame:
    """The pair sweep with a PRECOMPUTED ``bits``-wide (doc_id, simhash)
    frame — for callers that also probe an index with, or append, the same
    fingerprints (the corpus funnel's near-dup stage hashes each wave once
    and feeds the frame to all three)."""
    _simhash_pair_guard(bits, bands, max_hamming)
    rows = _simhash_band_rows_from(sh, bits, bands)
    rows = materialize(rows)  # 4 consumers, tiny rows
    # the hot-band guard is similarity.capped_bands — ONE implementation of
    # the load-bearing unhinted anti-join (extra columns pass through)
    from .similarity import capped_bands

    capped = capped_bands(rows, cap)
    a = capped.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "band", "bkey"
    )
    b = capped.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "band", "bkey"
    )
    return (
        a.join(b, ["band", "bkey"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.expr("sh_a ^ sh_b")).cast("int").alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def write_simhash_index(sh: DataFrame, path: str, wave=0) -> None:
    """Persist the SimHash fingerprint index — ONE row per document,
    (doc_id, 8-byte hash) — the smallest possible dedup index (~16 B/doc;
    10^12 docs ≈ 16 TB, trivially smaller than re-tokenizing the corpus).
    Band rows derive MAP-SIDE at probe time from the single fingerprint,
    so unlike the MinHash band index nothing per-band is stored.

    ``sh`` is a PRECOMPUTED 64-bit (doc_id, simhash) frame
    (``simhash(docs, SIMHASH_PAIR_BITS)``): after a probe, the frame
    that probed the index is the one written, so a wave is hashed once.
    WAVE-KEYED: ``wave`` 0 is the build, every later wave owns its own
    segment (retry replays, never double-appends) — the layout
    corpus_job's incremental index and the streamed loop share.  Caller
    contract for a wave: doc_ids disjoint from the index (anti-join
    resume) and ``wave`` stable across retries of the same wave — an
    int, or a job-managed string id (corpus_job's wave ids)."""
    from ..fsio import write_wave_segment

    write_wave_segment(sh.select("doc_id", "simhash"), path, wave, "simhash")


def simhash_delta_pairs_against_index(
    spark,
    delta_docs: DataFrame,
    index_path: str,
    bits: int = SIMHASH_PAIR_BITS,
    max_hamming: int = SIMHASH_HAMMING_MAX,
    bands: int = SIMHASH_BANDS,
    cap: int = SIMHASH_BAND_CAP,
) -> DataFrame:
    """Incremental SimHash near-dup sweep: (doc_a, doc_b, hamming) pairs
    within ``max_hamming`` bits TOUCHING THE DELTA — only the delta is
    tokenized and hashed; the corpus side is the persisted fingerprint
    index (:func:`write_simhash_index`).  Same pigeonhole-exact banding,
    over-cap guard counted over index ∪ delta (full-recompute semantics),
    and disjoint-ids caller contract as the MinHash twin
    (:func:`dedup_delta_pairs_against_index`)."""
    return simhash_delta_pairs_from_sh(
        spark,
        simhash(delta_docs, bits),
        index_path,
        bits=bits,
        max_hamming=max_hamming,
        bands=bands,
        cap=cap,
    )


def simhash_delta_pairs_from_sh(
    spark,
    delta_sh: DataFrame,
    index_path: str,
    bits: int = SIMHASH_PAIR_BITS,
    max_hamming: int = SIMHASH_HAMMING_MAX,
    bands: int = SIMHASH_BANDS,
    cap: int | None = SIMHASH_BAND_CAP,
    delta_materialized: bool = False,
) -> DataFrame:
    """The probe with a PRECOMPUTED (doc_id, simhash) delta frame — for
    callers that also append the wave to the index and must not run the
    tokenize+hash UDF twice per document (the streaming recurring-crawl
    loop hashes once, probes, then writes the same frame as the wave's
    index segment).

    ``cap=None`` LIFTS the hot-bucket cap structurally: the per-wave
    bucket histogram and both anti-joins are skipped entirely (2 jobs +
    a materialize per wave), not merely given an unreachable threshold —
    the exactness-gate shape, where the result must equal the uncapped
    whole-corpus sweep anyway.

    ``delta_materialized=True`` tells the probe the caller's ``delta_sh``
    is already checkpointed (the streaming loop and the corpus funnel's
    dedup_wave_against_index materialize it to share with the
    index-segment write): the band rows then derive map-side per
    consumer from those blocks instead of paying a second checkpoint —
    one less materialization per wave.  Leave False when ``delta_sh`` is
    a live pipeline (the tokenize+hash aggregation must run once)."""
    from ..fsio import refuse_mid_compaction

    refuse_mid_compaction(spark, index_path)
    _simhash_pair_guard(bits, bands, max_hamming)
    if not delta_materialized:
        delta_sh = materialize(delta_sh)
    delta_rows = _simhash_band_rows_from(delta_sh, bits, bands)
    index_rows = _simhash_band_rows_from(
        spark.read.parquet(index_path), bits, bands
    )
    all_rows = index_rows.withColumn("from_delta", F.lit(False)).unionByName(
        delta_rows.withColumn("from_delta", F.lit(True))
    )
    kept_delta, kept_all = delta_rows, all_rows
    if cap is not None:
        hot = (
            all_rows.groupBy("band", "bkey")
            .agg(F.count("*").alias("n_in_bucket"))
            .where(F.col("n_in_bucket") > cap)
            .select("band", "bkey")
        )
        hot = materialize(hot)  # feeds both anti-joins (see MinHash twin)
        kept_delta = delta_rows.join(hot, ["band", "bkey"], "left_anti")
        kept_all = all_rows.join(hot, ["band", "bkey"], "left_anti")
    probe = kept_delta.select(
        F.col("doc_id").alias("probe_id"), F.col("simhash").alias("sh_p"), "band", "bkey"
    )
    target = kept_all.select(
        F.col("doc_id").alias("target_id"),
        F.col("simhash").alias("sh_t"),
        "band",
        "bkey",
        "from_delta",
    )
    return (
        probe.join(target, ["band", "bkey"])
        .where(F.col("probe_id") != F.col("target_id"))
        # delta-delta pairs appear in both orientations: keep one
        .where(~F.col("from_delta") | (F.col("probe_id") < F.col("target_id")))
        .select(
            F.least("probe_id", "target_id").alias("doc_a"),
            F.greatest("probe_id", "target_id").alias("doc_b"),
            F.bit_count(F.expr("sh_p ^ sh_t")).cast("int").alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


SHINGLE_DF_CAP = 100


def dedup_clusters(documents: DataFrame, threshold: float = 0.1) -> DataFrame:
    """Duplicate-cluster resolution: connected components over the n-gram
    Jaccard near-dup graph — see :func:`connected_components` for the
    algorithm and its scale properties."""
    pairs = ngram_jaccard_pairs(documents, threshold=threshold).select(
        "doc_a", "doc_b"
    )
    return connected_components(documents.select("doc_id"), pairs)


def simhash_dedup_clusters(
    documents: DataFrame, max_hamming: int = SIMHASH_HAMMING_MAX
) -> DataFrame:
    """Duplicate-cluster resolution over the SimHash near-dup graph — the
    production-typical combo (fingerprint pairs are cheap at 10^12 where
    shingle joins are not), same component algorithm."""
    pairs = simhash_near_dup_pairs(documents, max_hamming=max_hamming).select(
        "doc_a", "doc_b"
    )
    return connected_components(documents.select("doc_id"), pairs)


def connected_components(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    """Connected components over an arbitrary near-dup pair graph: label
    every node (``doc_id``) with its component's minimum doc_id and mark
    that minimum as the survivor (the row a dedup pass would keep).
    ``pairs`` carries (doc_a, doc_b) — any edge source: n-gram Jaccard,
    SimHash Hamming, winnowing overlap, embedding cosine.

    Each round is min-label propagation over the edges (one equi-join +
    partial-agg shuffle) followed by a POINTER-DOUBLING shortcut
    (``label ← label(label)``, a self-join of the label table): plain
    propagation alone needs O(diameter) rounds — an adversarial
    chain-shaped duplicate graph would stall it — while the shortcut
    compounds path lengths geometrically, so convergence is O(log n)
    rounds on any topology (test-pinned: a 1,000-node chain converges in
    <15 rounds).  Shortcutting never changes the fixpoint: labels only
    decrease, and the component minimum maps to itself.  The (expensive)
    edge derivation is persisted once and each round's labels are
    localCheckpoint-ed, so round r never re-executes the edge pipeline
    or the r−1 prior rounds — without this the lineage grows per round
    and the loop is O(R²) in recomputation.  The DuckDB oracles compute
    the same fixpoint with a recursive CTE."""
    labels, _ = _cc_fixpoint(nodes, pairs)
    return labels.select(
        "doc_id", "cluster", (F.col("doc_id") == F.col("cluster")).alias("is_survivor")
    )


# 2^64 nodes is unreachable, so hitting this means a logic bug (labels
# oscillating), not a big graph — fail loudly instead of looping forever
CC_MAX_ROUNDS = 64


def _cc_fixpoint(
    nodes: DataFrame, pairs: DataFrame, max_rounds: int = CC_MAX_ROUNDS
) -> tuple[DataFrame, int]:
    """The propagate+shortcut loop; returns (labels, rounds) so the
    convergence-rate property test can observe round counts."""
    from pyspark import StorageLevel

    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    labels = nodes.select("doc_id", F.col("doc_id").alias("cluster"))
    rounds = 0
    try:
        while True:
            rounds += 1
            if rounds > max_rounds:
                raise RuntimeError(
                    f"connected_components did not converge in {max_rounds} "
                    "rounds — with pointer doubling that bounds components "
                    "at 2^rounds nodes, so this is an oscillation bug, not "
                    "a large graph"
                )
            neighbor_min = (
                edges.join(
                    labels.select(
                        F.col("doc_id").alias("doc_a"), F.col("cluster").alias("nc")
                    ),
                    "doc_a",
                )
                .groupBy(F.col("doc_b").alias("doc_id"))
                .agg(F.min("nc").alias("nmin"))
            )
            # propagated labels feed BOTH sides of the shortcut self-join
            # — materialize so the edge join + agg runs once per round.
            # LAZY (eager=False): the checkpoint blocks are written the
            # first time the round's ONE action (the convergence count
            # below) computes the frame, so a round costs one job instead
            # of three (two eager checkpoints + the count) while keeping
            # the same compute-once and lineage-truncation guarantees.
            prop = materialize(
                labels.join(neighbor_min, "doc_id", "left").select(
                    "doc_id",
                    F.least(F.col("cluster"), F.coalesce("nmin", "cluster")).alias(
                        "mid"
                    ),
                    "cluster",
                )
            )
            # pointer doubling: label ← label(label).  The shortcut join
            # moves only the label table (id pairs), never the edges.
            shortcut = prop.select(
                F.col("doc_id").alias("mid"), F.col("mid").alias("jump")
            )
            updated = materialize(
                prop.join(shortcut, "mid", "left").select(
                    "doc_id",
                    F.least(F.col("mid"), F.coalesce("jump", "mid")).alias(
                        "new_cluster"
                    ),
                    "cluster",
                )
            )
            changed = updated.where(
                F.col("new_cluster") != F.col("cluster")
            ).count()
            labels = updated.select("doc_id", F.col("new_cluster").alias("cluster"))
            if changed == 0:
                break
    finally:
        edges.unpersist()
    return labels, rounds


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.1,
    df_cap: int = SHINGLE_DF_CAP,
) -> DataFrame:
    """Exact n-gram Jaccard with document-frequency-capped blocking.

    A shingle shared by 10^8 documents (boilerplate) makes its join bucket
    quadratic — the classic hot-key blowup.  Shingles with document
    frequency > ``df_cap`` are excluded from the similarity space entirely
    via an anti-join on the over-cap set (no broadcast hint: the hot set
    scales with corpus diversity, so AQE picks broadcast only when it is
    actually small — forcing it would be a driver-OOM cliff on the
    boilerplate-heavy corpora the cap exists for).  The
    result is *boilerplate-insensitive* Jaccard — intersection and union
    both range over the capped shingle space, which both bounds the join
    and stops boilerplate from inflating similarity between unrelated
    documents (the behavior a dedup pass wants).  A true near-dup pair
    shares rare shingles, so it always survives the cap.
    """
    return (
        _blocked_pair_counts(documents, n, df_cap)
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _blocked_pair_counts(
    documents: DataFrame, n: int, df_cap: int
) -> DataFrame:
    """(doc_a, doc_b, common, na, nb) over the DF-capped blocked shingle
    space — the shared scaffolding of ngram_jaccard_pairs and
    ngram_containment_pairs (a cap/blocking change edits ONE place).
    Per-doc sizes are a DIRECT aggregation over blocked — round 2
    derived them from the a<=b self-join's diagonal "for free", but
    physically the pairs/diagonal filter split pushes a.doc_id<b.doc_id
    vs == DOWN into two now-non-identical subtrees, destroying every
    ReusedExchange and re-deriving the whole shingle pipeline per branch
    (13 scans → 9 and 0 → 3 reused exchanges with the direct agg; rows
    identical, measured equal-or-faster at sf0.1).  The direct agg
    shares blocked's exchange with the join sides instead."""
    sh = _shingles(documents, n)
    hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > df_cap)
        .select("shingle")
    )
    blocked = sh.join(hot, "shingle", "left_anti")
    pairs = (
        blocked.alias("a")
        .join(blocked.alias("b"), on="shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("common"))
    )
    sizes = blocked.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return pairs.join(sa, "doc_a").join(sb, "doc_b")


CONTAINMENT_THRESHOLD = 0.5


def ngram_containment_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = CONTAINMENT_THRESHOLD,
    df_cap: int = SHINGLE_DF_CAP,
) -> DataFrame:
    """ASYMMETRIC n-gram containment over the same DF-capped blocked
    shingle space as :func:`ngram_jaccard_pairs`: for each candidate
    pair, ``containment = |A∩B| / min(|A|, |B|)`` — the sub-document
    duplication detector.  A short document wholly quoted inside a long
    one has tiny Jaccard (the union is dominated by the long doc) but
    containment ≈ 1; production pipelines use it to catch quote farms,
    wrapper pages, and partial mirrors that symmetric similarity misses.

    Emits (doc_a, doc_b, containment, jaccard) for pairs with
    containment ≥ ``threshold`` — the Jaccard rides along from the same
    aggregation so a consumer can separate "near-identical" from
    "one-contains-the-other" without a second pass.  Identical plan
    shape (and scale story) as ngram_jaccard_pairs: the shared
    :func:`_blocked_pair_counts` scaffolding (capped blocking, direct
    per-doc size aggregation, one pair-count aggregation)."""
    return (
        _blocked_pair_counts(documents, n, df_cap)
        .withColumn(
            "containment",
            F.round(F.col("common") / F.least("na", "nb"), 6),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6
            ),
        )
        .where(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment", "jaccard")
    )


LINE_DF_CAP = 3  # lines appearing in more distinct docs than this are boilerplate


def line_dedup(documents: DataFrame, df_cap: int = LINE_DF_CAP) -> DataFrame:
    """Line-level boilerplate removal (the CCNet/C4 paragraph-dedup stage:
    headers, footers, nav chrome repeat across a site; body text does not).
    Split each document on newlines, drop every trimmed non-empty line
    whose DISTINCT-document frequency exceeds ``df_cap``, and reassemble
    the survivors in original order.

    Shape: two full-text passes — the theoretical minimum (the hot set
    must exist before any line can be judged) — plus a doc_id-only third
    scan that keeps zero-line documents in the output.  Pass 1 shuffles
    only compact (digest, doc_id) rows into the DF histogram; pass 2
    left-joins the UNHINTED hot-line set (tiny by definition —
    boilerplate repeats; AQE broadcasts it at runtime, same
    no-forced-broadcast rule as the shingle DF cap) and regroups per doc
    ONCE, computing total, kept, and the reassembled text from the same
    flagged rows — folding the kept-filter into the aggregation instead
    of anti-joining first avoids a third scan of the text column.
    """
    lines = (
        documents.select(
            "doc_id", F.posexplode(F.split("text", "\n")).alias("pos", "line")
        )
        .withColumn("line", F.trim("line"))
        .where(F.col("line") != "")
        .withColumn("lh", F.md5("line"))
    )
    hot = (
        lines.groupBy("lh")
        .agg(F.count_distinct("doc_id").alias("df"))
        .where(F.col("df") > df_cap)
        .select("lh", F.lit(True).alias("hot"))
    )
    flagged = lines.join(hot, "lh", "left")
    sorted_lines = F.array_sort(F.collect_list(F.struct("pos", "hot", "line")))
    clean = flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.count(F.when(F.col("hot").isNull(), 1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.filter(sorted_lines, lambda s: s["hot"].isNull()),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text_clean"),
    )
    return (
        documents.select("doc_id")
        .join(clean, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )


def dup_ngram_stats(documents: DataFrame, n: int = 3) -> DataFrame:
    """Cross-document duplication profile — for each document, what
    fraction of its distinct word n-grams appears in at least one OTHER
    document (the corpus-internal measure behind exact-substring dedup
    decisions, à la "Deduplicating Training Data Makes Language Models
    Better": a doc with dup_frac 0.9 is mostly boilerplate/mirror
    content even if no single whole-doc duplicate exists).

    Shape: the (doc_id, digest) shingle frame feeds two consumers — the
    DF histogram and the rollup's join side — and the histogram's
    map-side partial agg de-canonicalizes the subtrees (no ReusedExchange
    possible), so the frame is materialized once (compact ids + 32-char
    digests, never text — the standard cut, see materialize.py); the
    plan-shape test pins the shingle derivation to a single execution.
    A window-count alternative (count over partition by digest) would
    also single-derive but serializes every hot boilerplate shingle
    through one task; groupBy+join keeps AQE's skew handling.  NO pair
    enumeration happens anywhere, which is why this scales where the
    pairwise Jaccard joins need DF-cap blocking."""
    sh = _shingles(documents, n).select("doc_id", F.md5("shingle").alias("sh_h"))
    sh = materialize(sh)
    df_counts = sh.groupBy("sh_h").agg(F.count("*").alias("df"))
    per_doc = (
        sh.join(df_counts, "sh_h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count(F.when(F.col("df") >= 2, 1)).alias("n_dup_shingles"),
        )
    )
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_dup_shingles", F.lit(0)).alias("n_dup_shingles"),
            F.when(F.coalesce("n_shingles", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(F.round(F.col("n_dup_shingles") / F.col("n_shingles"), 6))
            .alias("dup_frac"),
        )
    )


def normalize_for_dedup(col):
    """CCNet-style text normalization for dedup keys: lowercase, strip
    punctuation/symbols to spaces, collapse whitespace, trim.  Catches
    the trivially-mutated mirror copies (case changes, added punctuation,
    reflowed whitespace) that byte-exact hashing misses — applied to the
    KEY only; the stored text is never rewritten.  Pure codegen
    expression chain; the DuckDB oracle mirrors it verbatim (with the
    'g' flag — DuckDB's regexp_replace is first-match by default where
    Spark's is global)."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(col), "[^a-z0-9\\s]+", " "), "\\s+", " "
        )
    )


def normalized_dedup(documents: DataFrame) -> DataFrame:
    """Exact dedup on the NORMALIZED text digest: per normalized-digest
    group, the min-id survivor and member count (the repo-wide
    canonical-survivor convention).  Same single digest-keyed shuffle as
    exact dedup — normalization adds zero data movement."""
    return (
        documents.select(
            F.md5(normalize_for_dedup(F.col("text"))).alias("digest"), "doc_id"
        )
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("first_doc_id"),
            F.count("*").alias("n_docs"),
        )
    )


EDIT_VERIFY_MAX_NORM = 0.3


def edit_verified_pairs(
    documents: DataFrame,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    cap: int = MINHASH_BUCKET_CAP,
    max_norm_dist: float = EDIT_VERIFY_MAX_NORM,
) -> DataFrame:
    """Two-stage near-dup detection, verification stage: exact
    (Levenshtein) edit distance over the BANDED CANDIDATE SET — the
    standard production shape (cheap hash-based recall, expensive exact
    precision only on the bounded candidates; never all-pairs).  Emits
    pairs whose normalized distance (edit_dist / max(len_a, len_b)) is
    within ``max_norm_dist``.

    Scale shape: the candidate set is DF-capped by
    :func:`lsh_candidate_doc_pairs`; the two text joins are doc_id
    equi-joins that move text only for candidate rows.  A length
    prefilter runs before the O(len_a × len_b) Levenshtein:
    ``|len_a − len_b|`` is a lower bound on edit distance, so pairs
    whose length gap alone exceeds the threshold are rejected by two
    ``length()`` calls instead of a DP table — at production doc sizes
    this is the difference between verifying a candidate and burning a
    core on it.  The prefilter compares the ROUNDED ratio, the same
    form as the final filter and the oracle, so it is provably
    result-neutral even at the rounding boundary.

    Portability: the distance runs over an ASCII PROJECTION of the text
    (every non-ASCII code point → '?'): Spark's levenshtein counts code
    points but DuckDB's counts BYTES, so multi-byte characters would
    silently desynchronize the oracle (the same byte-vs-char trap as
    the kernel's blen rule); on the projection byte == char and both
    engines agree.  A '?'-substitution costs exactly one edit either
    way, so distances over the projection differ from true code-point
    distances only where distinct non-ASCII chars map to the same '?'
    — acceptable for a near-dup verdict, and documented."""
    cands = lsh_candidate_doc_pairs(documents, k, bands, cap)
    ascii_proj = F.regexp_replace(F.col("text"), "[^\\x00-\\x7F]", "?")
    ta = documents.select(
        F.col("doc_id").alias("doc_a"), ascii_proj.alias("text_a")
    )
    tb = documents.select(
        F.col("doc_id").alias("doc_b"), ascii_proj.alias("text_b")
    )
    la, lb = F.length("text_a"), F.length("text_b")
    mx = F.greatest(la, lb)
    d = F.levenshtein("text_a", "text_b")
    return (
        cands.join(ta, "doc_a")
        .join(tb, "doc_b")
        .where(F.round(F.abs(la - lb) / mx, 6) <= max_norm_dist)
        .select(
            "doc_a",
            "doc_b",
            "n_shared_bands",
            d.cast("long").alias("edit_dist"),
            F.round(d / mx, 6).alias("norm_dist"),
        )
        .where(F.col("norm_dist") <= max_norm_dist)
    )


SUBSTR_DEDUP_N = 50  # Lee et al.'s 50-token duplicated-span threshold


def substring_dedup(documents: DataFrame, n: int = SUBSTR_DEDUP_N) -> DataFrame:
    """Exact-substring dedup — the remaining big-name production stage
    ("Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2021: remove any ≥50-token span that appears more than once in
    the corpus), rendered shingle-wise so it is a Catalyst program
    instead of a corpus-wide suffix array:

    a token is REMOVED iff it is covered by some n-token shingle that
    occurs ≥ 2 times in the corpus (total occurrences — a within-doc
    repeat counts, exactly as a suffix array would).  Any duplicated
    span of length L ≥ n contributes L−n+1 duplicated shingles whose
    union covers the whole span, so interval union over covering
    shingles IS the greedy span-merge; conversely every removed token
    sits inside a duplicated n-gram.  Output per document: rewritten
    text (kept tokens in original order, space-joined), token counts,
    and the removed fraction.

    Shape — NO pair enumeration anywhere (the reason this scales where
    pairwise joins need blocking):
    1. positioned shingle hashes (doc_id, pos, h): map-side, md5 over
       the token n-gram, materialized ONCE (compact ids + digests —
       the frame feeds the histogram AND the duplicated-starts join,
       and the histogram's partial agg de-canonicalizes subtrees, so
       ReusedExchange can't carry it — same cut as dup_ngram_stats);
    2. occurrence histogram on h (one digest-keyed shuffle, partial
       agg) → duplicated digests;
    3. duplicated start positions: equi-join positioned × duplicated
       digests (hot boilerplate shingles cost O(occurrences), never
       O(occurrences²));
    4. covered positions: explode each start to its n token positions,
       distinct per (doc_id, pos) — bounded by n × duplicated-starts,
       i.e. O(duplicated mass), then one per-doc aggregation;
    5. rewrite JVM-side: tokens never leave the document row — the
       kept-token projection is array_except over positions + transform
       (O(tokens) per doc, whole-row higher-order functions, no Python
       and no second text shuffle).

    Documents with < n tokens produce no shingles and pass through
    unchanged.  Tokenization is the repo-wide whitespace convention
    (textstats.tokens_col); the DuckDB oracle replays every step."""
    positioned = materialize(_positioned_shingles(documents, n))
    dup_h = (
        positioned.groupBy("h")
        .agg(F.count("*").alias("occ"))
        .where(F.col("occ") >= 2)
        .select("h")
    )
    return _substring_rewrite(documents, positioned, dup_h, n)


def _positioned_shingles(documents: DataFrame, n: int) -> DataFrame:
    """(doc_id, pos, h): positioned n-token shingle md5 digests — pure
    map-side (tokenize, slide, hash).  Shared by the whole-corpus
    operator, the persisted-histogram writers, and the delta probe."""
    from .textstats import tokens_col

    toks_df = documents.select(
        "doc_id",
        F.explode(F.array(tokens_col(F.col("text")))).alias("toks"),
    )
    shingle_arr = F.expr(
        f"CASE WHEN size(toks) >= {n} THEN "
        f"transform(sequence(0, size(toks) - {n}), "
        f"i -> concat_ws(' ', slice(toks, i + 1, {n}))) "
        "ELSE array() END"
    )
    return toks_df.select(
        "doc_id", F.posexplode(shingle_arr).alias("pos", "shingle")
    ).select("doc_id", "pos", F.md5("shingle").alias("h"))


def _substring_rewrite(
    documents: DataFrame, positioned: DataFrame, dup_h: DataFrame, n: int
) -> DataFrame:
    """Steps 3-5 of the ExactSubstr pipeline (duplicated starts →
    covered-interval union → JVM-side kept-token rewrite), shared by
    substring_dedup and substring_delta_clean — ``dup_h`` is whatever
    digest set the caller counted as duplicated (whole-corpus histogram
    or index ∪ delta totals)."""
    from .textstats import tokens_col

    starts = positioned.join(dup_h, "h").select("doc_id", "pos")
    covered = (
        starts.select(
            "doc_id", F.explode(F.sequence("pos", F.col("pos") + (n - 1))).alias("p")
        )
        .groupBy("doc_id")
        .agg(F.collect_set("p").alias("cov"))
        .select(
            "doc_id",
            F.array_sort("cov").alias("cov"),
            F.size("cov").alias("n_removed"),
        )
    )
    toks = tokens_col(F.col("text"))
    kept_pos = F.array_except(
        F.sequence(F.lit(0), F.size("toks") - 1), F.coalesce("cov", F.array())
    )
    return (
        documents.select("doc_id", "text")
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            toks.alias("toks"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
            "cov",
        )
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            "n_removed",
            F.round(F.col("n_removed") / F.size("toks"), 6).alias("removed_frac"),
            F.concat_ws(
                " ",
                F.transform(kept_pos, lambda i: F.element_at("toks", i + 1)),
            ).alias("text_clean"),
        )
    )


def _substring_hist(documents: DataFrame, n: int) -> DataFrame:
    """(h, occ): the wave's shingle-occurrence histogram — one
    digest-keyed partial-aggregated shuffle, ~16 B per distinct shingle
    persisted."""
    return (
        _positioned_shingles(documents, n)
        .groupBy("h")
        .agg(F.count("*").alias("occ"))
    )


def write_substring_index(
    documents: DataFrame, path: str, wave=0, n: int = SUBSTR_DEDUP_N
) -> None:
    """Persist the ExactSubstr shingle histogram — the SEVENTH wave-keyed
    index family: cross-wave duplicated passages survive wave-local
    substring cleaning (compose.py documents the gap), so a recurring
    crawl probes each wave against this index instead.  ``wave`` 0 is
    the build; each later wave adds its own segment
    (delete-before-overwrite → retries replay); probes SUM counts across
    segments, so occurrence totals equal the full-recompute histogram.
    Caller contract for a wave: doc_ids disjoint from the index
    (anti-join resume) and ``wave`` stable across retries of the same
    wave — an int, or a job-managed string id (corpus_job's uuid wave
    ids; string ids mix fine with ints, the wave column is never
    semantic).  The shingle size is pinned to the root: a probe or
    append at a different ``n`` hashes different shingles and would
    silently match nothing."""
    from ..fsio import write_wave_segment

    write_wave_segment(
        _substring_hist(documents, n),
        path,
        wave,
        "substring_hist",
        params={"shingle_n": n},
    )


def substring_delta_clean(
    spark,
    delta_documents: DataFrame,
    index_path: str,
    n: int = SUBSTR_DEDUP_N,
) -> DataFrame:
    """Cross-wave ExactSubstr: rewrite the DELTA wave's documents
    removing every token covered by an n-shingle whose occurrence total
    over index ∪ delta is ≥ 2 — row-identical on the delta ids to
    running :func:`substring_dedup` over the whole accumulated corpus
    (the occurrence total per digest is the same sum).  O(delta) in the
    expensive dimension: only the delta is tokenized/hashed; the corpus
    side is the compact persisted histogram, restricted to the delta's
    digests by an UNHINTED join (AQE broadcasts a small delta's digest
    set; a skewed one degrades to a plain digest-keyed shuffle instead
    of a driver-OOM cliff) and then summed across wave segments.
    Refuses an index whose pinned shingle size differs from ``n``
    (read-only check — a probe never writes markers)."""
    from ..fsio import assert_index_param, refuse_mid_compaction

    refuse_mid_compaction(spark, index_path)
    assert_index_param(spark, index_path, "shingle_n", n)
    positioned = materialize(_positioned_shingles(delta_documents, n))
    delta_hist = positioned.groupBy("h").agg(
        F.count("*").alias("occ_delta")
    )
    idx_occ = (
        spark.read.parquet(index_path)
        .select("h", "occ")
        .join(delta_hist.select("h"), "h")
        .groupBy("h")
        .agg(F.sum("occ").alias("occ_idx"))
    )
    dup_h = (
        delta_hist.join(idx_occ, "h", "left")
        .where(
            F.col("occ_delta") + F.coalesce("occ_idx", F.lit(0)) >= 2
        )
        .select("h")
    )
    return _substring_rewrite(delta_documents, positioned, dup_h, n)


BLOOM_K = 4  # independent hash functions
BLOOM_HEX_CHARS = 4  # bit position = first 4 md5 hex chars -> m = 16^4 = 65536


def _bloom_positions(digests: DataFrame, k: int = BLOOM_K) -> DataFrame:
    """(digest) -> one row per (digest, pos): the digest's ``k`` bit
    coordinates in the shared m=65536-bit array.  Positions are
    positional-hex like every sketch in the repo — the first
    BLOOM_HEX_CHARS hex chars of md5('bloom<i>:'||digest), decoded
    identically by the DuckDB oracle."""
    probes = [
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"bloom{i}:"), F.col("digest"))),
                1,
                BLOOM_HEX_CHARS,
            ),
            16,
            10,
        )
        .cast("int")
        .alias(f"p{i}")
        for i in range(k)
    ]
    return digests.select(
        "digest", F.explode(F.array(*probes)).alias("pos")
    )


def _bloom_bits(documents: DataFrame, k: int = BLOOM_K) -> DataFrame:
    """The set-bit table (pos) of a corpus's text-digest Bloom filter —
    ≤ 65536 rows BY CONSTRUCTION regardless of corpus size.  Built from
    the distinct digests; setting a bit twice is the same bit (the OR
    idempotence the index family leans on)."""
    digests = documents.select(F.md5("text").alias("digest")).distinct()
    return _bloom_positions(digests, k).select("pos").distinct()


def write_bloom_index(
    documents: DataFrame, path: str, wave=0, k: int = BLOOM_K
) -> None:
    """Persist the exact-dedup membership Bloom filter — the TENTH
    wave-keyed index family, constant-size like the CMS sketch (≤ 65536
    bit rows per segment, ~0.5 MB) but IDEMPOTENT where CMS is linear:
    bits combine by OR, so waves need NOT cover disjoint documents —
    re-sending an already-indexed wave, or overlapping waves, yields the
    identical filter (at-least-once ingest without the CMS disjointness
    contract).  ``wave`` 0 is the build; each later wave adds its own
    segment, with ``wave`` stable across retries of the same wave.
    Probes union set bits across segments; compaction re-distincts to
    one row per bit.  ``k`` is pinned to the root: a probe at a
    different k tests bit coordinates the index never set and would
    report seen documents as definitely-new (a false NEGATIVE — the one
    error class a Bloom filter must never make)."""
    from ..fsio import write_wave_segment

    write_wave_segment(
        _bloom_bits(documents, k), path, wave, "bloom_bits", params={"bloom_k": k}
    )


def bloom_delta_new_docs(
    spark,
    delta_documents: DataFrame,
    index_path: str,
    k: int = BLOOM_K,
) -> DataFrame:
    """Which delta documents are DEFINITELY NEW vs the accumulated
    history, answered O(delta) from the constant-size persisted filter:
    a doc is possibly_seen iff ALL ``k`` of its digest's bit coordinates
    are set in the index (union of wave segments) — no false negatives
    by construction, false positives bounded by the filter's load.  This
    is the recurring-crawl admission gate that never re-reads history:
    at 100 TB the exact digest table is itself TB-scale, the filter is
    half an MB.

    Only the delta is hashed; the bit table is ≤ 65536 rows BY
    CONSTRUCTION, so its join is a forced broadcast (bounded control
    plane — the anti-join rule for data-dependent hot sets doesn't
    apply).  Returns (doc_id, digest, possibly_seen); pair it with an
    exact check where history is still queryable to MEASURE the
    false-positive rate (the hll exact-yardstick discipline — the gate
    query does exactly that)."""
    from ..fsio import assert_index_param, refuse_mid_compaction

    refuse_mid_compaction(spark, index_path)
    assert_index_param(spark, index_path, "bloom_k", k)
    bits = (
        spark.read.parquet(index_path)
        .select("pos")  # explicit: tolerate the wave partition column
        .distinct()
    )
    delta = delta_documents.select(
        "doc_id", F.md5("text").alias("digest")
    )
    hits = (
        _bloom_positions(delta.select("digest").distinct(), k)
        .join(F.broadcast(bits), "pos")
        .groupBy("digest")
        .agg(F.count("*").alias("n_hit"))
    )
    return delta.join(hits, "digest", "left").select(
        "doc_id",
        "digest",
        (F.coalesce("n_hit", F.lit(0)) == k).alias("possibly_seen"),
    )


def shingle_novelty(
    spark,
    delta_documents: DataFrame,
    index_path: str,
    n: int = SUBSTR_DEDUP_N,
) -> DataFrame:
    """Per-document novelty of a delta wave against the accumulated
    corpus: the fraction of the doc's positional n-token shingle STREAM
    (repeats included — a doc that repeats an already-seen passage is
    that much less novel) whose digest never occurs in the persisted
    ExactSubstr histogram (the ``substring_hist`` family).  The
    crawl-scheduling signal: waves full of near-zero-novelty documents
    are re-crawls feeding nothing new into the training mix.

    O(delta): only the delta is tokenized/hashed; the index side is
    digest-restricted by an UNHINTED join on the delta's distinct
    digests (AQE broadcasts a small delta; a skewed one degrades to a
    digest-keyed shuffle, never a driver-OOM broadcast) — the same
    probe shape as substring_delta_clean.  Docs shorter than ``n``
    tokens carry no shingles and are reported with novel_frac NULL.

    Returns (doc_id, n_shingles, n_seen, novel_frac)."""
    from ..fsio import assert_index_param, refuse_mid_compaction

    refuse_mid_compaction(spark, index_path)
    assert_index_param(spark, index_path, "shingle_n", n)
    positioned = materialize(_positioned_shingles(delta_documents, n))
    seen_h = (
        spark.read.parquet(index_path)
        .select("h")
        .join(positioned.select("h").distinct(), "h")
        .distinct()
        .withColumn("seen", F.lit(1))
    )
    per_doc = (
        positioned.join(seen_h, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.coalesce("seen", F.lit(0))).alias("n_seen"),
        )
    )
    return delta_documents.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
        F.coalesce("n_seen", F.lit(0)).cast("long").alias("n_seen"),
        # explicit NULL for shingle-less docs: Spark's 0/0 is NULL but
        # DuckDB's is NaN — don't leave the boundary to engine defaults
        F.when(F.col("n_shingles") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                (F.col("n_shingles") - F.col("n_seen")) / F.col("n_shingles"), 6
            )
        )
        .alias("novel_frac"),
    )
