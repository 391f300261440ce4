"""Deduplication operators: SimHash, n-gram Jaccard and exact-substring.
Exact dedup is the corpus funnel's fingerprint window
(pipeline/compose.py:build_training_corpus).

Scale notes (designed for ~10^12-row corpora, verified at sf on DuckDB
oracles):

* SimHash is one explode + one 16-way conditional aggregation — one
  doc_id-keyed shuffle of small rows.  Near-dup pairs come from a
  pigeonhole-exact band equi-join over the fingerprints, then connected
  components: the one near-dup path the corpus funnel runs.
* Pairwise Jaccard is block-gated: candidate pairs come from an equi-join
  on shared shingles, never a cross join.

Hashing is engine-portable by construction: md5 hex (identical in Spark and
DuckDB) stands in for integer hashing, and hex chars are decoded
positionally for SimHash bits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize

SIMHASH_BITS = 16


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
    caveat as the funnel's exact dedup covering identical text; the DuckDB
    oracle mirrors banding + cap.  The verify step is one xor+bit_count
    per candidate; only (doc_id, band-key) pairs shuffle."""
    return simhash_near_dup_pairs_from_sh(
        simhash(documents, bits),
        bits=bits,
        max_hamming=max_hamming,
        bands=bands,
        cap=cap,
    )


def _over_cap_bands(bands: DataFrame, cap: int) -> DataFrame:
    """The ``(band, bkey)`` keys of buckets holding more than ``cap``
    rows — the hot set :func:`capped_bands` drops."""
    return (
        bands.groupBy("band", "bkey")
        .agg(F.count("*").alias("n_in_bucket"))
        .where(F.col("n_in_bucket") > cap)
        .select("band", "bkey")
    )


def capped_bands(bands: DataFrame, hot: DataFrame) -> DataFrame:
    """Drop ``(band, bkey)`` rows in the ``hot`` buckets
    (:func:`_over_cap_bands`) via anti-join (extra columns pass through)
    — the SimHash hot-band guard of the pair sweep and the index probe.

    The over-cap set is usually a handful of degenerate buckets, but its
    size scales with corpus diversity, not with the cap — a forced
    broadcast would be a driver-OOM cliff on exactly the boilerplate-heavy
    corpora the cap exists for.  No hint: AQE broadcasts it at runtime
    when it is actually small and falls back to a shuffled anti-join when
    it is not."""
    return bands.join(hot, ["band", "bkey"], "left_anti")


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
    capped = capped_bands(rows, _over_cap_bands(rows, cap))
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
    so nothing per-band is stored.

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
    and over-cap guard counted over index ∪ delta (full-recompute
    semantics) as the whole-corpus :func:`simhash_near_dup_pairs`.
    Caller contract: delta doc_ids are disjoint from the index (the
    pipeline's anti-join resume is the standard way to guarantee it)."""
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
        # hot feeds BOTH anti-joins (probe + target) with different
        # downstream column sets, so nothing below it canonicalizes for
        # ReusedExchange — without this cut each consumer re-scans the
        # whole index for the bucket histogram.  The over-cap key set is
        # tiny by construction.
        hot = materialize(_over_cap_bands(all_rows, cap))
        kept_delta = capped_bands(delta_rows, hot)
        kept_all = capped_bands(all_rows, hot)
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
    ``pairs`` carries (doc_a, doc_b) edges between members of ``nodes``
    — any edge source (callers pass n-gram Jaccard or SimHash Hamming
    pairs).

    Only edge endpoints are labelled: a node without an edge is its own
    cluster.  Each round is min-label propagation over the edges (one
    equi-join + partial-agg shuffle) followed by a POINTER-DOUBLING
    shortcut (``label ← label(label)``, a self-join of the label table):
    plain propagation alone needs O(diameter) rounds — an adversarial
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
    """The propagate+shortcut loop; returns (labels of every node,
    rounds) so the convergence-rate property test can observe round
    counts.

    The fixpoint test runs BEFORE each round: the labels are final iff
    every edge joins equal labels.  A component whose edges all agree
    carries one label; that label is some member's id and never exceeds
    any member's own id, so it is the component minimum.  Before the
    first round every endpoint carries its own id, so the test is a
    filter of the edges (an edgeless graph costs that one check and no
    round).  After a round the test is the next round's propagation
    step: some edge disagrees iff some propagated label moves, since
    min-propagation leaves every label in place exactly when each
    node's label is ≤ all its neighbours' — i.e. when both ends of every
    edge agree.  Converging therefore costs no extra round."""
    from pyspark import StorageLevel

    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).persist(StorageLevel.MEMORY_AND_DISK)

    def propagate(labels: DataFrame) -> DataFrame:
        # (doc_id, cluster, mid): mid is the least label over the node
        # and its neighbours.  It feeds BOTH sides of the shortcut
        # self-join and the fixpoint test — materialize so the edge join
        # + agg runs once.  No cut in the loop is lazy end to end: with
        # AQE on, each materialize call runs its frame's shuffle map
        # stages at once, and only the result stages that write the
        # checkpoint blocks wait for the next action, so a round costs
        # several jobs, not one.
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
        return materialize(
            labels.join(neighbor_min, "doc_id", "left").select(
                "doc_id",
                "cluster",
                F.least(F.col("cluster"), F.coalesce("nmin", "cluster")).alias("mid"),
            )
        )

    # only edge endpoints are labelled, each starting with its own id
    labels = edges.select(F.col("doc_a").alias("doc_id")).distinct().select(
        "doc_id", F.col("doc_id").alias("cluster")
    )
    unsettled = edges.where(F.col("doc_a") != F.col("doc_b"))
    prop = None
    rounds = 0
    try:
        while not unsettled.isEmpty():
            rounds += 1
            if rounds > max_rounds:
                raise RuntimeError(
                    f"connected_components did not converge in {max_rounds} "
                    "rounds — with pointer doubling that bounds components "
                    "at 2^rounds nodes, so this is an oscillation bug, not "
                    "a large graph"
                )
            if prop is None:
                prop = propagate(labels)
            # pointer doubling: label ← label(label).  The shortcut join
            # moves only the label table (id pairs), never the edges.
            shortcut = prop.select(
                F.col("doc_id").alias("mid"), F.col("mid").alias("jump")
            )
            labels = materialize(
                prop.join(shortcut, "mid", "left").select(
                    "doc_id",
                    F.least(F.col("mid"), F.coalesce("jump", "mid")).alias("cluster"),
                )
            )
            prop = propagate(labels)
            unsettled = prop.where(F.col("mid") != F.col("cluster"))
    finally:
        edges.unpersist()
    if rounds == 0:
        return nodes.select("doc_id", F.col("doc_id").alias("cluster")), 0
    return (
        nodes.join(labels, "doc_id", "left").select(
            "doc_id", F.coalesce("cluster", "doc_id").alias("cluster")
        ),
        rounds,
    )


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

    Per-doc sizes are a DIRECT aggregation over blocked — round 2
    derived them from the a<=b self-join's diagonal "for free", but
    physically the pairs/diagonal filter split pushes a.doc_id<b.doc_id
    vs == DOWN into two now-non-identical subtrees, destroying every
    ReusedExchange and re-deriving the whole shingle pipeline per branch
    (13 scans → 9 and 0 → 3 reused exchanges with the direct agg; rows
    identical, measured equal-or-faster at sf0.1).  The direct agg
    shares blocked's exchange with the join sides instead.
    """
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
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
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
       ReusedExchange can't carry it);
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
    """Persist the ExactSubstr shingle histogram — a wave-keyed index
    family: cross-wave duplicated passages survive wave-local
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
    from ..fsio import assert_index_param

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
    from ..fsio import assert_index_param

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
