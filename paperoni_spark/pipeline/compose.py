"""End-to-end training-data pipeline composition.

The full corpus-build shape: extraction → plain-text flattening →
fingerprint/exact-dedup → quality scoring, all as one lazy DataFrame
program (single mapInPandas stage + Catalyst expressions; the only
shuffle after extraction is the dedup digest aggregation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.extract import run_extract


def extracted_text(extracted: DataFrame) -> DataFrame:
    """Flatten the span sequence into one plain-text column per document
    (text spans joined in order; image spans contribute nothing)."""
    text = F.concat_ws(
        " ",
        F.expr("transform(filter(extracted, s -> s.kind = 'text'), s -> s.text)"),
    )
    return extracted.where(F.col("status") == "ok").select(
        "doc_id",
        text.alias("text"),
        F.col("metadata.title").alias("title"),
        F.size(F.expr("filter(extracted, s -> s.kind = 'image')")).alias("n_images"),
    )


def corpus_build(documents: DataFrame, base_url: str = "http://example.com/") -> DataFrame:
    """extract → flatten → normalize-fingerprint → quality signals."""
    flat = extracted_text(run_extract(documents, base_url))
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return flat.select(
        "doc_id",
        "title",
        "n_images",
        F.md5(normalized).alias("fingerprint"),
        F.length(normalized).alias("n_chars"),
        F.size(toks).alias("n_tokens"),
    )


def build_training_corpus(
    documents: DataFrame,
    base_url: str = "http://example.com/",
    persist: bool = False,
    near_dup: bool = False,
    max_hamming: int | None = None,
    substring_clean: bool = False,
    substring_n: int | None = None,
    model_filter: bool = False,
    model_threshold: float | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame | None]:
    """The full training-data funnel as one lazy program:

    extract → flatten → language guess → quality verdict → exact dedup
    (fingerprint survivors, min-doc_id canonical) → [optional SimHash
    near-dup cluster dedup] → corpus rows.

    Returns ``(corpus, funnel, fingerprints)``: the surviving corpus rows,
    a per-stage reject accounting (what a corpus-build dashboard tracks
    per snapshot), and — when ``near_dup`` hashed the wave — the corpus
    rows' 64-bit (doc_id, simhash) frame, derived from the near-dup
    stage's materialized fingerprints, that a caller can probe an index
    with and append without hashing the text again (None without
    ``near_dup``).
    The quality verdict is attached as a column expression on the flattened
    frame — NOT a self-join back through the extraction UDF — so each
    action runs the kernel exactly once; all stages after the UDF are
    Catalyst expressions and the only shuffles are the fingerprint-survivor
    window and the funnel aggregation.  ``persist=True`` caches the judged
    frame (MEMORY_AND_DISK) so consuming BOTH outputs costs one kernel pass
    total — callers own the unpersist after consuming both outputs
    (corpus_job does).  At cluster
    scale the survivor window shuffles on the fingerprint key — exact
    duplicates co-locate, so skew equals the duplicate multiplicity
    (bounded by crawl frequency, salt if a fixture explodes it).

    ``substring_clean=True`` appends the Lee-et-al. exact-substring
    REWRITE stage after survivor selection (duplicated ≥``substring_n``-
    token spans removed from surviving texts; nothing rejected — the
    ``cleaned:substring_dup`` funnel row counts affected docs).

    ``model_filter=True`` adds the fastText-style model gate after the
    rule verdict (textstats.quality_classifier_scores semantics as a
    map-side fold): rule survivors scoring below ``model_threshold`` (default
    QC_THRESHOLD) get
    ``reject_reason = 'model_quality'`` and flow into the funnel like
    any rule reject.

    ``near_dup=True`` inserts the production near-duplicate stage between
    exact dedup and the sink: 64-bit SimHash pairs (pigeonhole-exact
    banding) → connected components → cluster survivors only, with a
    ``rejected:near_duplicate`` funnel row so the accounting reconciles
    exactly: kept − rejected:duplicate − rejected:near_duplicate ==
    written corpus rows.  The exact-dedup survivor frame is materialized
    first (the cut feeds the edge derivation, the survivor semi-join, and
    the funnel) so the extraction kernel still runs once per action,
    and the fingerprint frame is materialized once for its three
    consumers: the within-wave pairs, an index probe and an index append.
    A text rewrite after it (``substring_clean``) re-hashes the rewritten
    documents (:func:`apply_substring_rewrite`).
    """
    from ..operators.textstats import quality_reject_reason, quality_score_cols

    flat = extracted_text(run_extract(documents, base_url))
    lower = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    lang_guess = F.when(
        lower.contains(" the ") | lower.contains(" and ") | lower.contains(" of "),
        F.lit("en"),
    ).otherwise(F.lit("und"))
    flat = flat.withColumn("lang", lang_guess)

    scored = flat.withColumns(quality_score_cols())
    judged = scored.withColumn("reject_reason", quality_reject_reason())
    if model_filter:
        # model gate AFTER the rules (first failing rule wins, the model
        # verdict only judges rule survivors — one reason per doc keeps
        # the funnel reconciliation exact).  Map-side integer fold: the
        # composed pipeline stays shuffle-free per stage, and the logit
        # equals the standalone operator's bit-for-bit (test-pinned)
        from ..operators.textstats import QC_THRESHOLD, quality_logit_col

        thr = QC_THRESHOLD if model_threshold is None else model_threshold
        judged = judged.withColumn(
            "reject_reason",
            F.coalesce(
                F.col("reject_reason"),
                F.when(
                    quality_logit_col(F.col("text")) < F.lit(thr),
                    F.lit("model_quality"),
                ),
            ),
        )
    if persist:
        from pyspark import StorageLevel

        judged = judged.persist(StorageLevel.MEMORY_AND_DISK)
    kept = judged.where(F.col("reject_reason").isNull())

    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    with_fp = kept.select(
        "doc_id",
        "title",
        "lang",
        "text",
        "n_images",
        F.md5(normalized).alias("fingerprint"),
        "n_tokens",
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    corpus = (
        with_fp.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )

    # funnel reconciliation: 'kept' counts quality survivors PRE-dedup;
    # 'rejected:duplicate' counts the fingerprint-window losers, so
    # kept - rejected:duplicate == written corpus rows exactly.  Both rows
    # come out of ONE scan of judged (a per-row label array exploded into
    # stage rows): a second aggregation branch would re-run the extraction
    # kernel per funnel action when judged is not persisted.  Rejected rows
    # get a unique window key so the fingerprint window stays a no-op for
    # them (kept rows shuffle by fingerprint, same key as the corpus dedup).
    # project to three tiny columns BEFORE the window: the fingerprint
    # shuffle must move (doc_id, reason, 32-hex key), never document text
    dup_key = F.when(
        F.col("reject_reason").isNull(), F.md5(normalized)
    ).otherwise(F.concat(F.lit("r:"), F.col("doc_id").cast("string")))
    funnel_src = judged.select(
        "doc_id", "reject_reason", dup_key.alias("_dup_key")
    )
    dup_w = Window.partitionBy("_dup_key").orderBy("doc_id")
    stage1 = F.when(F.col("reject_reason").isNull(), F.lit("kept")).otherwise(
        F.concat(F.lit("rejected:"), F.col("reject_reason"))
    )
    is_dup = F.col("reject_reason").isNull() & (
        F.row_number().over(dup_w) > 1
    )
    labels = F.concat(
        F.array(F.col("_stage1")),
        F.when(F.col("_is_dup"), F.array(F.lit("rejected:duplicate"))).otherwise(
            F.array().cast("array<string>")
        ),
    )
    funnel = (
        funnel_src.select(stage1.alias("_stage1"), is_dup.alias("_is_dup"))
        .select(F.explode(labels).alias("stage"))
        .groupBy("stage")
        .agg(F.count("*").alias("n_docs"))
    )

    fingerprints = None
    if near_dup:
        from ..materialize import materialize
        from ..operators.dedup import (
            SIMHASH_HAMMING_MAX,
            SIMHASH_PAIR_BITS,
            connected_components,
            simhash,
            simhash_near_dup_pairs_from_sh,
        )

        hamming = SIMHASH_HAMMING_MAX if max_hamming is None else max_hamming
        corpus = materialize(corpus)
        sh = materialize(simhash(corpus, SIMHASH_PAIR_BITS))
        pairs = simhash_near_dup_pairs_from_sh(sh, max_hamming=hamming).select(
            "doc_a", "doc_b"
        )
        clusters = connected_components(corpus.select("doc_id"), pairs)
        survivors = clusters.where(F.col("is_survivor")).select("doc_id")
        corpus = corpus.join(survivors, "doc_id", "semi")
        fingerprints = sh.join(survivors, "doc_id", "semi")
        funnel = funnel.unionByName(
            stage_count(
                "rejected:near_duplicate", clusters.where(~F.col("is_survivor"))
            )
        )

    if substring_clean:
        # Lee-et-al. exact-substring cleaning as a REWRITE stage after
        # survivor selection: duplicated ≥n-token spans are removed from
        # the surviving texts (no document is rejected — the funnel row
        # counts affected docs, and kept − rejected == written still
        # reconciles).  Scope note: the histogram covers THIS build's
        # corpus frame — wave-local in incremental mode; for CROSS-wave
        # span cleaning use corpus_job --substring-index (the persisted
        # histogram probe).  The corpus frame is materialized first so the substring
        # histogram + rewrite never re-run the extraction kernel.
        from ..materialize import materialize
        from ..operators.dedup import SUBSTR_DEDUP_N, substring_dedup

        n = SUBSTR_DEDUP_N if substring_n is None else substring_n
        corpus = materialize(corpus)
        # the rewrite + funnel count both consume the cleaned frame, and
        # the histogram/covered aggregations behind it are NOT covered by
        # substring_dedup's internal cut — materialize the compact result
        # (ids + rewritten text) so neither consumer re-derives it
        cleaned = materialize(
            substring_dedup(corpus.select("doc_id", "text"), n=n).where(
                F.col("n_removed") > 0
            )
        )
        corpus, funnel, fingerprints = apply_substring_rewrite(
            corpus, cleaned, funnel, fingerprints
        )
    return corpus, funnel, fingerprints


def stage_count(stage: str, rows: DataFrame) -> DataFrame:
    """One funnel row, ``(stage, n_docs)``, counting ``rows`` lazily — the
    count runs inside the funnel write, not as an action of its own."""
    return rows.agg(F.count("*").alias("n_docs")).select(
        F.lit(stage).alias("stage"), "n_docs"
    )


def apply_substring_rewrite(
    corpus: DataFrame,
    cleaned: DataFrame,
    funnel: DataFrame,
    fingerprints: DataFrame | None,
) -> tuple[DataFrame, DataFrame, DataFrame | None]:
    """Fold a substring-clean result back into the corpus and account it:
    only ACTUALLY-cleaned docs are rewritten — text_clean is a
    single-space token rejoin, so applying it to n_removed=0 docs would
    collapse their original whitespace, a corpus-wide mutation the
    funnel row wouldn't account for (byte-identity vs the flag-off build
    is test-pinned).  ``cleaned`` is the MATERIALIZED n_removed>0 frame
    (both consumers — rewrite join and funnel count — read it).  Shared
    by the wave-local compose stage and corpus_job's cross-wave
    indexed stage.

    A fingerprint frame computed before the rewrite goes stale for the
    rewritten documents: they are re-hashed from ``text_clean`` (every
    other row keeps its fingerprint).  None passes through."""
    corpus = (
        corpus.join(
            cleaned.select(
                "doc_id",
                F.col("text_clean").alias("_text_clean"),
                F.col("n_removed").alias("_n_removed"),
            ),
            "doc_id",
            "left",
        )
        .withColumn(
            "text",
            F.when(
                F.col("_n_removed").isNotNull(), F.col("_text_clean")
            ).otherwise(F.col("text")),
        )
        .withColumn(
            "n_tokens",
            F.when(
                F.col("_n_removed").isNotNull(),
                F.col("n_tokens") - F.col("_n_removed"),
            ).otherwise(F.col("n_tokens")),
        )
        .drop("_text_clean", "_n_removed")
    )
    funnel = funnel.unionByName(stage_count("cleaned:substring_dup", cleaned))
    if fingerprints is not None:
        from ..operators.dedup import SIMHASH_PAIR_BITS, simhash

        rehashed = simhash(
            cleaned.select("doc_id", F.col("text_clean").alias("text")),
            SIMHASH_PAIR_BITS,
        )
        fingerprints = fingerprints.join(
            cleaned.select("doc_id"), "doc_id", "left_anti"
        ).unionByName(rehashed)
    return corpus, funnel, fingerprints


def dedup_wave_against_index(
    spark,
    corpus: DataFrame,
    fingerprints: DataFrame,
    index_path: str,
    max_hamming: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Incremental corpus build: drop wave documents that near-duplicate
    the EXISTING corpus via the persisted SimHash fingerprint index —
    the corpus side is 16 B/doc, and the wave side is ``fingerprints``,
    the 64-bit (doc_id, simhash) frame of ``corpus``'s rows computed once
    by the caller, so the probe never re-hashes the text
    (operators.dedup.simhash_delta_pairs_from_sh).

    Rejects ONLY vs-corpus pairs (counterpart not a wave doc): within-
    wave duplicates are the funnel's own exact/near-dup stages' job, so
    the two stages compose without double-counting a document.  Returns
    ``(survivors, survivor_fingerprints, rejected_ids, resubmitted_ids)``;
    the caller appends ``survivor_fingerprints``
    (operators.dedup.write_simhash_index) AFTER its sink write
    succeeds, so a failed wave never poisons the index.

    Wave docs whose doc_id is ALREADY in the index are split off up
    front (an ids-only anti-join) and returned as ``resubmitted_ids``:
    a re-submitted or retried wave is an accounted no-op instead of a
    contract violation that pairs a doc with itself and appends
    duplicate ids — the same idempotence rule as extract_job's resume
    anti-join, but visible to the funnel so kept − rejected −
    resubmitted == written still reconciles exactly."""
    from ..materialize import materialize
    from ..operators.dedup import simhash_delta_pairs_from_sh

    index_ids = spark.read.parquet(index_path).select("doc_id")
    resubmitted_ids = corpus.select("doc_id").join(index_ids, "doc_id", "semi")
    corpus = corpus.join(index_ids, "doc_id", "left_anti")
    # the probe's delta: the id filter of the caller's fingerprints, cut
    # once so the probe, the reject anti-join and the caller's index append
    # all read it instead of re-deriving the filter joins
    fingerprints = materialize(
        fingerprints.join(index_ids, "doc_id", "left_anti")
    )
    kwargs = {} if max_hamming is None else {"max_hamming": max_hamming}
    pairs = simhash_delta_pairs_from_sh(
        spark, fingerprints, index_path, delta_materialized=True, **kwargs
    )
    # both orientations of each pair from ONE pass over the probe (a
    # union of two selects plans — and runs — the whole probe twice)
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("wave_id"), F.col("doc_b").alias("other_id")
                ),
                F.struct(
                    F.col("doc_b").alias("wave_id"), F.col("doc_a").alias("other_id")
                ),
            )
        ).alias("o")
    ).select("o.wave_id", "o.other_id")
    rejected_ids = (
        sym.join(
            corpus.select(F.col("doc_id").alias("other_id")),
            "other_id",
            "left_anti",
        )
        .select(F.col("wave_id").alias("doc_id"))
        .distinct()
    )
    return (
        corpus.join(rejected_ids, "doc_id", "left_anti"),
        fingerprints.join(rejected_ids, "doc_id", "left_anti"),
        rejected_ids,
        resubmitted_ids,
    )
