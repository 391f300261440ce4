"""The training-corpus funnel: ``build_training_corpus``.

Extraction → plain-text flattening → language guess → quality verdict →
exact dedup [→ near-dup clusters, substring cleaning, index probe], as one
lazy DataFrame program: the kernel runs in a single mapInPandas stage,
every later stage is Catalyst expressions and joins that mark a document
with one ``reject_reason`` instead of filtering it, and the funnel counts
come from one aggregation over the marked frame.  ``jobs/corpus_job.py``
runs it per wave.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.extract import run_extract

# the reasons the stages after the quality verdict give, in stage order:
# a document rejected with one of them passed the quality filter ('kept')
DEDUP_REASONS = (
    "duplicate",
    "near_duplicate",
    "already_ingested",
    "near_duplicate_vs_corpus",
)


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


def _text_fingerprint() -> Column:
    """The exact-dedup key of ``text``: md5 of the case-folded, trimmed,
    whitespace-collapsed text."""
    return F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))


def build_training_corpus(
    documents: DataFrame,
    base_url: str = "http://example.com/",
    near_dup: bool = False,
    max_hamming: int | None = None,
    substring_clean: bool = False,
    substring_n: int | None = None,
    model_filter: bool = False,
    model_threshold: float | None = None,
    dedup_index: str | None = None,
    substring_index: str | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The full training-data funnel as one lazy program: extract →
    flatten → language guess → quality verdict [→ model gate] → exact
    dedup (min-doc_id canonical per fingerprint) [→ SimHash near-dup
    clusters] [→ exact-substring cleaning] [→ SimHash index probe].

    Every stage MARKS a document instead of filtering it: each extracted
    document carries one ``reject_reason`` (the first stage to reject it
    wins; a later stage sees only documents whose reason is still null)
    and a ``cleaned`` flag.  The marked frame is cut once, and the three
    outputs ``(corpus, funnel, fingerprints)`` derive from that cut:

    * ``corpus`` — the rows with a null reason;
    * ``funnel`` — ``(stage, n_docs)`` from ONE ``groupBy(stage)``:
      ``kept`` (quality survivors), ``rejected:<reason>`` and
      ``cleaned:substring_dup``, so kept − Σ rejected:<dedup reason> ==
      written rows by construction.  A configured stage after exact
      dedup reports its row even at 0, from a ``spark.range`` row — a
      frame built from Python rows would start Python workers;
    * ``fingerprints`` — the written rows' 64-bit (doc_id, simhash)
      frame, lazy, for the caller's index append.  The near-dup stage's
      materialized fingerprints are reused (rewritten docs re-hashed),
      so a wave is hashed once.

    The quality verdict is a column expression, not a self-join through
    the extraction UDF, and the frame is cut right after exact dedup, so
    the kernel runs once.  The dedup window shuffles on the fingerprint:
    skew equals the duplicate multiplicity (salt if a fixture explodes
    it).

    ``model_filter``: rule survivors whose map-side model logit is below
    ``model_threshold`` (default QC_THRESHOLD) get ``model_quality``.
    ``near_dup``: SimHash pairs within ``max_hamming`` bits (default
    SIMHASH_HAMMING_MAX; pigeonhole-exact banding) → connected
    components → non-survivors get ``near_duplicate``.
    ``substring_clean``: the Lee-et-al. REWRITE — duplicated
    ≥``substring_n``-token spans leave the live texts, nothing is
    rejected; the histogram covers the wave, or index ∪ wave with
    ``substring_index`` (a shingle-histogram root with committed waves).
    ``dedup_index`` (a SimHash index root with committed waves): live
    docs already indexed get ``already_ingested``, those near an indexed
    doc ``near_duplicate_vs_corpus`` (:func:`dedup_wave_against_index`).
    The probe runs after cleaning: the index holds the fingerprints of
    WRITTEN text, and probing raw text would shift near-dups by the
    removed mass and admit documents the index should reject."""
    from pyspark.sql.window import Window

    from ..materialize import materialize
    from ..operators.dedup import SIMHASH_PAIR_BITS, simhash
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
        # composed pipeline stays shuffle-free per stage, and the
        # standalone quality_classifier_scores projects the same logit
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

    # exact dedup: every fingerprint-window loser among the quality
    # survivors is a 'duplicate'.  Project BEFORE the window so the
    # fingerprint shuffle moves the corpus columns, never the quality
    # scores; rejected rows get a unique key so the window is a no-op
    # for them
    reason = F.col("reject_reason")
    marked = judged.select(
        "doc_id",
        "title",
        "lang",
        "text",
        "n_images",
        _text_fingerprint().alias("fingerprint"),
        "n_tokens",
        "reject_reason",
        F.lit(False).alias("cleaned"),
    )
    dup_key = F.when(reason.isNull(), F.col("fingerprint")).otherwise(
        F.concat(F.lit("r:"), F.col("doc_id").cast("string"))
    )
    loser = F.row_number().over(Window.partitionBy(dup_key).orderBy("doc_id")) > 1
    marked = materialize(
        marked.withColumn(
            "reject_reason",
            F.when(reason.isNull() & loser, F.lit("duplicate")).otherwise(reason),
        )
    )
    exact_cut = marked

    def live() -> DataFrame:
        return marked.where(reason.isNull())

    spark = documents.sparkSession
    reported = []  # stages the funnel reports even when no doc reaches them
    fingerprints = None
    if near_dup:
        from ..operators.dedup import (
            SIMHASH_HAMMING_MAX,
            connected_components,
            simhash_near_dup_pairs_from_sh,
        )

        hamming = SIMHASH_HAMMING_MAX if max_hamming is None else max_hamming
        fingerprints = materialize(simhash(live(), SIMHASH_PAIR_BITS))
        pairs = simhash_near_dup_pairs_from_sh(
            fingerprints, max_hamming=hamming
        ).select("doc_a", "doc_b")
        clusters = connected_components(live().select("doc_id"), pairs)
        marked = _mark(
            marked,
            clusters.where(~F.col("is_survivor")).select(
                "doc_id", F.lit("near_duplicate").alias("_reason")
            ),
        )
        reported.append("rejected:near_duplicate")

    if substring_clean:
        from ..operators.dedup import (
            SUBSTR_DEDUP_N,
            substring_dedup,
            substring_delta_clean,
        )

        n = SUBSTR_DEDUP_N if substring_n is None else substring_n
        texts = live().select("doc_id", "text")
        if substring_index is None:
            cleaning = substring_dedup(texts, n=n)
        else:
            cleaning = substring_delta_clean(spark, texts, substring_index, n=n)
        # only ACTUALLY-cleaned docs are rewritten: text_clean is a
        # single-space token rejoin, so applying it to n_removed=0 docs
        # would collapse their original whitespace (byte-identity vs the
        # flag-off build is test-pinned).  The cleaned set is cut: the
        # rewrite join and the re-hash both read it
        cleaned = materialize(
            cleaning.where(F.col("n_removed") > 0).select(
                "doc_id", "text_clean", "n_removed"
            )
        )
        hit = F.col("n_removed").isNotNull()
        marked = (
            marked.join(cleaned, "doc_id", "left")
            .withColumns(
                {
                    "text": F.when(hit, F.col("text_clean")).otherwise(F.col("text")),
                    "n_tokens": F.when(
                        hit, F.col("n_tokens") - F.col("n_removed")
                    ).otherwise(F.col("n_tokens")),
                    "cleaned": hit,
                }
            )
            .drop("text_clean", "n_removed")
        )
        if fingerprints is not None:
            # a rewritten doc's fingerprint is stale: re-hash it, so the
            # index never desyncs from the written text
            fingerprints = fingerprints.join(
                cleaned.select("doc_id"), "doc_id", "left_anti"
            ).unionByName(
                simhash(
                    cleaned.select("doc_id", F.col("text_clean").alias("text")),
                    SIMHASH_PAIR_BITS,
                )
            )
        reported.append("cleaned:substring_dup")

    if dedup_index is not None:
        # the wave docs' fingerprints, cut once: the probe and the index
        # segment both read them
        fingerprints = materialize(
            simhash(live(), SIMHASH_PAIR_BITS)
            if fingerprints is None
            else fingerprints.join(live().select("doc_id"), "doc_id", "semi")
        )
        rejected, resubmitted = dedup_wave_against_index(
            spark, fingerprints, dedup_index, max_hamming=max_hamming
        )
        marked = _mark(
            marked,
            resubmitted.select(
                "doc_id", F.lit("already_ingested").alias("_reason")
            ).unionByName(
                rejected.select(
                    "doc_id", F.lit("near_duplicate_vs_corpus").alias("_reason")
                )
            ),
        )
        reported += ["rejected:near_duplicate_vs_corpus", "rejected:already_ingested"]

    # the one cut every output reads (the exact-dedup cut already is one
    # when no later stage marked anything)
    if marked is not exact_cut:
        marked = materialize(marked)
    corpus = live().select(
        "doc_id", "title", "lang", "text", "n_images", "fingerprint", "n_tokens"
    )
    if fingerprints is None:
        fingerprints = simhash(corpus, SIMHASH_PAIR_BITS)
    else:
        fingerprints = fingerprints.join(corpus.select("doc_id"), "doc_id", "semi")

    kept = reason.isNull() | reason.isin(*DEDUP_REASONS)
    labels = F.array_compact(
        F.array(
            F.when(kept, F.lit("kept")),
            F.when(reason.isNotNull(), F.concat(F.lit("rejected:"), reason)),
            F.when(F.col("cleaned"), F.lit("cleaned:substring_dup")),
        )
    )
    counted = marked.select(F.explode(labels).alias("stage"), F.lit(1).alias("_n"))
    if reported:
        counted = counted.unionByName(
            spark.range(1).select(
                F.explode(F.array(*map(F.lit, reported))).alias("stage"),
                F.lit(None).cast("int").alias("_n"),
            )
        )
    funnel = counted.groupBy("stage").agg(F.count("_n").alias("n_docs"))
    return corpus, funnel, fingerprints


def _mark(marked: DataFrame, reasons: DataFrame) -> DataFrame:
    """Give each doc of ``reasons`` (doc_id, _reason) its ``_reason``
    unless an earlier stage already rejected it."""
    return (
        marked.join(reasons, "doc_id", "left")
        .withColumn("reject_reason", F.coalesce("reject_reason", "_reason"))
        .drop("_reason")
    )


def dedup_wave_against_index(
    spark,
    fingerprints: DataFrame,
    index_path: str,
    max_hamming: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental corpus build: find the wave documents that near-
    duplicate the EXISTING corpus via the persisted SimHash fingerprint
    index — the corpus side is 16 B/doc, and the wave side is
    ``fingerprints``, the 64-bit (doc_id, simhash) frame of exactly the
    wave's documents, hashed once by the caller, so the probe never
    re-hashes the text (operators.dedup.simhash_delta_pairs_from_sh).

    Returns ``(rejected_ids, resubmitted_ids)``.  Wave docs whose doc_id
    is ALREADY in the index are split off up front (an ids-only
    anti-join) as ``resubmitted_ids``: a re-submitted or retried wave is
    an accounted no-op instead of a contract violation that pairs a doc
    with itself — the same idempotence rule as extract_job's resume
    anti-join.  ``rejected_ids`` are the remaining wave docs with a
    vs-corpus pair (counterpart not a wave doc): within-wave duplicates
    are the funnel's own exact/near-dup stages' job, so the stages
    compose without double-counting a document.  The caller appends the
    written rows' fingerprints (operators.dedup.write_simhash_index)
    AFTER its sink write succeeds, so a failed wave never poisons the
    index."""
    from ..materialize import materialize
    from ..operators.dedup import simhash_delta_pairs_from_sh

    index_ids = spark.read.parquet(index_path).select("doc_id")
    resubmitted_ids = fingerprints.select("doc_id").join(index_ids, "doc_id", "semi")
    # the probe's delta, cut once so the probe and the counterpart
    # anti-join both read it instead of re-deriving the filter join
    delta = materialize(fingerprints.join(index_ids, "doc_id", "left_anti"))
    kwargs = {} if max_hamming is None else {"max_hamming": max_hamming}
    pairs = simhash_delta_pairs_from_sh(
        spark, delta, index_path, delta_materialized=True, **kwargs
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
            delta.select(F.col("doc_id").alias("other_id")),
            "other_id",
            "left_anti",
        )
        .select(F.col("wave_id").alias("doc_id"))
        .distinct()
    )
    return rejected_ids, resubmitted_ids
