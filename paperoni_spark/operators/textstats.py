"""Text-analysis operators over a flat ``documents(text)`` corpus.

These are the stages of the corpus funnel around the extraction kernel
(compose.build_training_corpus): the rule-based quality signals and
verdict, and the hashed-linear quality model — plus per-document TF-IDF
keywords.  All of them are pure Catalyst expressions (no Python UDFs):
a single scan, map-side computation, and at most a partial-aggregated
``groupBy`` — the plan stays in whole-stage codegen and scales linearly
with input splits at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for")


def tokens_col(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def quality_score_cols() -> dict[str, Column]:
    """The quality-signal expressions over a ``text`` column, by name —
    reusable on any frame carrying ``text`` (see quality_filter and
    compose.build_training_corpus) without a join."""
    text = F.col("text")
    toks = tokens_col(text)
    n_tokens = F.size(toks)
    n_chars = F.length(text)
    punct = n_chars - F.length(F.regexp_replace(text, r"[.,!?;:]", ""))
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    n_stop = F.expr(f"size(filter(split(trim(text), '\\\\s+'), t -> t in ({stop_list})))")
    return {
        "n_chars_m": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": F.round(punct / n_chars, 6),
        "stopword_ratio": F.round(n_stop / n_tokens, 6),
        "mean_token_len": F.round((n_chars - n_tokens + 1) / n_tokens, 4),
    }


def quality_scores(documents: DataFrame) -> DataFrame:
    """Per-document quality signals: length, punctuation ratio, stopword
    ratio, mean token length — the standard cheap quality filters."""
    cols = quality_score_cols()
    return documents.select(
        "doc_id", "lang", *[c.alias(n) for n, c in cols.items()]
    )


# Gopher-style rule thresholds (Rae et al. 2021, §A1.1-style heuristics,
# re-parameterized for this corpus); applied to the ROUNDED quality_scores
# columns so engine comparisons never sit on an unrounded FP boundary
QF_MIN_TOKENS = 50
QF_MAX_TOKENS = 100_000
QF_MIN_MEAN_TOKEN_LEN = 3.0
QF_MAX_MEAN_TOKEN_LEN = 12.0
QF_MAX_PUNCT_RATIO = 0.2
QF_MIN_STOPWORD_RATIO = 0.01  # english-only rule (stoplist is english)


def quality_reject_reason() -> Column:
    """The reject-reason expression over quality_scores' columns — exposed
    separately so pipelines that already carry those columns (or compute
    them inline) can attach the verdict WITHOUT a self-join back through
    their upstream stages (compose.build_training_corpus does this to keep
    the extraction kernel single-pass)."""
    return (
        F.when(F.col("n_tokens") < QF_MIN_TOKENS, F.lit("too_short"))
        .when(F.col("n_tokens") > QF_MAX_TOKENS, F.lit("too_long"))
        .when(
            (F.col("mean_token_len") < QF_MIN_MEAN_TOKEN_LEN)
            | (F.col("mean_token_len") > QF_MAX_MEAN_TOKEN_LEN),
            F.lit("token_len"),
        )
        .when(F.col("punct_ratio") > QF_MAX_PUNCT_RATIO, F.lit("high_punct"))
        .when(
            (F.col("lang") == "en")
            & (F.col("stopword_ratio") < QF_MIN_STOPWORD_RATIO),
            F.lit("low_stopword"),
        )
    )


def quality_filter(documents: DataFrame) -> DataFrame:
    """Rule-based document quality filter with per-rule reject attribution
    (fixed evaluation order — first failing rule wins).  Pure map-side over
    the quality_scores projection; the reject_reason breakdown is what a
    corpus-build dashboard tracks per snapshot."""
    reason = quality_reject_reason()
    return quality_scores(documents).select(
        "doc_id",
        "lang",
        reason.isNull().alias("keep"),
        reason.alias("reject_reason"),
    )


HEAD_VOCAB_K = 4096  # top-K tokens broadcast map-side (K × ~16 B — bounded)


def _head_tail_join(fact, dim, keys, order_by, head_k, finish):
    """The zipf-skew head/tail join split of the TF-IDF scorer:
    natural-text vocabulary keys are zipf-headed ('the' alone is ~5% of
    all join rows), so a plain fact⋈dim equi-join puts the whole head
    through a handful of reducers.  Structurally: the top-``head_k`` dim
    rows under ``order_by`` (K rows exactly — driver memory bounded by
    construction, unlike a frequency cutoff whose set size scales with
    the corpus) broadcast and match map-side; only tail keys — per-key
    fact multiplicity bounded by the K-th head count — take the shuffled
    join against the full dim.  ``finish`` projects each branch to the
    same columns (scoring depends only on dim columns, so branch routing
    cannot change values); the union is the full fact⋈dim result,
    exactly once per fact row."""
    head = dim.orderBy(*order_by).limit(head_k)
    head_branch = finish(fact.join(F.broadcast(head), keys))
    tail_branch = finish(
        fact.join(F.broadcast(head.select(*keys)), keys, "left_anti").join(
            dim, keys
        )
    )
    return head_branch.unionByName(tail_branch)


TFIDF_TOP_K = 5


def tfidf_top_terms(
    documents: DataFrame, top_k: int = TFIDF_TOP_K, head_k: int = HEAD_VOCAB_K
) -> DataFrame:
    """Per-document top-k TF-IDF terms — the standard cheap keyword /
    topic signal over a training corpus (and the inspection tool for
    "what is this cluster about" after semantic dedup).  tfidf =
    tf · log2((N+1)/(df+1)), rounded BEFORE ranking with a term
    tie-break so the ranking is engine-portable.

    Plan shape: the distinct (doc, token, tf) table is aggregated once;
    document frequencies re-aggregate it (vocab-sized result).  The
    df-lookup join takes the head/tail split (:func:`_head_tail_join`):
    the top-K vocabulary broadcasts and matches map-side, tail tokens —
    per-key multiplicity bounded by the K-th head df — shuffle.  The
    window ranks within doc_id, the natural partitioning already in
    place after the per-doc aggregation key."""
    from pyspark.sql.window import Window

    doc_tf = (
        documents.select(
            "doc_id", F.explode(tokens_col(F.col("text"))).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf_dt"))
    )
    doc_tf = materialize(doc_tf)  # feeds df counts + both scoring branches
    dfc = doc_tf.groupBy("tok").agg(F.count("*").alias("df"))
    dfc = materialize(dfc)  # feeds head selection + tail join
    n_docs = documents.agg(F.count("*").alias("n_docs"))
    score_cols = ["doc_id", "tok", "tf_dt", "df"]
    scored_ht = _head_tail_join(
        doc_tf,
        dfc,
        ["tok"],
        [F.col("df").desc(), F.col("tok").asc()],
        head_k,
        lambda df: df.select(*score_cols),
    )
    tfidf = F.round(
        F.col("tf_dt")
        * F.log2((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))),
        6,
    )
    scored = (
        scored_ht.crossJoin(F.broadcast(n_docs))
        .select("doc_id", F.col("tok").alias("term"), tfidf.alias("tfidf"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("doc_id", "term", "tfidf", "rank")
    )


QC_BUCKET_HEX = 4  # 16^4 = 65536 hashed feature buckets
QC_WEIGHT_HEX = 6  # 24-bit unsigned weight field
QC_WEIGHT_MID = 1 << 23  # recentering -> integer weights in [-2^23, 2^23)
QC_THRESHOLD = 0.0  # applied to the ROUNDED logit (repo boundary rule)


def quality_classifier_weight(tok: Column) -> Column:
    """The deterministic stand-in for a trained fastText-style linear
    classifier's weight table (Joulin et al. 2017 — the model CCNet and
    RefinedWeb gate quality with): token -> hashed feature bucket
    (first QC_BUCKET_HEX md5 hex chars: the hashing trick, collisions
    and all) -> a pseudo-random INTEGER weight derived from the bucket
    id by a second md5.  Integer weights are the engine-portability
    move: per-document weight sums are exact long arithmetic —
    order-independent across partitionings and engines — so the only
    FP step is one final division, rounded.  A real deployment swaps
    this expression for a broadcast-joined trained table; every plan
    property (map-side scoring, no shuffle) is unchanged."""
    bucket = F.substring(F.md5(F.concat(F.lit("qt:"), tok)), 1, QC_BUCKET_HEX)
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("qw:"), bucket)), 1, QC_WEIGHT_HEX),
            16,
            10,
        ).cast("long")
        - F.lit(QC_WEIGHT_MID)
    )


def quality_logit_col(text: Column) -> Column:
    """The hashed-linear quality model's logit as a single map-side
    COLUMN EXPRESSION: the mean token weight, as a logit in [-1, 1),
    from an integer array fold over the tokens (exact long sum, so the
    fold order cannot change the value).  compose.build_training_corpus
    attaches it like the rule verdict, never a self-join back through
    the extraction UDF; :func:`quality_classifier_scores` projects it."""
    toks = tokens_col(text)
    wsum = F.aggregate(
        F.transform(toks, lambda t: quality_classifier_weight(t)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return F.round(wsum / (F.size(toks) * F.lit(float(QC_WEIGHT_MID))), 6)


def quality_classifier_scores(
    documents: DataFrame, threshold: float = QC_THRESHOLD
) -> DataFrame:
    """Model-based quality scoring: :func:`quality_logit_col` per
    document and the keep verdict at ``threshold`` — the model-gated
    twin of the rule-based :func:`quality_filter`, and like it a pure
    map-side projection (no shuffle).  A null text has no tokens and so
    no row.

    Returns (doc_id, n_tokens, quality_logit, kept); kept compares the
    ROUNDED logit so engine comparisons never sit on an unrounded FP
    boundary."""
    text = F.col("text")
    logit = quality_logit_col(text)
    return documents.where(text.isNotNull()).select(
        "doc_id",
        F.size(tokens_col(text)).cast("long").alias("n_tokens"),
        logit.alias("quality_logit"),
        (logit >= F.lit(threshold)).alias("kept"),
    )
