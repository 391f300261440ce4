"""Text-analysis operators over a flat ``documents(text)`` corpus.

These are the pipeline-adjacent operators a large-scale training-data build
needs around the extraction kernel: token counting, quality scoring,
language-ID heuristics, and document fingerprinting.  All of them are pure
Catalyst expressions (no Python UDFs): a single scan, map-side computation,
and one partial-aggregated ``groupBy`` — the plan stays in whole-stage
codegen and scales linearly with input splits at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for")


def tokens_col(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def token_stats(documents: DataFrame) -> DataFrame:
    """Per-language token counts (whitespace tokenization)."""
    toks = F.size(tokens_col(F.col("text")))
    return (
        documents.select("lang", toks.alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("doc_count"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        )
    )


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


def lang_id(documents: DataFrame) -> DataFrame:
    """Stopword-presence language-ID heuristic; confusion counts against the
    corpus's labeled ``lang`` column."""
    lower = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    guess = (
        F.when(
            lower.contains(" the ") | lower.contains(" and ") | lower.contains(" of "),
            F.lit("en"),
        )
        .otherwise(F.lit("und"))
    )
    return (
        documents.select("lang", guess.alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .count()
        .withColumnRenamed("count", "n_docs")
    )


HEAD_VOCAB_K = 4096  # top-K tokens broadcast map-side (K × ~16 B — bounded)


LANG_PROFILES = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "den", "von"),
    "en": STOPWORDS,
    "es": ("el", "los", "las", "una", "es", "que", "por", "con", "del", "se"),
    "fr": ("le", "les", "des", "est", "une", "pas", "dans", "qui", "du", "au"),
}


def lang_id_profile(documents: DataFrame) -> DataFrame:
    """Stopword-profile language ID: score each document against every
    language's stopword list (count of matching tokens) and take the
    argmax; all-zero scores → 'und'.  Ties break to the alphabetically
    first language (deterministic, engine-portable).

    Plan: the text tokenizes ONCE (tokens_col — the single source of truth
    the oracles mirror — materialized behind a Generate barrier, same
    anti-projection-collapse trick as dedup._shingles; without it Catalyst
    inlines split() into every per-language filter), then one map-side
    ``filter``-count per language over the shared array, argmax via
    ``greatest`` on (score, reverse-rank) structs — no per-row Python, no
    shuffle beyond the final confusion-count partial agg.  The profile
    lists are engine constants, mirrored verbatim in the DuckDB oracle."""
    toks_df = documents.select(
        "lang", F.explode(F.array(tokens_col(F.col("text")))).alias("toks")
    )
    langs = sorted(LANG_PROFILES)  # alphabetical; first wins ties
    structs = []
    for i, lang in enumerate(langs):
        stop_list = ", ".join(f"'{w}'" for w in LANG_PROFILES[lang])
        score = F.expr(f"size(filter(toks, t -> t in ({stop_list})))")
        structs.append(
            F.struct(
                score.alias("score"),
                F.lit(len(langs) - i).alias("rk"),  # alpha-first = highest
                F.lit(lang).alias("lang"),
            )
        )
    best = F.greatest(*structs)
    guess = F.when(best["score"] == 0, F.lit("und")).otherwise(best["lang"])
    return (
        toks_df.select("lang", guess.alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count("*").alias("n_docs"))
    )



def _head_tail_join(fact, dim, keys, order_by, head_k, finish):
    """The zipf-skew head/tail join split shared by the corpus-LM and
    TF-IDF scorers: natural-text vocabulary keys are zipf-headed ('the'
    alone is ~5% of all join rows), so a plain fact⋈dim equi-join puts
    the whole head through a handful of reducers.  Structurally: the
    top-``head_k`` dim rows under ``order_by`` (K rows exactly — driver
    memory bounded by construction, unlike a frequency cutoff whose set
    size scales with the corpus) broadcast and match map-side; only tail
    keys — per-key fact multiplicity bounded by the K-th head count —
    take the shuffled join against the full dim.  ``finish`` projects
    each branch to the same columns (scoring depends only on dim
    columns, so branch routing cannot change values); the union is the
    full fact⋈dim result, exactly once per fact row."""
    head = dim.orderBy(*order_by).limit(head_k)
    head_branch = finish(fact.join(F.broadcast(head), keys))
    tail_branch = finish(
        fact.join(F.broadcast(head.select(*keys)), keys, "left_anti").join(
            dim, keys
        )
    )
    return head_branch.unionByName(tail_branch)


def unigram_logprob(
    documents: DataFrame, head_k: int = HEAD_VOCAB_K
) -> DataFrame:
    """Corpus-LM document scoring (the CCNet-style perplexity proxy): each
    document's mean log2 probability of its tokens under the corpus's own
    unigram distribution.  Low scores flag out-of-distribution documents
    (wrong language, gibberish, boilerplate soup).

    Plan shape: tokenize ONCE into per-document term frequencies (doc_id,
    tok, tf_dt); corpus counts re-aggregate that table (partial-agg absorbs
    the hot keys map-side), and the vocab join runs over distinct
    (doc, token) pairs — several-fold fewer rows than per-instance joins on
    natural text.  The vocab key is zipf-headed: 'the' alone is ~5% of all
    join rows, so a plain equi-join puts the whole head through a handful
    of reducers.  The head/tail split fixes that structurally: the top-K
    head vocabulary (K tokens exactly — driver memory bounded by
    construction, unlike a frequency cutoff whose set size scales with the
    corpus) broadcasts and matches map-side; only tail tokens — bounded
    per-key frequency by the K-th head count — take the shuffled join.
    Per-token lp depends only on (tf, total), so the branch routing cannot
    change values.  The per-doc mean is the tf-weighted average.  Rounded
    for engine portability."""
    doc_tf = (
        documents.select(
            "doc_id", F.explode(tokens_col(F.col("text"))).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf_dt"))
    )
    # doc_tf fans out to FIVE consumers (head/tail joins, counts → total/
    # head/tail); without materialization Catalyst re-derives it per branch
    # — seven scans of the corpus (measured).  localCheckpoint computes the
    # tokenize+agg once and truncates lineage; the blocks are executor-local
    # MEMORY_AND_DISK and the ContextCleaner reclaims them when the frame is
    # GC'd, so the lazy-operator contract keeps no explicit unpersist hook
    # (same recipe as dedup.dedup_clusters' per-round labels).
    doc_tf = materialize(doc_tf)
    # counts likewise feeds total + head + tail — checkpoint the (vocab-
    # sized, far smaller) aggregate so the tok shuffle runs once, not 3×
    counts = doc_tf.groupBy("tok").agg(F.sum("tf_dt").alias("tf"))
    counts = materialize(counts)
    total = counts.agg(F.sum("tf").alias("total"))  # one-row, broadcast
    lp_cols = [
        "doc_id",
        "tf_dt",
        (F.log2(F.col("tf")) - F.log2(F.col("total"))).alias("lp"),
    ]
    scored = _head_tail_join(
        doc_tf,
        counts,
        ["tok"],
        [F.col("tf").desc(), F.col("tok").asc()],
        head_k,
        lambda df: df.crossJoin(F.broadcast(total)).select(*lp_cols),
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("tf_dt").cast("long").alias("n_tokens"),
            F.round(
                F.sum(F.col("tf_dt") * F.col("lp")) / F.sum("tf_dt"), 6
            ).alias("avg_log2_prob"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "avg_log2_prob",
            F.round(F.pow(F.lit(2.0), -F.col("avg_log2_prob")), 4).alias("perplexity"),
        )
    )


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
    df-lookup join takes the same head/tail split as unigram_logprob:
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


BIGRAM_LAMBDA = 0.7  # weight on the conditional bigram term
BIGRAM_LAMBDA_C = 0.3  # explicit literal (NOT 1-λ: a computed complement
# would embed 0.30000000000000004 and desynchronize the oracle's 0.3)


def bigram_logprob(
    documents: DataFrame, head_k: int = HEAD_VOCAB_K
) -> DataFrame:
    """Interpolated bigram-LM document scoring — the next LM order up
    from :func:`unigram_logprob` (the CCNet-style wiki-LM perplexity
    filter uses exactly this shape of n-gram model): each document's
    mean log2 of λ·p(w₂|w₁) + (1−λ)·p(w₂), probabilities from the
    corpus's own counts.  Conditional mass p(w₂|w₁) = c(w₁w₂)/c(w₁·)
    where c(w₁·) counts w₁ occurrences WITH a successor (the bigram
    table's own row sums — exactly normalizing, no off-by-the-last-token
    drift); the unigram backoff keeps unseen-bigram probability nonzero
    so the log never hits -inf.

    Plan shape mirrors unigram_logprob's, one order up: bigrams are
    built JVM-side by zipping the token array with its own tail (no
    positional self-join), aggregated once into distinct
    (doc, w₁, w₂, tf) rows; per-BIGRAM log-probabilities are computed on
    the corpus-level distinct-bigram table (vocab²-bounded — every join
    there has per-key multiplicity ≤ vocab, not corpus-sized), and the
    per-doc join takes the head/tail split: the top-K bigrams broadcast
    and match map-side, only tail bigrams shuffle (per-key frequency
    bounded by the K-th head count).  lp depends only on the count
    columns, so branch routing cannot change values."""
    toks = tokens_col(F.col("text"))
    tail_len = F.size(toks) - 1
    bg_structs = F.zip_with(
        F.slice(toks, 1, tail_len),
        F.slice(toks, 2, tail_len),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    base = documents.where(F.size(toks) >= 2)
    bg_dt = (
        base.select("doc_id", F.explode(bg_structs).alias("bg"))
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").alias("tf_dt"))
    )
    # bg_dt feeds the corpus bigram counts plus both scoring branches —
    # same multi-consumer cut as unigram_logprob's doc_tf
    bg_dt = materialize(bg_dt)
    bgc = bg_dt.groupBy("w1", "w2").agg(F.sum("tf_dt").alias("bf"))
    bgc = materialize(bgc)  # feeds first-counts + the lp table
    first_counts = bgc.groupBy("w1").agg(F.sum("bf").alias("ff"))
    uni = (
        base.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("uf"))
    )
    uni = materialize(uni)  # feeds total + the lp join
    total = uni.agg(F.sum("uf").alias("total"))
    lp = F.log2(
        F.lit(BIGRAM_LAMBDA) * (F.col("bf") / F.col("ff"))
        + F.lit(BIGRAM_LAMBDA_C) * (F.col("uf") / F.col("total"))
    ).alias("lp")
    blp = (
        bgc.join(first_counts, "w1")
        .join(uni, F.col("w2") == F.col("tok"))
        .crossJoin(F.broadcast(total))
        .select("w1", "w2", "bf", lp)
    )
    # blp feeds head selection + head branch + tail branch
    blp = materialize(blp)
    score_cols = ["doc_id", "tf_dt", "lp"]
    scored = _head_tail_join(
        bg_dt,
        blp,
        ["w1", "w2"],
        [F.col("bf").desc(), F.col("w1").asc(), F.col("w2").asc()],
        head_k,
        lambda df: df.select(*score_cols),
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("tf_dt").cast("long").alias("n_bigrams"),
            F.round(
                F.sum(F.col("tf_dt") * F.col("lp")) / F.sum("tf_dt"), 6
            ).alias("avg_log2_prob"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "avg_log2_prob",
            F.round(F.pow(F.lit(2.0), -F.col("avg_log2_prob")), 4).alias("perplexity"),
        )
    )


def source_kl_divergence(
    documents: DataFrame, head_k: int = HEAD_VOCAB_K
) -> DataFrame:
    """Per-source distribution drift: KL(p_source ‖ p_corpus) in bits
    over the unigram token distributions — the RefinedWeb/CCNet-style
    source-quality rollup (a crawl slice whose vocabulary diverges from
    the corpus is boilerplate, spam, or another language; rank sources
    by kl_bits before sampling).  Per-token contribution is computed as
    log DIFFERENCES (log2(tf_st)−log2(ts) − (log2(tf)−log2(total))) in
    both engines — a ratio-of-ratios form would associate differently
    and can flip the 6-decimal rounding.

    Plan shape: one tokenize into the (source, tok, tf_st) frequency
    table (materialized: feeds the per-source totals, the corpus counts,
    and both join branches); corpus counts re-aggregate it (vocab-sized,
    partial-agg absorbs hot keys map-side).  The df-lookup join takes
    the shared zipf head/tail split (:func:`_head_tail_join`); the
    per-source totals join is a BROADCAST keyed null-safely on source
    (source cardinality is tiny; a column-list join would drop the
    NULL-source stratum dirty crawls carry — the source_cap_sample
    rule)."""
    st = (
        documents.select(
            "source", F.explode(tokens_col(F.col("text"))).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count("*").alias("tf_st"))
    )
    st = materialize(st)
    counts = st.groupBy("tok").agg(F.sum("tf_st").alias("tf"))
    counts = materialize(counts)  # feeds head + tail + total
    total = counts.agg(F.sum("tf").alias("total"))
    ts = st.groupBy("source").agg(F.sum("tf_st").alias("ts")).withColumnRenamed(
        "source", "_src"
    )
    lp_cols = [
        "source",
        "tf_st",
        (F.log2(F.col("tf")) - F.log2(F.col("total"))).alias("lp_c"),
    ]
    scored = _head_tail_join(
        st,
        counts,
        ["tok"],
        [F.col("tf").desc(), F.col("tok").asc()],
        head_k,
        lambda df: df.crossJoin(F.broadcast(total)).select(*lp_cols),
    )
    term = F.col("tf_st") * (
        (F.log2(F.col("tf_st")) - F.log2(F.col("ts"))) - F.col("lp_c")
    )
    return (
        scored.join(
            F.broadcast(ts), F.col("source").eqNullSafe(F.col("_src"))
        )
        .select("source", "tf_st", term.alias("term"))
        .groupBy("source")
        .agg(
            F.sum("tf_st").cast("long").alias("n_tokens"),
            F.round(F.sum("term") / F.sum("tf_st"), 6).alias("kl_bits"),
        )
    )


PPL_BUCKET_NAMES = ("head", "middle", "tail")


def perplexity_buckets(
    documents: DataFrame, head_k: int = HEAD_VOCAB_K
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020, §3.3): rank
    each language's documents by their corpus-LM score
    (:func:`unigram_logprob` — the same perplexity proxy the LM family
    shares) and split the stratum into equal head / middle / tail
    thirds, best-scoring first.  Downstream mixes sample the head
    harder; the tail is the gibberish/boilerplate shelf.

    Buckets come from exact per-language ranks, computed scalably: a
    whole-stratum ``row_number`` window would put all of English through
    ONE task, so the rank is two-phase like token_budget_sample — but
    the ordering key here is the score itself, not a uniform hash, so
    the sub-range key is the score's integer log2 BAND (floor of
    avg_log2_prob): (1) per-(lang, band) counts — a summary bounded by
    the score RANGE, not the corpus — window into running offsets;
    (2) rank only within (lang, band) and add the offset.  Band order
    refines score order (equal scores share a band), so ranks are
    identical to the single-window plan.  The bucket index is INTEGER
    arithmetic — ``(rk-1)*3 div n`` — never an FP division whose
    rounding could flip a boundary doc between engines.  The lang joins
    are null-safe and UNHINTED (lang cardinality is unbounded on dirty
    data; AQE broadcasts the runtime-small case — the source_cap rule).

    Returns (doc_id, lang, avg_log2_prob, ppl_bucket)."""
    from pyspark.sql.window import Window

    lp = unigram_logprob(documents, head_k).select("doc_id", "avg_log2_prob")
    scored = lp.join(documents.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "lang",
        "avg_log2_prob",
        F.floor("avg_log2_prob").cast("int").alias("band"),
    )
    # feeds the band histogram, the stratum totals, and the data-side
    # window — materialize so the LM scoring pipeline runs once
    scored = materialize(scored)
    band_w = (
        Window.partitionBy("lang")
        .orderBy(F.col("band").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        scored.groupBy("lang", "band")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("lang").alias("o_lang"),
            F.col("band").alias("o_band"),
            F.coalesce(F.sum("cnt").over(band_w), F.lit(0)).alias("offset"),
        )
    )
    totals = scored.groupBy("lang").agg(F.count("*").alias("n_docs")).select(
        F.col("lang").alias("t_lang"), "n_docs"
    )
    w = Window.partitionBy("lang", "band").orderBy(
        F.col("avg_log2_prob").desc(), F.col("doc_id").asc()
    )
    bucket_idx = F.expr("(rk - 1) * 3 div n_docs")
    bucket = (
        F.when(bucket_idx == 0, F.lit(PPL_BUCKET_NAMES[0]))
        .when(bucket_idx == 1, F.lit(PPL_BUCKET_NAMES[1]))
        .otherwise(F.lit(PPL_BUCKET_NAMES[2]))
    )
    return (
        scored.join(
            offsets,
            scored["lang"].eqNullSafe(offsets["o_lang"])
            & (scored["band"] == offsets["o_band"]),
        )
        .withColumn("rk", F.col("offset") + F.row_number().over(w))
        .join(totals, F.col("lang").eqNullSafe(F.col("t_lang")))
        .select("doc_id", "lang", "avg_log2_prob", bucket.alias("ppl_bucket"))
    )


CMS_DEPTH = 4  # independent hash rows
CMS_HEX_CHARS = 3  # bucket = first 3 md5 hex chars -> width 16^3 = 4096
CMS_TOP_K = 20


def _cms_hashed(counts: DataFrame, depth: int) -> DataFrame:
    """(tok, tf) vocabulary counts -> one row per (tok, tf, d, bucket):
    the token's counter coordinates in every sketch row.  Bucket hashing
    is positional — the first CMS_HEX_CHARS hex chars of
    md5('cms<d>:'||token) — decoded identically in the DuckDB oracles."""
    probes = [
        F.struct(
            F.lit(d).alias("d"),
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"cms{d}:"), F.col("tok"))),
                    1,
                    CMS_HEX_CHARS,
                ),
                16,
                10,
            )
            .cast("int")
            .alias("bucket"),
        )
        for d in range(depth)
    ]
    return counts.select(
        "tok", "tf", F.explode(F.array(*probes)).alias("h")
    ).select("tok", "tf", F.col("h.d").alias("d"), F.col("h.bucket").alias("bucket"))


def _cms_sketch(documents: DataFrame, depth: int) -> DataFrame:
    """The depth×4096 counter table (d, bucket, cnt) over a corpus's
    whitespace tokens.  Built from the ALREADY-AGGREGATED vocabulary
    counts, not the raw token stream — summing per-token totals into a
    bucket is arithmetically identical to counting the stream into it,
    so the counters match a streaming build exactly while the heavy
    zipf head is absorbed by the count shuffle's map-side partial agg."""
    counts = (
        documents.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("tf"))
    )
    return _cms_hashed(counts, depth).groupBy("d", "bucket").agg(
        F.sum("tf").alias("cnt")
    )


def cms_heavy_hitters(
    documents: DataFrame, depth: int = CMS_DEPTH, top_k: int = CMS_TOP_K
) -> DataFrame:
    """Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005):
    estimate every token's frequency from a depth×4096 counter array —
    the CONSTANT-MEMORY structure a streaming ingest would maintain —
    and report the top-k tokens by estimate alongside their true counts
    and the sketch's overestimate (est − true ≥ 0 always; the min over
    ``depth`` independent rows bounds collision inflation).

    The sketch table is ≤ depth×4096 rows BY CONSTRUCTION
    (:func:`_cms_sketch`), so its join back to the vocabulary is a
    forced broadcast (bounded control plane, not a data-dependent hot
    set — the anti-join rule doesn't apply).  The final top-k is a
    global orderBy+limit (TakeOrdered — no single-partition window over
    the vocabulary); only the k kept rows pass through the rank window."""
    from pyspark.sql.window import Window

    counts = (
        documents.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("tf"))
    )
    counts = materialize(counts)  # feeds the sketch build + the estimate join
    hashed = _cms_hashed(counts, depth)
    sketch = hashed.groupBy("d", "bucket").agg(F.sum("tf").alias("cnt"))
    est = (
        hashed.join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("tok", "tf")
        .agg(F.min("cnt").alias("est"))
    )
    top = est.orderBy(F.col("est").desc(), F.col("tok").asc()).limit(top_k)
    w = Window.orderBy(F.col("est").desc(), F.col("tok").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        F.col("tok").alias("token"),
        F.col("tf").cast("long").alias("true_count"),
        F.col("est").cast("long").alias("cms_estimate"),
        (F.col("est") - F.col("tf")).cast("long").alias("overestimate"),
        F.col("rank").cast("int").alias("rank"),
    )


HLL_P = 8  # 2^8 = 256 registers (first 2 md5 hex chars)
HLL_M = 1 << HLL_P
# alpha_m for m=256, embedded as the SAME literal in both engines (a
# computed 0.7213/(1+1.079/m) could differ in the last ulp)
HLL_ALPHA = repr(0.7213 / (1 + 1.079 / 256))
# leading zero BITS of a hex digit (the table both engines CASE over)
HLL_NIBBLE_LZ = {"1": 3, "2": 2, "3": 2, "4": 1, "5": 1, "6": 1, "7": 1}
HLL_SUB_HEX = 13  # 13 hex chars = 52 bits of rho-range after the register


def hll_distinct_tokens(documents: DataFrame) -> DataFrame:
    """HyperLogLog distinct-token counts per language (Flajolet et al.
    2007) — the constant-memory cardinality sketch a 100-TB vocabulary
    census would maintain (256 registers/stratum here vs a
    corpus-sized exact distinct), reported ALONGSIDE the exact count so
    the sketch's error is measured, not asserted.

    Engine portability is structural, not numeric: the register index
    is the first 2 md5 hex chars, and rho (leading-zero count + 1 over
    the next 52 bits) is computed from the HEX STRING — a regexp count
    of leading '0' chars plus a CASE table over the first non-zero
    nibble — never via FP log2.  Register maxima are ints; 2^-M sums
    are sums of exact powers of two; the only rounding is the final
    4-decimal estimate.  The small-range ln() correction fires only
    when the estimate ≤ 2.5m AND empty registers exist — same literal
    expression in both engines, inside the rounding.

    Plan shape: rho is map-side string work; the sketch is one
    partial-aggregated groupBy(lang, register) max — the register
    table is ≤ 256 rows per stratum.  The exact distinct (the quality
    yardstick, not the production path) is the one corpus-sized
    shuffle."""
    h = F.md5(F.col("tok"))
    sub = F.substring(h, 3, HLL_SUB_HEX)
    nz = F.length(F.regexp_extract(sub, "^(0*)", 1))
    # Column-typed start position: F.substring only takes int literals
    first = sub.substr(nz + 1, F.lit(1))
    nibble_lz = F.lit(0)
    for ch, lz in sorted(HLL_NIBBLE_LZ.items()):
        nibble_lz = F.when(first == ch, F.lit(lz)).otherwise(nibble_lz)
    rho = (
        F.when(nz == HLL_SUB_HEX, F.lit(4 * HLL_SUB_HEX + 1))
        .otherwise(4 * nz + nibble_lz + 1)
        .cast("int")
    )
    toks = documents.select(
        "lang", F.explode(tokens_col(F.col("text"))).alias("tok")
    )
    toks = materialize(toks)  # feeds the sketch + the exact yardstick
    regs = (
        toks.select(
            "lang",
            F.conv(F.substring(h, 1, 2), 16, 10).cast("int").alias("reg"),
            rho.alias("rho"),
        )
        .groupBy("lang", "reg")
        .agg(F.max("rho").alias("m_j"))
    )
    sketch = regs.groupBy("lang").agg(
        F.count("*").alias("n_present"),
        F.sum(F.pow(F.lit(2.0), -F.col("m_j"))).alias("sum_present"),
    )
    m = F.lit(float(HLL_M))
    zeros = m - F.col("n_present")
    raw = F.expr(f"{HLL_ALPHA}") * m * m / (F.col("sum_present") + zeros)
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0), m * F.log(m / zeros)
    ).otherwise(raw)
    exact = toks.groupBy("lang").agg(
        F.count_distinct("tok").alias("exact_distinct")
    )
    ex = exact.select(F.col("lang").alias("x_lang"), "exact_distinct")
    # null-safe: a column-list join would drop the NULL-lang stratum
    return sketch.join(ex, sketch["lang"].eqNullSafe(ex["x_lang"])).select(
        "lang",
        "exact_distinct",
        F.round(est, 4).alias("hll_estimate"),
    )


def write_cms_index(
    documents: DataFrame, path: str, wave=0, depth: int = CMS_DEPTH
) -> None:
    """Persist the count-min sketch — the NINTH wave-keyed index family,
    and the first whose total size is CONSTANT in corpus size (each
    segment is ≤ depth×4096 counter rows, ~50 KB).  CMS counters add
    linearly, so the sketch of an accumulated corpus is the elementwise
    SUM of its waves' sketches: ``wave`` 0 is the build, each later
    crawl wave adds its own segment (delete-before-overwrite → retries
    replay), probes sum counters across segments, and compaction
    re-aggregates to one row per (d, bucket) — the counts-family
    geometry.  Caller contract for a wave: documents disjoint from the
    waves already folded in (a re-counted doc double-counts — CMS has
    no subtraction) and ``wave`` stable across retries of the same
    wave.  ``depth`` is pinned to the root: a probe at a different
    depth would min over rows the index never wrote and silently
    under-estimate."""
    from ..fsio import write_wave_segment

    write_wave_segment(
        _cms_sketch(documents, depth),
        path,
        wave,
        "cms_sketch",
        params={"cms_depth": depth},
    )


def cms_delta_heavy_hitters(
    spark,
    delta_documents: DataFrame,
    index_path: str,
    depth: int = CMS_DEPTH,
    top_k: int = CMS_TOP_K,
) -> DataFrame:
    """Heavy hitters of the ACCUMULATED corpus, probed O(delta): only the
    delta wave is tokenized; the history is the persisted constant-size
    sketch.  Estimates are exactly what :func:`cms_heavy_hitters` would
    compute over index ∪ delta (counter sums are order-independent),
    restricted to candidates the delta carries — the recurring-crawl
    question is "what is heavy NOW, given everything so far".

    Returns (token, delta_count, cms_estimate, rank): delta_count is the
    token's true count WITHIN the delta (the full-corpus true count is
    exactly what the sketch exists to avoid recounting);
    cms_estimate ≥ the full-corpus true count always."""
    from pyspark.sql.window import Window

    from ..fsio import assert_index_param, refuse_mid_compaction

    refuse_mid_compaction(spark, index_path)
    assert_index_param(spark, index_path, "cms_depth", depth)
    counts = (
        delta_documents.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("tf"))
    )
    counts = materialize(counts)  # feeds the delta sketch + the estimate join
    hashed = _cms_hashed(counts, depth)
    delta_sketch = hashed.groupBy("d", "bucket").agg(F.sum("tf").alias("cnt"))
    idx = (
        spark.read.parquet(index_path)
        .select("d", "bucket", "cnt")  # explicit: tolerate the wave column
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").alias("idx_cnt"))
    )
    # every candidate coordinate exists in the delta sketch, so a LEFT
    # join picks up history where it overlaps; both sides are ≤
    # depth×4096 rows by construction — forced broadcast is safe
    combined = delta_sketch.join(F.broadcast(idx), ["d", "bucket"], "left").select(
        "d",
        "bucket",
        (F.col("cnt") + F.coalesce(F.col("idx_cnt"), F.lit(0))).alias("cnt"),
    )
    est = (
        hashed.join(F.broadcast(combined), ["d", "bucket"])
        .groupBy("tok", "tf")
        .agg(F.min("cnt").alias("est"))
    )
    top = est.orderBy(F.col("est").desc(), F.col("tok").asc()).limit(top_k)
    w = Window.orderBy(F.col("est").desc(), F.col("tok").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        F.col("tok").alias("token"),
        F.col("tf").cast("long").alias("delta_count"),
        F.col("est").cast("long").alias("cms_estimate"),
        F.col("rank").cast("int").alias("rank"),
    )


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Gopher-style repetition signals: the fraction of bigram INSTANCES
    taken by the most frequent bigram (top_bg / n_bigrams — note Gopher's
    own metric is fraction of characters, a different denominator), and
    the duplicate-token fraction.  High
    values flag degenerate/templated text.  One bigram-count shuffle keyed
    by doc_id — bounded by document size, no cross-document join."""
    toks_arr = tokens_col(F.col("text"))
    base = documents.select("doc_id", toks_arr.alias("toks"))
    bigram_expr = F.expr(
        "CASE WHEN size(toks) >= 2 THEN "
        "transform(sequence(0, size(toks) - 2), i -> concat_ws(' ', slice(toks, i + 1, 2))) "
        "ELSE array() END"
    )
    # Two branches deliberately (a round-3 single-pass rewrite was
    # measured and REVERTED): carrying (n_tokens, n_distinct) through the
    # bigram aggregation widens the dominant bigram shuffle by two longs
    # per row (0.28 s → 0.75 s at sf0.1 even after staging the stats below
    # the Generate — expressions written alongside a generator re-evaluate
    # per OUTPUT row, which was 2.1 s).  The only duplicated work here is
    # the tokenizer in a second corpus scan; the token_side shuffle is
    # three ints per document.
    bigrams = base.select("doc_id", F.explode(bigram_expr).alias("bg"))
    per_doc = (
        bigrams.groupBy("doc_id", "bg")
        .agg(F.count("*").alias("n"))
        .groupBy("doc_id")
        .agg(F.max("n").alias("top_bg"), F.sum("n").alias("n_bigrams"))
    )
    token_side = base.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
    )
    return token_side.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.round(
            F.coalesce(F.col("top_bg") / F.col("n_bigrams"), F.lit(0.0)), 6
        ).alias("top_bigram_frac"),
        F.round(
            (F.col("n_tokens") - F.col("n_distinct")) / F.col("n_tokens"), 6
        ).alias("dup_token_frac"),
    )


BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def bpe_token_stats(documents: DataFrame) -> DataFrame:
    """BPE-style regex token counting (letters / digit runs / punct runs —
    a lookaround-free, engine-portable cousin of the GPT-2 pre-tokenizer).
    Training-data budgeting uses these counts; pure map-side + one agg."""
    toks = F.expr(f"regexp_extract_all(text, '{BPE_ISH_PATTERN}', 0)")
    return (
        documents.select(
            "doc_id",
            "lang",
            F.size(toks).alias("n_bpe_tokens"),
            F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("doc_count"),
            F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
            F.round(F.avg("n_unique_tokens"), 4).alias("avg_unique_tokens"),
        )
    )


CONTAM_NGRAM = 13  # the standard eval-decontamination n-gram width
# the forced broadcast below is justified ONLY because eval suites are
# bounded by construction; this cap makes handing a corpus-scale frame as
# `benchmark` fail loudly instead of OOMing the driver mid-broadcast
CONTAM_MAX_BENCHMARK_ROWS = 1_000_000


def benchmark_contamination(
    documents: DataFrame,
    benchmark: DataFrame,
    n: int = CONTAM_NGRAM,
    max_benchmark_rows: int | None = CONTAM_MAX_BENCHMARK_ROWS,
) -> DataFrame:
    """Eval-set decontamination (the GPT-3/PaLM-style 13-gram rule): flag
    every training document sharing at least one word ``n``-gram with a
    benchmark text.  Output is one row per document: the number of distinct
    contaminated n-grams and the drop verdict.

    Plan: the benchmark side is a FIXED eval suite — bounded by
    construction (thousands of prompts, not corpus-scaled), unlike the
    corpus-derived hot sets whose forced broadcasts this repo bans — so its
    distinct n-gram set is explicitly broadcast and the 10^12-row corpus is
    probed MAP-SIDE: explode each document's n-grams, hash-join against the
    broadcast set, partial-agg per doc_id.  Zero shuffle of corpus text;
    the only exchange carries (doc_id, hit-count) pairs.  ``benchmark`` is
    any frame with a ``text`` column.  N-gram derivation reuses
    dedup._shingles — the one implementation carrying the Generate-barrier
    idiom that keeps the shingle transform O(tokens).

    ``max_benchmark_rows`` guards the forced broadcast: a caller passing a
    corpus-scale frame as the benchmark gets a loud ValueError from a
    short-circuiting ``limit(cap+1).count()`` probe, never a driver OOM.
    Pass ``None`` to skip the probe (one extra job) for trusted inputs."""
    from .dedup import _shingles

    if max_benchmark_rows is not None:
        probed = benchmark.limit(max_benchmark_rows + 1).count()
        if probed > max_benchmark_rows:
            raise ValueError(
                f"benchmark frame exceeds {max_benchmark_rows} rows — it would "
                "be force-broadcast; decontaminate against a bounded eval "
                "suite, or raise max_benchmark_rows deliberately"
            )
    bench_ngrams = (
        _shingles(benchmark.select(F.lit(1).alias("doc_id"), "text"), n)
        .select(F.col("shingle").alias("ngram"))
        .distinct()
    )
    doc_ngrams = _shingles(documents.select("doc_id", "text"), n).select(
        "doc_id", F.col("shingle").alias("ngram")
    )
    hits = (
        doc_ngrams.join(F.broadcast(bench_ngrams), "ngram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated"))
    )
    return (
        documents.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_contaminated", F.lit(0)).cast("long").alias("n_contaminated"),
            (F.coalesce("n_contaminated", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def fingerprints(documents: DataFrame) -> DataFrame:
    """Normalization fingerprint: md5 of lowercased, whitespace-collapsed
    text — the exact-dedup key for near-identical formatting variants."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return documents.select(
        "doc_id", F.md5(normalized).alias("fingerprint"), F.length(normalized).alias("norm_len")
    )


LENGTH_STATS_APPROX_ACCURACY = 100_000


def length_stats(
    documents: DataFrame,
    approx: bool = False,
    accuracy: int = LENGTH_STATS_APPROX_ACCURACY,
) -> DataFrame:
    """Per-language document-length distribution — the profiling query a
    mix designer runs before setting quality/budget thresholds.

    ``approx=False`` (default): the EXACT ``percentile`` (linear
    interpolation, identical to DuckDB's quantile_cont) — it buffers a
    group's value set, which is fine up to millions of docs per group.
    ``approx=True``: the 10^12-scale path — ``percentile_approx`` (a
    bounded Greenwald-Khanna sketch, constant memory per group, same
    single partial-aggregated per-lang shuffle).  The sketch returns an
    actual element (discrete quantile): when the group fits inside
    ``accuracy`` it is lossless and equals DuckDB's ``quantile_disc``
    exactly (how the driver gate oracles this mode — verified
    element-identical at the gate SFs); beyond that the rank error is
    bounded by 1/accuracy, the documented trade.  Both modes share one
    schema (percentiles as double)."""
    if approx:
        pct = [
            F.expr(
                f"percentile_approx(n_chars, {p}, {accuracy})"
            ).cast("double").alias(name)
            for p, name in ((0.5, "p50_chars"), (0.9, "p90_chars"), (0.99, "p99_chars"))
        ]
    else:
        pct = [
            F.round(F.expr(f"percentile(n_chars, {p})"), 6).alias(name)
            for p, name in ((0.5, "p50_chars"), (0.9, "p90_chars"), (0.99, "p99_chars"))
        ]
    return documents.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        *pct,
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
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
    property (map-side scoring, one doc-keyed shuffle) is unchanged."""
    bucket = F.substring(F.md5(F.concat(F.lit("qt:"), tok)), 1, QC_BUCKET_HEX)
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("qw:"), bucket)), 1, QC_WEIGHT_HEX),
            16,
            10,
        ).cast("long")
        - F.lit(QC_WEIGHT_MID)
    )


def quality_classifier_scores(
    documents: DataFrame, threshold: float = QC_THRESHOLD
) -> DataFrame:
    """Model-based quality scoring: mean hashed-bag-of-words weight per
    document, as a logit in [-1, 1), and the keep verdict at
    QC_THRESHOLD — the model-gated twin of the rule-based
    :func:`quality_filter`.  Fully map-side token work feeding ONE
    partial-aggregated doc_id shuffle (tokens never leave their split;
    only per-doc partial sums move) — the same plan shape as token_stats
    at any corpus size.

    Returns (doc_id, n_tokens, quality_logit, kept); kept compares the
    ROUNDED logit so engine comparisons never sit on an unrounded FP
    boundary."""
    w = quality_classifier_weight(F.col("tok"))
    scored = (
        documents.select(
            "doc_id", F.explode(tokens_col(F.col("text"))).alias("tok")
        )
        .select("doc_id", w.alias("w"))
        .groupBy("doc_id")
        .agg(F.sum("w").alias("w_sum"), F.count("*").alias("n_tokens"))
    )
    logit = F.round(
        F.col("w_sum") / (F.col("n_tokens") * F.lit(float(QC_WEIGHT_MID))), 6
    )
    return scored.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        logit.alias("quality_logit"),
        (logit >= F.lit(threshold)).alias("kept"),
    )


MIX_ALPHA = "0.3"  # temperature exponent, embedded as the SAME literal
MIX_W_SCALE = 1_000_000  # relative weights quantized to integers


def source_temperature_mix(documents: DataFrame) -> DataFrame:
    """Temperature-scaled source mixing weights (the multilingual /
    multi-source sampling rule of Lample & Conneau 2019 §3.1, UniMax's
    baseline): source i with token share p_i is sampled proportionally
    to p_i^α (α = 0.3 here — upweights the tail, flattens the head),
    reported with the expected epochs over source i when one
    corpus-size token budget is drawn under the mix.

    Engine portability: the one genuinely libm-dependent step —
    pow(p, α) — is immediately quantized to an integer relative weight
    (× 1e6, rounded), so normalization sums are exact long arithmetic;
    the final weight/epoch divisions run on exact integer inputs through
    identical expression trees and are rounded.  Plan: one
    source-keyed partial-aggregated shuffle; the totals join is a
    1-row broadcast cross join (bounded control plane)."""
    per_src = (
        documents.select(
            "source", F.size(tokens_col(F.col("text"))).alias("n_tok")
        )
        .groupBy("source")
        .agg(F.sum("n_tok").alias("n_tokens"))
    )
    per_src = materialize(per_src)  # feeds the totals agg + the final join
    total = per_src.agg(F.sum("n_tokens").alias("total"))
    w_int = F.round(
        F.pow(F.col("n_tokens") / F.col("total"), F.expr(MIX_ALPHA))
        * F.lit(MIX_W_SCALE),
        0,
    ).cast("long")
    weighted = per_src.crossJoin(F.broadcast(total)).select(
        "source", "n_tokens", "total", w_int.alias("w_int")
    )
    wtot = weighted.agg(F.sum("w_int").alias("w_total"))
    return weighted.crossJoin(F.broadcast(wtot)).select(
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(F.col("n_tokens") / F.col("total"), 6).alias("p_raw"),
        F.round(F.col("w_int") / F.col("w_total"), 6).alias("mix_weight"),
        F.round(
            F.col("w_int") / F.col("w_total") * F.col("total") / F.col("n_tokens"),
            4,
        ).alias("expected_epochs"),
    )


ZIPF_TOP_K = 256  # per-language head the power law is fit over
ZIPF_Q = 1000  # log2 values quantized to 1e-3 -> exact integer sums


def zipf_law_fit(documents: DataFrame, top_k: int = ZIPF_TOP_K) -> DataFrame:
    """Per-language Zipf's-law fit over the vocabulary head: least-squares
    slope and R² of log2(tf) against log2(rank) for the top_k most
    frequent tokens — the corpus-health diagnostic that catches
    boilerplate floods and template spam (they bend the head away from
    the ~-1 power law long before they dominate raw counts).

    Ranks are exact and computed scalably with the banded two-phase of
    :func:`perplexity_buckets`: per-(lang, log2-band) counts (a summary
    bounded by the tf RANGE) -> running offsets -> only bands
    intersecting the top_k are ranked in a window, so no whole-vocabulary
    single-partition window exists; the boundary band's population
    bounds the windowed rows (tiny at the zipf head, where high-tf bands
    hold few tokens).  Regression inputs are QUANTIZED to integers
    (round(log2·1000)) so every regression sum is exact long arithmetic
    — order-independent across engines — and the slope/R² divisions run
    on exact integer inputs through identical expression trees, then
    round.  Strata with fewer than 2 head terms are dropped (the
    variance denominator is 0).

    Returns (lang, n_head, zipf_slope, zipf_r2)."""
    from pyspark.sql.window import Window

    counts = (
        documents.select(
            "lang", F.explode(tokens_col(F.col("text"))).alias("tok")
        )
        .groupBy("lang", "tok")
        .agg(F.count("*").alias("tf"))
        .withColumn("band", F.floor(F.log2("tf")).cast("int"))
    )
    counts = materialize(counts)  # feeds the band histogram + the rank join
    band_w = (
        Window.partitionBy("lang")
        .orderBy(F.col("band").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        counts.groupBy("lang", "band")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("lang").alias("o_lang"),
            F.col("band").alias("o_band"),
            F.coalesce(F.sum("cnt").over(band_w), F.lit(0)).alias("offset"),
        )
        .where(F.col("offset") < top_k)  # bands intersecting the head
    )
    rank_w = Window.partitionBy("lang", "band").orderBy(
        F.col("tf").desc(), F.col("tok").asc()
    )
    head = (
        counts.join(
            offsets,
            counts["lang"].eqNullSafe(offsets["o_lang"])
            & (counts["band"] == offsets["o_band"]),
        )
        .withColumn("rk", F.col("offset") + F.row_number().over(rank_w))
        .where(F.col("rk") <= top_k)
    )
    q = F.lit(ZIPF_Q)
    pts = head.select(
        "lang",
        F.round(F.log2("rk") * q, 0).cast("long").alias("x"),
        F.round(F.log2("tf") * q, 0).cast("long").alias("y"),
    )
    sums = pts.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return sums.where(F.col("n") >= 2).select(
        "lang",
        F.col("n").cast("int").alias("n_head"),
        F.round(num / denx, 4).alias("zipf_slope"),
        F.when(deny == 0, F.lit(None).cast("double"))
        .otherwise(F.round(num * num / (denx * deny), 4))
        .alias("zipf_r2"),
    )


def quality_logit_col(text: Column) -> Column:
    """The :func:`quality_classifier_scores` logit as a single map-side
    COLUMN EXPRESSION (array fold instead of explode+agg) — for
    composed pipelines that must stay shuffle-free per stage
    (compose.build_training_corpus attaches it like the rule verdict,
    never a self-join back through the extraction UDF).  The integer
    accumulator makes the fold exactly equal to the operator's
    aggregated sum regardless of evaluation order; row-identity between
    the two forms is test-pinned.  The standalone operator keeps the
    explode+partial-agg shape — whole-stage codegen beats the
    interpreted higher-order fold when the shuffle is affordable."""
    toks = tokens_col(text)
    wsum = F.aggregate(
        F.transform(toks, lambda t: quality_classifier_weight(t)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return F.round(wsum / (F.size(toks) * F.lit(float(QC_WEIGHT_MID))), 6)


PMI_MIN_COUNT = 5
PMI_TOP_K = 50
PMI_Q = 1000


def pmi_collocations(
    documents: DataFrame, min_count: int = PMI_MIN_COUNT, top_k: int = PMI_TOP_K
) -> DataFrame:
    """Top-K collocations by pointwise mutual information over adjacent
    word pairs — the classic phrase-mining signal (high-PMI bigrams are
    multiword expressions worth protecting from token-level shuffling).

    PMI = log2(p(ab) / (p(a)·p(b))) expanded to the PINNED five-term sum
    log2(bf) + 2·log2(N_uni) − log2(N_bi) − log2(uf₁) − log2(uf₂)
    evaluated LEFT TO RIGHT and quantized to integer milli-bits
    (round(·1000) — the zipf discipline: log2 of exact long counts
    agrees across engines at this granularity; the product form would
    overflow long at corpus scale, the sum form never does).  Ranking is
    total-ordered (pmi_q desc, w1, w2) so the top-K cut is deterministic.

    Plan shape: bigrams zip JVM-side (no positional self-join); the
    unigram joins have vocab-bounded per-key multiplicity; the top-K is
    a TakeOrdered over the (vocab²-bounded, min_count-filtered) bigram
    table, never a corpus-wide window.

    Returns (w1, w2, n_ab, pmi_q)."""
    toks = tokens_col(F.col("text"))
    tail_len = F.size(toks) - 1
    bg_structs = F.zip_with(
        F.slice(toks, 1, tail_len),
        F.slice(toks, 2, tail_len),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    base = documents.where(F.size(toks) >= 2)
    bgc_all = (
        base.select(F.explode(bg_structs).alias("bg"))
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("bf"))
    )
    # one tokenize pass: the UNFILTERED count table feeds both the
    # bigram total and the min_count cut (a separate count(*) over the
    # raw explode would re-derive the corpus)
    bgc_all = materialize(bgc_all)
    bgc = bgc_all.where(F.col("bf") >= min_count)
    uni = (
        base.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("uf"))
    )
    uni = materialize(uni)  # feeds the total + both endpoint joins
    totals = uni.agg(F.sum("uf").alias("n_uni")).crossJoin(
        bgc_all.agg(F.sum("bf").alias("n_bi"))
    )
    u1 = uni.select(F.col("tok").alias("w1"), F.col("uf").alias("uf1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("uf").alias("uf2"))
    pmi = (
        F.log2("bf")
        + F.lit(2.0) * F.log2("n_uni")
        - F.log2("n_bi")
        - F.log2("uf1")
        - F.log2("uf2")
    )
    return (
        bgc.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            F.col("bf").cast("long").alias("n_ab"),
            F.round(pmi * F.lit(PMI_Q), 0).cast("long").alias("pmi_q"),
        )
        .orderBy(F.col("pmi_q").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(top_k)
    )
