"""Driver contract implementation: queries() + oracle_sql() pairs.

Each query is a Spark DataFrame program from SURVEY.md §2's operator
inventory (or the training-data operator set); each oracle is DuckDB SQL
producing identical rows on the same inputs.  Oracles don't need to share
syntax with the Spark side — only results — so each side uses its engine's
natural form (portability is engineered via md5-based hashing, explicit
rounding, and deterministic tie-breaks; see operators/*.py docstrings).

For the extraction kernel itself (not SQL-expressible) the oracle is the
frozen golden span corpus rendered as a VALUES table — byte-equality against
tests/golden/fixture_spans.json, the span-sequence contract from
BASELINE.json.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .operators import (
    dedup,
    graph,
    multimodal,
    packing,
    pdf,
    pii,
    sampling,
    sessionize,
    similarity,
    temporal,
    textstats,
)
from .operators.extract import run_extract
from .pipeline.job import extract_pipeline
from .spans import fixture_corpus, synth_corpus
from .streaming import run_streaming_window_counts, windowed_event_counts
from .streaming.sessions import (
    run_streaming_sessionization,
    run_streaming_sessionization_evicting,
)
from .streaming.stateful import running_user_totals

_GOLDEN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "golden"
)
GOLDEN_PATH = os.path.join(_GOLDEN_DIR, "fixture_spans.json")
SYNTH_AGG_PATH = os.path.join(_GOLDEN_DIR, "synthetic_agg.json")

DOCUMENTS_SPANS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField(
            "spans",
            ArrayType(
                StructType(
                    [
                        StructField("kind", StringType()),
                        StructField("text", StringType()),
                        StructField("media_ref", StringType()),
                        StructField("offset", IntegerType()),
                    ]
                )
            ),
        ),
    ]
)

N_SYNTH_DOCS = 200

# ---------------------------------------------------------------- loaders


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))


def _utc(spark: SparkSession) -> SparkSession:
    """Pin the session timezone for timestamp-formatting queries so results
    match the (naive-timestamp) DuckDB oracle under any host session."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def fixture_documents_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(fixture_corpus(), schema=DOCUMENTS_SPANS_SCHEMA)


def synth_documents_df(spark: SparkSession, n_docs: int = N_SYNTH_DOCS) -> DataFrame:
    return spark.createDataFrame(synth_corpus(n_docs), schema=DOCUMENTS_SPANS_SCHEMA)


# ------------------------------------------------------- extraction queries


def q_extract_fixture_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel through the full Spark path, exploded to one row per span."""
    extracted = run_extract(fixture_documents_df(spark))
    return extracted.select(
        "doc_id", F.posexplode_outer("extracted").alias("pos", "span")
    ).select(
        "doc_id",
        F.col("span.kind").alias("span_kind"),
        F.col("span.text").alias("span_text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.order").alias("span_order"),
    ).where(F.col("span_kind").isNotNull())


def q_interleave_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaving profile (text/media runs) of the fixture corpus's
    extracted span sequences — map-side over the span arrays, oracled
    against the SAME frozen golden spans the span-equality gate uses
    (the profile is a pure function of the golden sequence)."""
    extracted = run_extract(fixture_documents_df(spark))
    return multimodal.interleave_stats(extracted.select("doc_id", "extracted"))


def oracle_interleave_stats() -> str:
    return f"""
WITH g AS ({golden_spans_values_sql()}),
r AS (
  SELECT doc_id, span_kind, span_order,
         CASE WHEN lag(span_kind) OVER (
                PARTITION BY doc_id ORDER BY span_order
              ) IS DISTINCT FROM span_kind THEN 1 ELSE 0 END AS brk
  FROM g
)
SELECT doc_id, count(*)::BIGINT AS n_spans,
       (count(*) FILTER (span_kind = 'text'))::BIGINT AS n_text_spans,
       (count(*) FILTER (span_kind != 'text'))::BIGINT AS n_media_spans,
       sum(brk)::BIGINT AS n_runs,
       round((count(*) FILTER (span_kind != 'text')) / count(*), 6) AS media_frac
FROM r GROUP BY doc_id
"""


def q_extract_fixture_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    extracted = run_extract(fixture_documents_df(spark))
    return extracted.select(
        "doc_id",
        "status",
        F.col("spans_emitted").cast("long").alias("spans_emitted"),
        F.col("metadata.title").alias("title"),
        F.col("metadata.byline").alias("byline"),
    )


def q_extract_img_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 image-URL projection (extractor.rs:52-68) over the Spark path."""
    extracted = run_extract(fixture_documents_df(spark))
    return extracted.select(
        "doc_id", F.explode("img_urls").alias("img_url")
    )


def q_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data pipeline composition (extract → flatten →
    normalize-fingerprint → quality signals) over the frozen synthetic
    corpus, one row per surviving document.  Oracle: frozen golden VALUES
    (tests/golden/synthetic_agg.json) — the corpus generator is frozen,
    so per-doc outputs are a stable contract."""
    from .pipeline.compose import corpus_build

    return corpus_build(synth_documents_df(spark, 150))


N_PLANTED_NEAR_DUPS = 3


def planted_near_dup_documents(spark: SparkSession, n_docs: int = 150) -> DataFrame:
    """The synthetic corpus plus ``N_PLANTED_NEAR_DUPS`` near-duplicate
    variants: each variant re-renders a seed document's HTML with one
    marker word injected into the last paragraph, so after extraction its
    text differs (exact dedup keeps it: different fingerprint) yet its
    64-bit SimHash sits within Hamming 1 of the seed (probed
    deterministically; the generator is frozen).  Same gate-seeding
    rationale as planted_embeddings — the near-dup funnel stage must
    reject a known-nonzero set, not be trivially green on zero."""
    from .spans.codec import html_to_spans
    from .spans.synthetic import synth_html

    variants = []
    for seed in range(N_PLANTED_NEAR_DUPS):
        html = synth_html(seed)
        cut = html.rfind("</p>", 0, html.find("</article>"))
        var_html = html[:cut] + " plantedmarker" + html[cut:]
        variants.append(
            {"doc_id": f"near-{seed:010d}", "spans": html_to_spans(var_html)}
        )
    # one exact twin (rejected:duplicate) and one 12-token stub
    # (rejected:too_short) so EVERY funnel stage rejects a nonzero set
    variants.append(
        {"doc_id": "dupe-0000000000", "spans": html_to_spans(synth_html(0))}
    )
    tiny_html = (
        '<!DOCTYPE html><html><head><title>Tiny | Synthetic Site</title></head>'
        '<body><article id="main-content"><p>'
        + " ".join(f"word{i} filler text here" for i in range(3))
        + "</p></article></body></html>"
    )
    variants.append({"doc_id": "tiny-0000000000", "spans": html_to_spans(tiny_html)})
    return synth_documents_df(spark, n_docs).union(
        spark.createDataFrame(variants, schema=DOCUMENTS_SPANS_SCHEMA)
    )


def q_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL production funnel accounting: extract → quality verdict →
    exact dedup → SimHash near-dup cluster dedup, with every stage's
    reject count reconciling to the written corpus rows (kept −
    rejected:duplicate − rejected:near_duplicate == corpus).  Runs over
    the frozen synthetic corpus + planted near-dup variants; oracle:
    frozen golden VALUES — see q_corpus_build.  max_hamming=1 (not the
    production default 3): the synthetic corpus draws from a ~60-word
    lorem vocabulary, so at Hamming 3 the 64-bit fingerprint honestly
    collapses half the homogeneous corpus — the tight threshold keeps the
    stage's reject set meaningful (all planted variants + a handful of
    organic collisions) for the accounting contract."""
    from .pipeline.compose import build_training_corpus

    _, funnel, _ = build_training_corpus(
        planted_near_dup_documents(spark), near_dup=True, persist=True, max_hamming=1
    )
    return funnel


def q_extract_synthetic_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The extraction pipeline (default scan mode) over the synthetic
    heavy-tail corpus, one row per document (status + span/node
    counters).  Oracle: frozen golden VALUES — see q_corpus_build."""
    extracted = extract_pipeline(synth_documents_df(spark))
    return extracted.select(
        "doc_id",
        "status",
        F.col("spans_emitted").cast("long").alias("spans_emitted"),
        F.col("nodes_scored").cast("long").alias("nodes_scored"),
    )


# ----------------------------------------------------- golden VALUES oracle


def _sql_str(value: str | None) -> str:
    if value is None:
        return "CAST(NULL AS VARCHAR)"
    return "'" + value.replace("'", "''") + "'"


def _golden() -> dict:
    with open(GOLDEN_PATH) as f:
        return json.load(f)


def golden_spans_values_sql() -> str:
    golden = _golden()
    rows = []
    for doc_id in sorted(golden):
        for s in golden[doc_id]["extracted"]:
            rows.append(
                f"({_sql_str(doc_id)}, {_sql_str(s['kind'])}, {_sql_str(s['text'])}, "
                f"{_sql_str(s['media_ref'])}, {s['order']})"
            )
    return (
        "SELECT * FROM (VALUES\n"
        + ",\n".join(rows)
        + "\n) AS t(doc_id, span_kind, span_text, media_ref, span_order)"
    )


def golden_status_values_sql() -> str:
    golden = _golden()
    rows = []
    for doc_id in sorted(golden):
        g = golden[doc_id]
        title = g["metadata"]["title"]
        byline = g["metadata"]["byline"]
        rows.append(
            f"({_sql_str(doc_id)}, {_sql_str(g['status'])}, {len(g['extracted'])}, "
            f"{_sql_str(title)}, {_sql_str(byline)})"
        )
    return (
        "SELECT * FROM (VALUES\n"
        + ",\n".join(rows)
        + "\n) AS t(doc_id, status, spans_emitted, title, byline)"
    )


def synthetic_golden_values_sql(name: str) -> str:
    """VALUES oracle from the frozen per-doc golden rows of the synthetic
    corpus (tests/golden/synthetic_agg.json).  The synthetic generator
    (spans/synthetic.py) is frozen, so these rows are a stable regression
    contract — regenerating the file is only legitimate when a query's
    *shape* changes, never to paper over a kernel behavior change."""
    with open(SYNTH_AGG_PATH) as f:
        golden = json.load(f)[name]
    cols = ", ".join(golden["columns"])
    rows = []
    for row in golden["rows"]:
        cells = [
            _sql_str(v) if isinstance(v, str) or v is None else str(v) for v in row
        ]
        rows.append("(" + ", ".join(cells) + ")")
    return (
        "SELECT * FROM (VALUES\n" + ",\n".join(rows) + f"\n) AS t({cols})"
    )


def golden_img_urls_values_sql() -> str:
    golden = _golden()
    rows = []
    for doc_id in sorted(golden):
        for url in golden[doc_id]["img_urls"]:
            rows.append(f"({_sql_str(doc_id)}, {_sql_str(url)})")
    return (
        "SELECT * FROM (VALUES\n"
        + ",\n".join(rows)
        + "\n) AS t(doc_id, img_url)"
    )


# ------------------------------------------------------------ SQL oracles

_TOKENS = "regexp_split_to_array(trim(text), '\\s+')"
_STOP_LIST = ", ".join(f"'{w}'" for w in textstats.STOPWORDS)

def _shingle_cte_sql(src: str = "documents") -> str:
    """``toks`` + ``sh`` (distinct 3-gram shingles) over a (doc_id,
    text) source — the single shingle definition every shingle-space
    oracle composes on."""
    return f"""
toks AS (SELECT doc_id, {_TOKENS} AS arr FROM {src}),
sh AS (
  SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS shingle
  FROM toks, unnest(generate_series(1, len(arr) - 2)) AS t(i)
  WHERE len(arr) >= 3
)
"""


_SHINGLE_CTE = _shingle_cte_sql()


def _blocked_pairs_sql(src: str = "documents") -> str:
    """CTE chain through ``blocked``/``sizes``/``pairs`` — the DuckDB
    twin of dedup._blocked_pair_counts, shared by the jaccard and
    containment oracles (cap/blocking semantics live once)."""
    return f"""{_shingle_cte_sql(src)},
blocked AS (
  SELECT s.* FROM sh s
  JOIN (SELECT shingle FROM sh GROUP BY shingle
        HAVING count(*) <= {dedup.SHINGLE_DF_CAP}) ok USING (shingle)
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM blocked GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM blocked a JOIN blocked b USING (shingle)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
)"""

_SIG_CTE = (
    _SHINGLE_CTE
    + ", sig AS (SELECT doc_id, "
    + ", ".join(
        f"min(md5('{i}:' || shingle)) AS mh{i}" for i in range(dedup.MINHASH_K)
    )
    + " FROM sh GROUP BY doc_id)"
)


def oracle_exact_dedup() -> str:
    return """
SELECT source, count(*)::BIGINT AS n_docs,
       count(DISTINCT md5(text))::BIGINT AS n_unique,
       (count(*) - count(DISTINCT md5(text)))::BIGINT AS n_dupes
FROM documents GROUP BY source
"""


def oracle_token_stats() -> str:
    return f"""
SELECT lang, count(*)::BIGINT AS doc_count,
       sum(len({_TOKENS}))::BIGINT AS total_tokens,
       round(avg(len({_TOKENS})), 4) AS avg_tokens
FROM documents GROUP BY lang
"""


def oracle_quality_scores() -> str:
    return f"""
SELECT doc_id, lang,
       length(text)::BIGINT AS n_chars_m,
       len({_TOKENS})::INT AS n_tokens,
       round((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / length(text), 6) AS punct_ratio,
       round(len(list_filter({_TOKENS}, t -> t IN ({_STOP_LIST})))::DOUBLE / len({_TOKENS}), 6) AS stopword_ratio,
       round((length(text) - len({_TOKENS}) + 1)::DOUBLE / len({_TOKENS}), 4) AS mean_token_len
FROM documents
"""


def oracle_quality_filter() -> str:
    t = textstats
    return f"""
WITH q AS (
  SELECT doc_id, lang,
         len({_TOKENS})::INT AS n_tokens,
         round((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE / length(text), 6) AS punct_ratio,
         round(len(list_filter({_TOKENS}, t -> t IN ({_STOP_LIST})))::DOUBLE / len({_TOKENS}), 6) AS stopword_ratio,
         round((length(text) - len({_TOKENS}) + 1)::DOUBLE / len({_TOKENS}), 4) AS mean_token_len
  FROM documents
),
flagged AS (
  SELECT doc_id, lang,
         CASE
           WHEN n_tokens < {t.QF_MIN_TOKENS} THEN 'too_short'
           WHEN n_tokens > {t.QF_MAX_TOKENS} THEN 'too_long'
           WHEN mean_token_len < {t.QF_MIN_MEAN_TOKEN_LEN}
                OR mean_token_len > {t.QF_MAX_MEAN_TOKEN_LEN} THEN 'token_len'
           WHEN punct_ratio > {t.QF_MAX_PUNCT_RATIO} THEN 'high_punct'
           WHEN lang = 'en' AND stopword_ratio < {t.QF_MIN_STOPWORD_RATIO} THEN 'low_stopword'
         END AS reject_reason
  FROM q
)
SELECT doc_id, lang, (reject_reason IS NULL) AS keep, reject_reason FROM flagged
"""


def oracle_unigram_logprob() -> str:
    return f"""
WITH doc_tf AS (
  SELECT doc_id, tok, count(*) AS tf_dt
  FROM (SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents)
  GROUP BY doc_id, tok
),
counts AS (SELECT tok, sum(tf_dt) AS tf FROM doc_tf GROUP BY tok),
total AS (SELECT sum(tf) AS total FROM counts),
scored AS (
  SELECT d.doc_id, d.tf_dt, log2(c.tf) - log2(total.total) AS lp
  FROM doc_tf d JOIN counts c USING (tok) CROSS JOIN total
),
agg AS (
  SELECT doc_id, sum(tf_dt)::BIGINT AS n_tokens,
         round(sum(tf_dt * lp) / sum(tf_dt), 6) AS avg_log2_prob
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_tokens, avg_log2_prob,
       round(pow(2.0, -avg_log2_prob), 4) AS perplexity
FROM agg
"""


def oracle_perplexity_buckets() -> str:
    """DuckDB twin of textstats.perplexity_buckets: the unigram-LM CTE
    chain (identical to oracle_unigram_logprob up to the rounded per-doc
    mean), then a plain per-lang row_number — the single-window plan the
    two-phase band ranking must stay row-identical to.  The bucket index
    is the same INTEGER division ((rk-1)*3 // n), never FP."""
    return f"""
WITH doc_tf AS (
  SELECT doc_id, tok, count(*) AS tf_dt
  FROM (SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents)
  GROUP BY doc_id, tok
),
counts AS (SELECT tok, sum(tf_dt) AS tf FROM doc_tf GROUP BY tok),
total AS (SELECT sum(tf) AS total FROM counts),
scored AS (
  SELECT d.doc_id, d.tf_dt, log2(c.tf) - log2(total.total) AS lp
  FROM doc_tf d JOIN counts c USING (tok) CROSS JOIN total
),
agg AS (
  SELECT doc_id, round(sum(tf_dt * lp) / sum(tf_dt), 6) AS avg_log2_prob
  FROM scored GROUP BY doc_id
),
j AS (
  SELECT a.doc_id, d.lang, a.avg_log2_prob
  FROM agg a JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT doc_id, lang, avg_log2_prob,
         row_number() OVER (PARTITION BY lang
                            ORDER BY avg_log2_prob DESC, doc_id ASC) AS rk,
         count(*) OVER (PARTITION BY lang) AS n_docs
  FROM j
)
SELECT doc_id, lang, avg_log2_prob,
       CASE ((rk - 1) * 3) // n_docs
         WHEN 0 THEN '{textstats.PPL_BUCKET_NAMES[0]}'
         WHEN 1 THEN '{textstats.PPL_BUCKET_NAMES[1]}'
         ELSE '{textstats.PPL_BUCKET_NAMES[2]}' END AS ppl_bucket
FROM ranked
"""


def oracle_cms_heavy_hitters() -> str:
    """DuckDB twin of textstats.cms_heavy_hitters: the same
    build-from-vocab-counts sketch (sums per bucket commute with the
    token-stream build), positional 3-hex-char bucket decode (the
    simhash byte-decode idiom), min over depth rows, and the rounded-
    free all-integer ranking with the token tie-break."""
    d, k = textstats.CMS_DEPTH, textstats.CMS_TOP_K
    seeds = ", ".join(str(i) for i in range(d))
    hexpos = "strpos('0123456789abcdef', substr(h, {i}, 1)) - 1"
    bucket = (
        f"(({hexpos.format(i=1)}) * 256 + ({hexpos.format(i=2)}) * 16"
        f" + ({hexpos.format(i=3)}))"
    )
    return f"""
WITH counts AS (
  SELECT tok, count(*) AS tf
  FROM (SELECT unnest({_TOKENS}) AS tok FROM documents) GROUP BY tok
),
hashed AS (
  SELECT tok, tf, d, {bucket} AS bucket
  FROM (SELECT tok, tf, d, md5('cms' || d::VARCHAR || ':' || tok) AS h
        FROM counts, unnest([{seeds}]) AS t(d))
),
sketch AS (SELECT d, bucket, sum(tf) AS cnt FROM hashed GROUP BY d, bucket),
est AS (
  SELECT tok, tf, min(cnt) AS est
  FROM hashed JOIN sketch USING (d, bucket) GROUP BY tok, tf
),
ranked AS (
  SELECT tok AS token, tf, est,
         row_number() OVER (ORDER BY est DESC, tok ASC) AS rank
  FROM est
)
SELECT token, tf::BIGINT AS true_count, est::BIGINT AS cms_estimate,
       (est - tf)::BIGINT AS overestimate, rank::INT AS rank
FROM ranked WHERE rank <= {k}
"""


def oracle_bigram_logprob() -> str:
    """DuckDB twin of textstats.bigram_logprob: bigrams unrolled by
    index (same arr[i]/arr[i+1] form as oracle_repetition_stats), the
    identical interpolation literals, and the identical association
    ``λ·(bf/ff) + (1−λ)·(uf/total)`` inside one log2 — a re-associated
    form would round differently on FP boundaries."""
    lam, lam_c = textstats.BIGRAM_LAMBDA, textstats.BIGRAM_LAMBDA_C
    return f"""
WITH base AS (
  SELECT doc_id, {_TOKENS} AS arr FROM documents
  WHERE len({_TOKENS}) >= 2
),
bg AS (
  SELECT doc_id, arr[i] AS w1, arr[i+1] AS w2
  FROM base, unnest(generate_series(1, len(arr) - 1)) AS t(i)
),
bg_dt AS (SELECT doc_id, w1, w2, count(*) AS tf_dt FROM bg GROUP BY 1, 2, 3),
bgc AS (SELECT w1, w2, sum(tf_dt) AS bf FROM bg_dt GROUP BY 1, 2),
fc AS (SELECT w1, sum(bf) AS ff FROM bgc GROUP BY 1),
uni AS (
  SELECT tok, count(*) AS uf
  FROM (SELECT unnest(arr) AS tok FROM base) GROUP BY 1
),
tot AS (SELECT sum(uf) AS total FROM uni),
blp AS (
  SELECT b.w1, b.w2,
         log2({lam} * (b.bf / f.ff) + {lam_c} * (u.uf / t.total)) AS lp
  FROM bgc b JOIN fc f USING (w1) JOIN uni u ON u.tok = b.w2 CROSS JOIN tot t
),
agg AS (
  SELECT doc_id, sum(tf_dt)::BIGINT AS n_bigrams,
         round(sum(tf_dt * lp) / sum(tf_dt), 6) AS avg_log2_prob
  FROM bg_dt JOIN blp USING (w1, w2) GROUP BY doc_id
)
SELECT doc_id, n_bigrams, avg_log2_prob,
       round(pow(2.0, -avg_log2_prob), 4) AS perplexity
FROM agg
"""


def oracle_source_kl_divergence() -> str:
    """DuckDB twin of textstats.source_kl_divergence: identical
    log-difference association inside the per-token term, division only
    at the final rounded mean, null-safe source join (IS NOT DISTINCT
    FROM — the eqNullSafe mirror)."""
    return f"""
WITH st AS (
  SELECT source, tok, count(*) AS tf_st
  FROM (SELECT source, unnest({_TOKENS}) AS tok FROM documents)
  GROUP BY source, tok
),
counts AS (SELECT tok, sum(tf_st) AS tf FROM st GROUP BY tok),
total AS (SELECT sum(tf) AS total FROM counts),
ts AS (SELECT source AS src2, sum(tf_st) AS ts FROM st GROUP BY source),
scored AS (
  SELECT s.source, s.tf_st, log2(c.tf) - log2(total.total) AS lp_c
  FROM st s JOIN counts c USING (tok) CROSS JOIN total
),
contrib AS (
  SELECT scored.source, tf_st,
         tf_st * ((log2(tf_st) - log2(ts.ts)) - lp_c) AS term
  FROM scored JOIN ts ON scored.source IS NOT DISTINCT FROM ts.src2
)
SELECT source, sum(tf_st)::BIGINT AS n_tokens,
       round(sum(term) / sum(tf_st), 6) AS kl_bits
FROM contrib GROUP BY source
"""


def oracle_tfidf_top_terms() -> str:
    """DuckDB twin of textstats.tfidf_top_terms: round-then-rank with
    the term tie-break (the repo-wide engine-portability rule)."""
    return f"""
WITH doc_tf AS (
  SELECT doc_id, tok, count(*) AS tf_dt
  FROM (SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents)
  GROUP BY doc_id, tok
),
dfc AS (SELECT tok, count(*) AS df FROM doc_tf GROUP BY tok),
nd AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, tok AS term,
         round(tf_dt * log2((n_docs + 1.0) / (df + 1.0)), 6) AS tfidf
  FROM doc_tf JOIN dfc USING (tok) CROSS JOIN nd
),
ranked AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, term, tfidf, rank::INT AS rank
FROM ranked WHERE rank <= {textstats.TFIDF_TOP_K}
"""


def oracle_cms_delta_heavy_hitters() -> str:
    """DuckDB twin of the persisted-CMS probe: base and delta sketches
    replayed from scratch (counter sums across wave segments equal the
    one-pass sketch — the linearity the index family is built on), the
    same positional bucket decode, and the delta-candidate min."""
    d, k = textstats.CMS_DEPTH, textstats.CMS_TOP_K
    seeds = ", ".join(str(i) for i in range(d))
    hexpos = "strpos('0123456789abcdef', substr(h, {i}, 1)) - 1"
    bucket = (
        f"(({hexpos.format(i=1)}) * 256 + ({hexpos.format(i=2)}) * 16"
        f" + ({hexpos.format(i=3)}))"
    )
    return f"""
WITH bcounts AS (
  SELECT tok, count(*) AS tf
  FROM (SELECT unnest({_TOKENS}) AS tok FROM documents WHERE doc_id % 2 = 0)
  GROUP BY tok
),
bhashed AS (
  SELECT tf, d, {bucket} AS bucket
  FROM (SELECT tf, d, md5('cms' || d::VARCHAR || ':' || tok) AS h
        FROM bcounts, unnest([{seeds}]) AS t(d))
),
bsketch AS (SELECT d, bucket, sum(tf) AS cnt FROM bhashed GROUP BY d, bucket),
dcounts AS (
  SELECT tok, count(*) AS tf
  FROM (SELECT unnest({_TOKENS}) AS tok FROM documents WHERE doc_id % 2 = 1)
  GROUP BY tok
),
dhashed AS (
  SELECT tok, tf, d, {bucket} AS bucket
  FROM (SELECT tok, tf, d, md5('cms' || d::VARCHAR || ':' || tok) AS h
        FROM dcounts, unnest([{seeds}]) AS t(d))
),
dsketch AS (SELECT d, bucket, sum(tf) AS cnt FROM dhashed GROUP BY d, bucket),
comb AS (
  SELECT ds.d, ds.bucket, ds.cnt + coalesce(bs.cnt, 0) AS cnt
  FROM dsketch ds LEFT JOIN bsketch bs USING (d, bucket)
),
est AS (
  SELECT tok, tf, min(cnt) AS est
  FROM dhashed JOIN comb USING (d, bucket) GROUP BY tok, tf
),
ranked AS (
  SELECT tok AS token, tf, est,
         row_number() OVER (ORDER BY est DESC, tok ASC) AS rank
  FROM est
)
SELECT token, tf::BIGINT AS delta_count, est::BIGINT AS cms_estimate,
       rank::INT AS rank
FROM ranked WHERE rank <= {k}
"""


def oracle_hll_distinct_tokens() -> str:
    """DuckDB twin of textstats.hll_distinct_tokens: the identical
    string-level rho (regexp leading-zero count + nibble CASE table —
    never FP log2), exact power-of-two register sums, the same embedded
    alpha literal, and ln() only inside the small-range branch."""
    t = textstats
    hexpos = "strpos('0123456789abcdef', substr(h, {i}, 1)) - 1"
    reg = f"(({hexpos.format(i=1)}) * 16 + ({hexpos.format(i=2)}))"
    nib = " ".join(
        f"WHEN '{ch}' THEN {lz}" for ch, lz in sorted(t.HLL_NIBBLE_LZ.items())
    )
    m = float(t.HLL_M)
    return f"""
WITH toks AS (
  SELECT lang, unnest({_TOKENS}) AS tok FROM documents
),
hashed AS (SELECT lang, tok, md5(tok) AS h FROM toks),
nzc AS (
  SELECT lang, tok, h,
         length(regexp_extract(substr(h, 3, {t.HLL_SUB_HEX}), '^(0*)', 1)) AS nz
  FROM hashed
),
rho AS (
  SELECT lang, {reg} AS reg,
         CASE WHEN nz = {t.HLL_SUB_HEX} THEN {4 * t.HLL_SUB_HEX + 1}
              ELSE 4 * nz
                   + (CASE substr(substr(h, 3, {t.HLL_SUB_HEX}), nz + 1, 1)
                        {nib} ELSE 0 END)
                   + 1 END AS rho
  FROM nzc
),
regs AS (SELECT lang, reg, max(rho) AS m_j FROM rho GROUP BY lang, reg),
sk AS (
  SELECT lang, count(*) AS n_present,
         sum(power(2.0, -m_j)) AS sum_present
  FROM regs GROUP BY lang
),
ex AS (SELECT lang, count(DISTINCT tok)::BIGINT AS exact_distinct
       FROM toks GROUP BY lang),
est AS (
  SELECT sk.lang, ex.exact_distinct,
         {t.HLL_ALPHA}::DOUBLE * {m}::DOUBLE * {m}::DOUBLE
           / (sum_present + ({m}::DOUBLE - n_present)) AS raw,
         ({m}::DOUBLE - n_present) AS zeros
  FROM sk JOIN ex ON sk.lang IS NOT DISTINCT FROM ex.lang
)
SELECT lang, exact_distinct,
       round(CASE WHEN raw <= 2.5 * {m}::DOUBLE AND zeros > 0
                  THEN {m}::DOUBLE * ln({m}::DOUBLE / zeros) ELSE raw END, 4) AS hll_estimate
FROM est
"""


def oracle_bloom_delta_new_docs() -> str:
    """DuckDB twin of the persisted-Bloom probe: base bits replayed from
    the even ids (distinct positions — OR idempotence), the same 4-hex
    positional decode, the all-k-probes-hit membership test over the
    delta's distinct digests, and the exact-membership yardstick the
    gate query adds (false positives measured, false negatives
    impossible)."""
    d = dedup
    seeds = ", ".join(str(i) for i in range(d.BLOOM_K))
    hexpos = "strpos('0123456789abcdef', substr(h, {i}, 1)) - 1"
    pos = (
        f"(({hexpos.format(i=1)}) * 4096 + ({hexpos.format(i=2)}) * 256"
        f" + ({hexpos.format(i=3)}) * 16 + ({hexpos.format(i=4)}))"
    )
    return f"""
WITH bdig AS (
  SELECT DISTINCT md5(text) AS digest FROM documents WHERE doc_id % 2 = 0
),
bpos AS (
  SELECT DISTINCT {pos} AS pos
  FROM (SELECT md5('bloom' || i::VARCHAR || ':' || digest) AS h
        FROM bdig, unnest([{seeds}]) AS t(i))
),
delta AS (
  SELECT doc_id, md5(text) AS digest FROM documents WHERE doc_id % 2 = 1
),
dpos AS (
  SELECT digest, {pos} AS pos
  FROM (SELECT digest, md5('bloom' || i::VARCHAR || ':' || digest) AS h
        FROM (SELECT DISTINCT digest FROM delta), unnest([{seeds}]) AS t(i))
),
hits AS (
  SELECT digest, count(*) AS n_hit FROM dpos JOIN bpos USING (pos)
  GROUP BY digest
)
SELECT d.doc_id, d.digest,
       coalesce(h.n_hit, 0) = {d.BLOOM_K} AS possibly_seen,
       d.digest IN (SELECT digest FROM bdig) AS actually_seen
FROM delta d LEFT JOIN hits h USING (digest)
"""


def oracle_quality_classifier_scores() -> str:
    """DuckDB twin of textstats.quality_classifier_scores: the identical
    two-md5 bucket->weight derivation (6-hex positional decode), exact
    integer weight sums (order-independent — the portability move), one
    final division mirrored verbatim, and the keep verdict on the
    ROUNDED logit."""
    t = textstats
    hexpos = "strpos('0123456789abcdef', substr(h, {i}, 1)) - 1"
    w = " + ".join(
        f"({hexpos.format(i=i + 1)}) * {16 ** (t.QC_WEIGHT_HEX - 1 - i)}"
        for i in range(t.QC_WEIGHT_HEX)
    )
    return f"""
WITH toks AS (SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents),
w AS (
  SELECT doc_id, ({w}) - {t.QC_WEIGHT_MID} AS w
  FROM (SELECT doc_id,
               md5('qw:' || substr(md5('qt:' || tok), 1, {t.QC_BUCKET_HEX})) AS h
        FROM toks)
),
agg AS (SELECT doc_id, sum(w) AS w_sum, count(*) AS n_tokens FROM w GROUP BY doc_id)
SELECT doc_id, n_tokens::BIGINT AS n_tokens,
       round(w_sum / (n_tokens * {float(t.QC_WEIGHT_MID)}), 6) AS quality_logit,
       round(w_sum / (n_tokens * {float(t.QC_WEIGHT_MID)}), 6) >= {t.QC_THRESHOLD} AS kept
FROM agg
"""


def oracle_source_temperature_mix() -> str:
    """DuckDB twin of textstats.source_temperature_mix: the same α
    literal, pow() immediately quantized to an integer relative weight
    (exact sums), and the weight/epoch divisions in the identical
    left-associated expression shape."""
    t = textstats
    return f"""
WITH per_src AS (
  SELECT source, sum(len({_TOKENS}))::BIGINT AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT sum(n_tokens) AS total FROM per_src),
wi AS (
  SELECT source, n_tokens, total,
         round(pow(n_tokens / total, {t.MIX_ALPHA}) * {t.MIX_W_SCALE}, 0)::BIGINT AS w_int
  FROM per_src CROSS JOIN tot
),
wt AS (SELECT sum(w_int) AS w_total FROM wi)
SELECT source, n_tokens,
       round(n_tokens / total, 6) AS p_raw,
       round(w_int / w_total, 6) AS mix_weight,
       round(w_int / w_total * total / n_tokens, 4) AS expected_epochs
FROM wi CROSS JOIN wt
"""


def oracle_zipf_law_fit() -> str:
    """DuckDB twin of textstats.zipf_law_fit: the naive whole-stratum
    rank window IS the oracle (the banded two-phase is the scale
    implementation — band order refines tf order, so ranks agree),
    quantized integer regression sums (DuckDB sums BIGINT into HUGEINT;
    exact either way at the bounded head size), and the final divisions
    on exact integer inputs."""
    t = textstats
    return f"""
WITH counts AS (
  SELECT lang, tok, count(*) AS tf
  FROM (SELECT lang, unnest({_TOKENS}) AS tok FROM documents)
  GROUP BY lang, tok
),
ranked AS (
  SELECT lang, tf,
         row_number() OVER (PARTITION BY lang ORDER BY tf DESC, tok ASC) AS rk
  FROM counts
),
pts AS (
  SELECT lang,
         round(log2(rk) * {t.ZIPF_Q}, 0)::BIGINT AS x,
         round(log2(tf) * {t.ZIPF_Q}, 0)::BIGINT AS y
  FROM ranked WHERE rk <= {t.ZIPF_TOP_K}
),
sums AS (
  SELECT lang, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy
  FROM pts GROUP BY lang
)
SELECT lang, n::INT AS n_head,
       round((n*sxy - sx*sy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE, 4) AS zipf_slope,
       CASE WHEN (n*syy - sy*sy) = 0 THEN NULL
            ELSE round((n*sxy - sx*sy)::DOUBLE * (n*sxy - sx*sy)::DOUBLE
                       / ((n*sxx - sx*sx)::DOUBLE * (n*syy - sy*sy)::DOUBLE), 4)
       END AS zipf_r2
FROM sums WHERE n >= 2
"""


def oracle_funnel_conversion() -> str:
    """DuckDB twin of sessionize.funnel_conversion: per-step first-touch
    completion times via the same monotone user-keyed min-joins, exact
    timestamp comparisons, integer counts (the only FP step is the
    rounded final rate)."""
    steps = sessionize.FUNNEL_STEPS
    ctes = [
        f"s1 AS (SELECT user_id, min(ts) AS t FROM events "
        f"WHERE event_type = '{steps[0]}' GROUP BY user_id)"
    ]
    for i, st in enumerate(steps[1:], start=2):
        ctes.append(
            f"s{i} AS (SELECT e.user_id, min(e.ts) AS t FROM events e "
            f"JOIN s{i-1} p ON e.user_id = p.user_id AND e.ts > p.t "
            f"WHERE e.event_type = '{st}' GROUP BY e.user_id)"
        )
    unions = " UNION ALL ".join(
        f"SELECT {i+1} AS step, '{st}' AS event_type, "
        f"(SELECT count(*) FROM s{i+1}) AS n_users"
        for i, st in enumerate(steps)
    )
    return f"""
WITH {', '.join(ctes)},
c AS ({unions})
SELECT step, event_type, n_users::BIGINT AS n_users,
       round(n_users / (SELECT count(*) FROM s1), 6) AS conv_rate
FROM c
"""


def oracle_pmi_collocations() -> str:
    """DuckDB twin of textstats.pmi_collocations: the SAME five-term
    left-to-right log2 sum and milli-bit quantization; top-K under the
    identical total order."""
    t = textstats
    return f"""
WITH toks AS (SELECT doc_id, {_TOKENS} AS arr FROM documents),
base AS (SELECT * FROM toks WHERE len(arr) >= 2),
bg AS (
  SELECT arr[i] AS w1, arr[i+1] AS w2
  FROM base, unnest(generate_series(1, len(arr) - 1)) AS s(i)
),
bgc AS (
  SELECT w1, w2, count(*) AS bf FROM bg GROUP BY 1, 2
  HAVING count(*) >= {t.PMI_MIN_COUNT}
),
uni AS (
  SELECT tok, count(*) AS uf
  FROM (SELECT unnest(arr) AS tok FROM base) u GROUP BY 1
),
tot AS (SELECT (SELECT sum(uf) FROM uni) AS n_uni,
               (SELECT count(*) FROM bg) AS n_bi)
SELECT w1, w2, bf::BIGINT AS n_ab,
       round((log2(bf) + 2 * log2(n_uni) - log2(n_bi)
              - log2(u1.uf) - log2(u2.uf)) * {t.PMI_Q}, 0)::BIGINT AS pmi_q
FROM bgc
CROSS JOIN tot
JOIN uni u1 ON u1.tok = w1
JOIN uni u2 ON u2.tok = w2
ORDER BY pmi_q DESC, w1, w2
LIMIT {t.PMI_TOP_K}
"""


def oracle_label_centroid_similarity() -> str:
    """DuckDB twin of similarity.label_centroid_similarity: same per-dim
    rounded means (the IVF centroid portability rule), dim index 1-based
    here vs 0-based in Spark — internal join key only, never output."""
    m, c = similarity.CENTROID_MEAN_ROUND, similarity.CENTROID_COS_ROUND
    return f"""
WITH dims AS (
  SELECT label, i AS d, emb[i] AS x
  FROM (SELECT label, embedding::DOUBLE[] AS emb FROM embeddings),
       unnest(generate_series(1, len(emb))) AS t(i)
),
cent AS (SELECT label, d, round(avg(x), {m}) AS c FROM dims GROUP BY 1, 2),
norms AS (SELECT label, sum(c * c) AS nn FROM cent GROUP BY 1),
dots AS (
  SELECT a.label AS label_a, b.label AS label_b, sum(a.c * b.c) AS dot
  FROM cent a JOIN cent b USING (d)
  WHERE a.label < b.label GROUP BY 1, 2
)
SELECT label_a, label_b,
       round(dot / (sqrt(na.nn) * sqrt(nb.nn)), {c}) AS cosine
FROM dots
JOIN norms na ON na.label = dots.label_a
JOIN norms nb ON nb.label = dots.label_b
"""


def oracle_source_overlap_matrix() -> str:
    """DuckDB twin of dedup.source_overlap_matrix: same winnow selection
    CTEs as oracle_winnow_overlap_pairs, projected to (source, fp)."""
    w = dedup.WINNOW_WINDOW - 1
    return f"""
WITH toks AS (SELECT doc_id, {_TOKENS} AS arr FROM documents),
sh AS (
  SELECT doc_id, i AS pos, md5(arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2]) AS h
  FROM toks, unnest(generate_series(1, len(arr) - 2)) AS t(i)
  WHERE len(arr) >= 3
),
sel AS (
  SELECT DISTINCT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {w} FOLLOWING) AS fp
  FROM sh
),
sf AS (
  SELECT DISTINCT coalesce(d.source, '{dedup.NULL_SOURCE_LABEL}') AS source, s.fp
  FROM sel s JOIN documents d USING (doc_id)
),
sizes AS (SELECT source, count(*) AS n_fp FROM sf GROUP BY source),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
  FROM sf a JOIN sf b USING (fp)
  WHERE a.source < b.source GROUP BY 1, 2
)
SELECT g.source_a, g.source_b,
       coalesce(p.n_shared, 0)::BIGINT AS n_shared,
       round(coalesce(p.n_shared, 0)::DOUBLE / least(na.n_fp, nb.n_fp), 6)
         AS containment
FROM (SELECT a.source AS source_a, b.source AS source_b
      FROM sizes a JOIN sizes b ON a.source < b.source) g
JOIN sizes na ON na.source = g.source_a
JOIN sizes nb ON nb.source = g.source_b
LEFT JOIN pairs p ON p.source_a = g.source_a AND p.source_b = g.source_b
"""


_ASOF_CUTOFF = "2024-01-24 00:00:00"


def oracle_asof_join_enrich(delta_only: bool = False) -> str:
    """DuckDB twin of temporal.asof_enrich: the same union-window spelling
    (not DuckDB's ASOF JOIN — its tie semantics at equal timestamps are
    not the contract's; the window replay pins the exact total order).
    ``delta_only`` restricts the OUTPUT to targets at/after the delta
    cutoff while still ranking over full history — exactly the identity
    the incremental probe (asof_delta_enrich) must reproduce."""
    cut = (
        f" AND ts_us >= epoch_us(TIMESTAMP '{_ASOF_CUTOFF}')"
        if delta_only
        else ""
    )
    return f"""
WITH tagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, 0 AS is_tgt
  FROM events WHERE event_type = '{temporal.ASOF_REF_TYPE}'
  UNION ALL
  SELECT user_id, event_id, epoch_us(ts), 1
  FROM events WHERE event_type = '{temporal.ASOF_TARGET_TYPE}'
),
carried AS (
  SELECT user_id, event_id, ts_us, is_tgt,
         last_value(CASE WHEN is_tgt = 0 THEN event_id END IGNORE NULLS)
           OVER win AS ref_event_id,
         last_value(CASE WHEN is_tgt = 0 THEN ts_us END IGNORE NULLS)
           OVER win AS ref_ts_us
  FROM tagged
  WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, is_tgt, event_id
                 ROWS UNBOUNDED PRECEDING)
)
SELECT event_id::BIGINT AS event_id, user_id, ts_us::BIGINT AS ts_us,
       coalesce(ref_event_id, -1)::BIGINT AS ref_event_id,
       coalesce(ref_ts_us, -1)::BIGINT AS ref_ts_us,
       coalesce(ts_us - ref_ts_us, -1)::BIGINT AS lag_us
FROM carried WHERE is_tgt = 1{cut}
"""


def oracle_time_rollup() -> str:
    """DuckDB twin of temporal.time_rollup.  Each level aggregates the
    base table directly (the engine re-aggregates coarse levels from fine
    partials; per-row integer micro-unit quantization makes both exact
    long sums, so the shapes agree bit-for-bit)."""
    levels = []
    for res in temporal.ROLLUP_RESOLUTIONS_S:
        levels.append(
            f"SELECT {res} AS resolution_s, "
            f"((epoch_us(ts) // {1_000_000 * res}) * {res})::BIGINT AS bucket_start_s, "
            f"event_type, count(*)::BIGINT AS n_events, "
            f"sum(coalesce(floor(value * 1e6)::BIGINT, 0))::BIGINT AS sum_value_micro "
            f"FROM events GROUP BY 1, 2, 3"
        )
    return " UNION ALL ".join(levels)


def oracle_session_concurrency() -> str:
    """DuckDB twin of temporal.session_concurrency: the same gap sessions
    (session_stats CTE), then the DIRECT interval-overlap join — at oracle
    scale the pair set is materializable, and DuckDB plans the two
    inequalities as an IEJoin.  The engine's sweep formulation must count
    exactly what the naive join counts."""
    gap_us = sessionize.DEFAULT_GAP_MINUTES * 60 * 1_000_000
    return f"""
WITH ordered AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {gap_us}
              THEN 1 ELSE 0 END AS is_new
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM ordered
),
iv AS (
  SELECT user_id, session_idx::BIGINT AS session_idx,
         epoch_us(min(ts)) AS s_us, epoch_us(max(ts)) AS e_us
  FROM sess GROUP BY user_id, session_idx
)
SELECT a.user_id, a.session_idx,
       (count(*) - 1)::BIGINT AS n_concurrent
FROM iv a JOIN iv b ON b.s_us <= a.e_us AND b.e_us >= a.s_us
GROUP BY a.user_id, a.session_idx
"""


def oracle_repetition_stats() -> str:
    return f"""
WITH base AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
bg AS (
  SELECT doc_id, arr[i] || ' ' || arr[i+1] AS bg
  FROM (SELECT doc_id, toks AS arr FROM base),
       unnest(generate_series(1, len(arr) - 1)) AS t(i)
  WHERE len(arr) >= 2
),
per_doc AS (
  SELECT doc_id, max(n) AS top_bg, sum(n) AS n_bigrams
  FROM (SELECT doc_id, bg, count(*) AS n FROM bg GROUP BY 1, 2) GROUP BY doc_id
)
SELECT b.doc_id, len(b.toks)::INT AS n_tokens,
       coalesce(p.n_bigrams, 0)::BIGINT AS n_bigrams,
       round(coalesce(p.top_bg::DOUBLE / p.n_bigrams, 0.0), 6) AS top_bigram_frac,
       round((len(b.toks) - len(list_distinct(b.toks)))::DOUBLE / len(b.toks), 6) AS dup_token_frac
FROM base b LEFT JOIN per_doc p USING (doc_id)
"""


def oracle_lang_id() -> str:
    return """
SELECT lang,
       CASE WHEN (' ' || lower(text) || ' ') LIKE '% the %'
              OR (' ' || lower(text) || ' ') LIKE '% and %'
              OR (' ' || lower(text) || ' ') LIKE '% of %'
            THEN 'en' ELSE 'und' END AS lang_guess,
       count(*)::BIGINT AS n_docs
FROM documents GROUP BY 1, 2
"""


def oracle_fingerprints() -> str:
    return """
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
       length(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))::INT AS norm_len
FROM documents
"""


def oracle_minhash_signatures() -> str:
    mh_cols = ", ".join(f"mh{i}" for i in range(dedup.MINHASH_K))
    concat = " || '|' || ".join(f"mh{i}" for i in range(dedup.MINHASH_K))
    return f"WITH {_SIG_CTE} SELECT doc_id, md5({concat}) AS signature, {mh_cols} FROM sig"


def oracle_lsh_candidate_pairs() -> str:
    return (
        f"WITH {_SIG_CTE}, bands AS ({_minhash_bands_sql()}) "
        "SELECT band::INT AS band, bucket, count(*)::BIGINT AS n_docs "
        "FROM bands GROUP BY band, bucket HAVING count(*) > 1"
    )


def _minhash_bands_sql() -> str:
    rows_per_band = dedup.MINHASH_K // dedup.LSH_BANDS
    band_selects = []
    for b in range(dedup.LSH_BANDS):
        cols = " || '|' || ".join(
            f"mh{i}" for i in range(b * rows_per_band, (b + 1) * rows_per_band)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5({cols}) AS bucket FROM sig"
        )
    return " UNION ALL ".join(band_selects)


def _capped_cand_ctes() -> str:
    """Shared WITH-chain body ending in ``capped`` (under-cap MinHash
    band rows) — the single source for every oracle that consumes the
    banded candidate set (lsh_candidate_doc_pairs, edit_verified_pairs);
    a candidate-shape change edits ONE place."""
    return f"""{_SIG_CTE}, bands AS ({_minhash_bands_sql()}),
capped AS (
  SELECT b.* FROM bands b
  JOIN (SELECT band, bucket FROM bands GROUP BY 1, 2
        HAVING count(*) <= {dedup.MINHASH_BUCKET_CAP}) ok USING (band, bucket)
)"""


_CAND_SELECT = """
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_shared_bands
  FROM capped a JOIN capped b USING (band, bucket)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2"""


def oracle_lsh_candidate_doc_pairs() -> str:
    return f"WITH {_capped_cand_ctes()}\n{_CAND_SELECT}"


def oracle_doc_pagerank() -> str:
    """DuckDB twin of graph.doc_pagerank: the Lloyd-style lockstep replay
    (IVF k-means precedent) — each PageRank iteration is one chained CTE,
    every term exact long arithmetic (``//`` == Spark ``div`` on
    non-negative longs), the edge CTE composes the lsh_candidate_doc_pairs
    oracle as a derived table so edits to the pair replay propagate."""
    S = graph.PAGERANK_SCALE
    dn, dd = graph.PAGERANK_DAMP_NUM, graph.PAGERANK_DAMP_DEN
    teleport = f"({S} * {dd - dn}) // ({dd} * (SELECT n FROM nn))"
    ctes = [
        "pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM ("
        + oracle_lsh_candidate_doc_pairs()
        + ") t)",
        "edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs "
        "UNION ALL SELECT doc_b, doc_a FROM pairs)",
        "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)",
        "nd AS MATERIALIZED (SELECT d.doc_id, coalesce(g.deg, 0) AS deg "
        "FROM documents d LEFT JOIN deg g ON g.src = d.doc_id)",
        "nn AS (SELECT count(*) AS n FROM nd)",
        f"pr0 AS MATERIALIZED (SELECT doc_id, deg, {S} // (SELECT n FROM nn) AS pr FROM nd)",
    ]
    for i in range(graph.PAGERANK_ITERS):
        share = (
            f"(SELECT coalesce(sum((pr * {dn}) // {dd}), 0) FROM pr{i} "
            f"WHERE deg = 0) // (SELECT n FROM nn)"
        )
        ctes.append(
            f"pr{i + 1} AS MATERIALIZED (SELECT n.doc_id, n.deg, "
            f"({teleport} + {share} + coalesce(s.c, 0))::BIGINT AS pr "
            f"FROM nd n LEFT JOIN ("
            f"SELECT e.dst AS doc_id, sum((p.pr * {dn}) // ({dd} * p.deg)) AS c "
            f"FROM pr{i} p JOIN edges e ON e.src = p.doc_id "
            f"WHERE p.deg > 0 GROUP BY e.dst) s ON s.doc_id = n.doc_id)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT doc_id, pr::BIGINT AS pr_scaled FROM pr{graph.PAGERANK_ITERS}"
    )


_NORM_PLANT_N = 20


def q_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware exact dedup.  The corpus has no natural
    case/punctuation mirror copies, so they are PLANTED: doc_id <
    _NORM_PLANT_N re-enters uppercased with trailing punctuation and
    doubled spaces — byte-distinct (raw exact dedup sees nothing) but
    normalization-identical, so each planted digest group has n_docs=2
    with the seed as survivor."""
    docs = load(spark, sf_dir, "documents")
    planted = docs.where(F.col("doc_id") < _NORM_PLANT_N).select(
        (F.col("doc_id") + PLANT_ID_OFFSET).alias("doc_id"),
        F.concat(
            F.regexp_replace(F.upper("text"), " ", "  "), F.lit("!!!")
        ).alias("text"),
    )
    return dedup.normalized_dedup(
        docs.select("doc_id", "text").unionByName(planted)
    )


def oracle_normalized_dedup() -> str:
    return f"""
WITH probed AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {PLANT_ID_OFFSET},
         regexp_replace(upper(text), ' ', '  ', 'g') || '!!!'
  FROM documents WHERE doc_id < {_NORM_PLANT_N}
)
SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]+', ' ', 'g'),
                               '\\s+', ' ', 'g'))) AS digest,
       min(doc_id) AS first_doc_id, count(*)::BIGINT AS n_docs
FROM probed GROUP BY 1
"""


def oracle_edit_verified_pairs(max_norm: float = dedup.EDIT_VERIFY_MAX_NORM) -> str:
    """DuckDB twin of dedup.edit_verified_pairs: the shared capped
    candidate CTEs + levenshtein verification over the same ASCII
    projection the engine uses (DuckDB's levenshtein counts BYTES where
    Spark's counts code points — on the projection they agree).  The
    engine's length prefilter is OMITTED here on purpose —
    |len_a−len_b| is a lower bound on edit distance and both filters
    compare the same rounded form, so the prefilter never changes the
    result set, only when the DP table is computed."""
    proj = "regexp_replace({}, '[^\\x00-\\x7F]', '?', 'g')"
    ta, tb = proj.format("da.text"), proj.format("db.text")
    # levenshtein is evaluated ONCE per candidate in a wrapping subquery
    # (it is the dominant cost of this gate query — inlining it into the
    # projection AND the WHERE roughly tripled the DP work)
    return f"""
WITH {_capped_cand_ctes()},
cand AS ({_CAND_SELECT}
),
measured AS (
  SELECT doc_a, doc_b, n_shared_bands,
         levenshtein({ta}, {tb})::BIGINT AS edit_dist,
         greatest(length({ta}), length({tb})) AS max_len
  FROM cand
  JOIN documents da ON da.doc_id = doc_a
  JOIN documents db ON db.doc_id = doc_b
)
SELECT doc_a, doc_b, n_shared_bands, edit_dist,
       round(edit_dist / max_len, 6) AS norm_dist
FROM measured
WHERE round(edit_dist / max_len, 6) <= {max_norm}
"""


def _simhash_cte(bits: int) -> str:
    """CTE chain ending in ``sh(doc_id, simhash)`` for a given bit width."""
    sums = []
    for j in range(bits):
        char_idx = j // 4 + 1
        bit_in_char = j % 4
        sums.append(
            f"sum(CASE WHEN ((strpos('0123456789abcdef', substr(h, {char_idx}, 1)) - 1) >> {bit_in_char}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        )
    # two's-complement packing mirrors dedup.simhash: bit 63 contributes
    # -2^63 (spelled -(2^63-1)-1 — the positive literal alone overflows
    # BIGINT).  Terms are cast per-CASE so DuckDB sums in BIGINT, matching
    # Spark's long arithmetic bit-for-bit.
    weight = " + ".join(
        (
            f"CASE WHEN s{j} > 0 THEN (-9223372036854775807 - 1)::BIGINT ELSE 0::BIGINT END"
            if j == 63
            else f"CASE WHEN s{j} > 0 THEN {1 << j}::BIGINT ELSE 0::BIGINT END"
        )
        for j in range(bits)
    )
    return f"""toks AS (SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents),
hashed AS (SELECT doc_id, md5(tok) AS h FROM toks),
sums AS (SELECT doc_id, {', '.join(sums)} FROM hashed GROUP BY doc_id),
sh AS (SELECT doc_id, ({weight})::BIGINT AS simhash FROM sums)"""


def oracle_simhash() -> str:
    return f"WITH {_simhash_cte(dedup.SIMHASH_BITS)} SELECT doc_id, simhash FROM sh"


def oracle_simhash_near_dup_pairs() -> str:
    bits = dedup.SIMHASH_PAIR_BITS
    bands = dedup.SIMHASH_BANDS
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band, (simhash >> {b * band_bits}) & {mask} AS bkey FROM sh"
        for b in range(bands)
    )
    return f"""
WITH {_simhash_cte(bits)},
rows_b AS ({band_rows}),
capped AS (
  SELECT r.* FROM rows_b r
  JOIN (SELECT band, bkey FROM rows_b GROUP BY 1, 2
        HAVING count(*) <= {dedup.SIMHASH_BAND_CAP}) ok USING (band, bkey)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM capped a JOIN capped b USING (band, bkey)
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.simhash, b.simhash)) <= {dedup.SIMHASH_HAMMING_MAX}
"""


def oracle_ngram_jaccard() -> str:
    return f"""
WITH {_blocked_pairs_sql()},
scored AS (
  SELECT doc_a, doc_b,
         round(common::DOUBLE / (na.n_sh + nb.n_sh - common), 6) AS jaccard
  FROM pairs
  JOIN sizes na ON na.doc_id = doc_a
  JOIN sizes nb ON nb.doc_id = doc_b
)
SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= 0.1
"""


_CONTAIN_PLANT_N = 15
_CONTAIN_PREFIX_TOKENS = 40


def q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment over a corpus with PLANTED sub-document
    duplication: the first _CONTAIN_PLANT_N docs re-enter under new ids
    as their own 40-token PREFIX — a 'quote' whose shingles are a strict
    subset of the seed's, so containment ≈ 1 while Jaccard is small (the
    exact case symmetric similarity misses)."""
    docs = load(spark, sf_dir, "documents")
    quote = F.concat_ws(
        " ",
        F.slice(
            F.split(F.trim("text"), r"\s+"), 1, _CONTAIN_PREFIX_TOKENS
        ),
    )
    planted = docs.where(F.col("doc_id") < _CONTAIN_PLANT_N).select(
        (F.col("doc_id") + PLANT_ID_OFFSET).alias("doc_id"),
        quote.alias("text"),
    )
    return dedup.ngram_containment_pairs(
        docs.select("doc_id", "text").unionByName(planted)
    )


def oracle_ngram_containment() -> str:
    return f"""
WITH probed AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {PLANT_ID_OFFSET},
         array_to_string(({_TOKENS})[1:{_CONTAIN_PREFIX_TOKENS}], ' ')
  FROM documents WHERE doc_id < {_CONTAIN_PLANT_N}
),
{_blocked_pairs_sql("probed")},
scored AS (
  SELECT doc_a, doc_b,
         round(common::DOUBLE / least(na.n_sh, nb.n_sh), 6) AS containment,
         round(common::DOUBLE / (na.n_sh + nb.n_sh - common), 6) AS jaccard
  FROM pairs
  JOIN sizes na ON na.doc_id = doc_a
  JOIN sizes nb ON nb.doc_id = doc_b
)
SELECT doc_a, doc_b, containment, jaccard FROM scored
WHERE containment >= {dedup.CONTAINMENT_THRESHOLD}
"""


_STRATA_FRACTIONS = {"en": 0.5, "zh": 0.25, "de": 0.1}
_STRATA_DEFAULT = 0.05


_TOKEN_BUDGETS = {"en": 20_000, "es": 8_000}
_TOKEN_BUDGET_DEFAULT = 2_000


# State-store / probe-shuffle width for the gate's streamed queries:
# Structured Streaming allocates and commits spark.sql.shuffle.partitions
# state partitions per micro-batch with no AQE coalescing, so the session
# default (32) is pure fixed cost at gate key cardinalities (~10^3) —
# measured 4-7 s -> ~2 s per stateful stream at sf0.01.  Production
# callers size state_partitions to peak key cardinality instead (the
# width freezes into the checkpoint at the first batch).
_STREAM_STATE_PARTITIONS = 8

_STREAM_TMPS: dict[str, str] = {}


def _stream_tmp(name: str) -> str:
    """One LIVE temp root per streamed gate query (keyed by query name,
    like _memo_index): these queries return lazy frames over their
    staged corpus / sink / checkpoint, so the dir must outlive the call
    — but re-entry reaps the PREVIOUS invocation's generation instead
    of deferring every generation to interpreter exit, which in a
    long-lived driver re-running the gate accumulates unbounded /tmp.
    The final generation of each query is reaped by one atexit hook.

    CALLER CONTRACT: collect (or discard) a streamed query's frame
    before invoking the SAME query again — the re-entry reap deletes
    the files the previous frame reads lazily.  The gate and perfbench's
    query_mix both collect each invocation before the next; a harness
    that builds all frames up front and collects later would break here."""
    import atexit
    import shutil
    import tempfile

    if not _STREAM_TMPS:
        atexit.register(
            lambda: [
                shutil.rmtree(p, ignore_errors=True)
                for p in _STREAM_TMPS.values()
            ]
        )
    prev = _STREAM_TMPS.pop(name, None)
    if prev is not None:
        shutil.rmtree(prev, ignore_errors=True)
    tmp = tempfile.mkdtemp(prefix=f"{name}_")
    _STREAM_TMPS[name] = tmp
    return tmp


def q_streaming_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Structured Streaming extraction (file source, 2 files → 2
    availableNow triggers through foreachBatch — the minimum multi-batch
    shape; extraction is stateless so extra batches only cost gate wall)
    over the fixture corpus, verified against the same golden-spans
    VALUES oracle as the batch path — streaming and batch must be
    span-identical."""
    import shutil

    from .streaming.extract_stream import run_streaming_extraction

    # out_dir must outlive this call (the caller collects lazily):
    # _stream_tmp keeps ONE live generation per query and reaps the
    # previous one on re-entry; inputs/checkpoint are dropped as soon
    # as the stream has drained
    base = _stream_tmp("stream_extract")
    docs_dir = os.path.join(base, "docs")
    out_dir = os.path.join(base, "out")
    ck_dir = os.path.join(base, "ck")
    fixture_documents_df(spark).repartition(2).write.parquet(docs_dir)
    run_streaming_extraction(
        spark, docs_dir, out_dir, ck_dir, max_files_per_trigger=1
    )
    extracted = spark.read.parquet(out_dir)
    shutil.rmtree(docs_dir, ignore_errors=True)
    shutil.rmtree(ck_dir, ignore_errors=True)
    return extracted.select(
        "doc_id", F.posexplode_outer("extracted").alias("pos", "span")
    ).select(
        "doc_id",
        F.col("span.kind").alias("span_kind"),
        F.col("span.text").alias("span_text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.order").alias("span_order"),
    ).where(F.col("span_kind").isNotNull())


def q_streaming_session_stats_evicting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION streaming-sessionization shape under the batch oracle:
    per-session event-time eviction (state holds only open sessions), with
    the corpus staged as three mtime-ordered micro-batches — the real
    events, then two far-future sentinel events whose only job is to march
    the watermark past every real session's end + gap so all of them drain
    as exactly-once FINALS before the stream stops.  Sentinel users are
    negative ids, filtered from the result; the oracle is the same batch
    session_stats fixpoint as the full-history twin — proving the bounded-
    state path is row-identical to batch, not just "close"."""
    import datetime as dt
    import shutil
    import tempfile
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    spark = _utc(spark)
    tmp = tempfile.mkdtemp(prefix="sessev_")
    events_dir = os.path.join(tmp, "ev")
    os.makedirs(events_dir)
    src = os.path.join(sf_dir, "events.parquet")
    shutil.copyfile(src, os.path.join(events_dir, "b0.parquet"))
    max_ts = spark.read.parquet(src).agg(F.max("ts")).collect()[0][0]
    # the sentinels' ONLY job is to march the watermark 10/20 days past
    # every real session's end + gap — write the two 1-row files driver-
    # side with pyarrow (ms) instead of two Spark write jobs (measured
    # seconds each: a Python-pickled local relation never reuses its
    # worker).  Field names/types mirror streaming.windowed.EVENTS_SCHEMA;
    # the +days margin dwarfs any tz-convention drift in the collected
    # max_ts, and sentinel users are negative ids filtered from the result
    sentinel_schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us", tz="UTC")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    for i, days in ((1, 10), (2, 20)):
        tbl = pa.table(
            {
                "event_id": [-i],
                "ts": [max_ts + dt.timedelta(days=days)],
                "user_id": [-i],
                "event_type": ["sentinel"],
                "value": [0.0],
                "props": ["{}"],
            },
            schema=sentinel_schema,
        )
        pq.write_table(tbl, os.path.join(events_dir, f"b{i}.parquet"))
    now = time.time()
    for i in range(3):  # file source orders batches by modification time
        path = os.path.join(events_dir, f"b{i}.parquet")
        os.utime(path, (now + 10 * i, now + 10 * i))
    finals = run_streaming_sessionization_evicting(
        spark,
        events_dir,
        max_files_per_trigger=1,
        path_glob="*.parquet",
        state_partitions=_STREAM_STATE_PARTITIONS,
    )
    shutil.rmtree(tmp, ignore_errors=True)
    return finals.where(F.col("user_id") >= 0)


def q_streaming_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time exact dedup as a stateful stream: the corpus staged as
    two mtime-ordered micro-batches (doc_id mod 2 — composition is
    irrelevant: the survivor is the min doc_id, batch-order independent;
    two batches are the minimum that exercises cross-batch state, and
    the gate pays one stream trigger less than the former three),
    one tiny (survivor, count) state row per distinct digest, gated
    row-for-row against the plain batch groupBy oracle.  The gate-SF
    corpora (sf0.001/sf0.01) have no natural exact text duplicates —
    sf0.1 has 8 — so twins are PLANTED: doc_id <
    LINE_PLANT_N re-enters under PLANT_ID_OFFSET + doc_id, and because
    the offset is odd every twin lands in a DIFFERENT micro-batch than
    its seed — each duplicate digest exercises a real cross-batch state
    update, not a within-batch shortcut."""
    from .streaming.dedup import run_streaming_exact_dedup

    base = load(spark, sf_dir, "documents")
    docs = base.unionByName(
        base.where(F.col("doc_id") < LINE_PLANT_N).withColumn(
            "doc_id", F.col("doc_id") + PLANT_ID_OFFSET
        )
    )
    # survivors are read lazily from the batch-segmented sink — the root
    # stays live until the next invocation (_stream_tmp) or exit
    tmp, docs_dir = _stage_micro_batches(docs, root=_stream_tmp("sdedup"))
    return run_streaming_exact_dedup(
        spark,
        docs_dir,
        os.path.join(tmp, "out"),
        max_files_per_trigger=1,
        state_partitions=_STREAM_STATE_PARTITIONS,
    )


def q_streaming_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time NORMALIZED dedup as a stateful stream: the planted
    case/punct mirror corpus (same plants as normalized_dedup) staged as
    two mtime-ordered micro-batches; the odd offset puts every mirror in
    a different batch than its seed, so each collapse is a real
    cross-batch state update keyed on the normalized digest."""
    from .streaming.dedup import run_streaming_exact_dedup

    docs = load(spark, sf_dir, "documents")
    planted = docs.where(F.col("doc_id") < _NORM_PLANT_N).select(
        (F.col("doc_id") + PLANT_ID_OFFSET).alias("doc_id"),
        F.concat(
            F.regexp_replace(F.upper("text"), " ", "  "), F.lit("!!!")
        ).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    probed = docs.unionByName(planted)
    tmp, docs_dir = _stage_micro_batches(probed, root=_stream_tmp("sndedup"))
    return run_streaming_exact_dedup(
        spark,
        docs_dir,
        os.path.join(tmp, "out"),
        max_files_per_trigger=1,
        normalized=True,
        state_partitions=_STREAM_STATE_PARTITIONS,
    )


def oracle_streaming_normalized_dedup() -> str:
    """Same planted corpus, same normalized-key groupBy as the batch
    operator — the stream must equal it row-for-row, so the oracle IS
    oracle_normalized_dedup (one copy of the normalization SQL)."""
    return oracle_normalized_dedup()


def _stage_micro_batches(
    docs: DataFrame,
    prefix: str = "stage_",
    n_batches: int = 2,
    key_col: str = "doc_id",
    root: str | None = None,
    class_expr=None,
) -> tuple[str, str]:
    """Stage a documents frame as ``n_batches`` mtime-ordered parquet
    files (doc_id mod ``n_batches``, or an explicit ``class_expr`` int
    column 0..n-1 — the time-ordered streams need a ts split, not a key
    split) under ``root`` (or a fresh temp dir) — the shared harness for
    the streaming gates (file sources order batches by modification
    time).  Returns ``(tmp_root, docs_dir)``; the caller owns cleanup
    (rmtree after the stream drains, or a _stream_tmp root when the
    returned frame reads lazily)."""
    import glob
    import shutil
    import tempfile
    import time

    tmp = root if root is not None else tempfile.mkdtemp(prefix=prefix)
    docs_dir = os.path.join(tmp, "docs")
    os.makedirs(docs_dir)
    now = time.time()
    # ONE pass over the corpus (partitionBy on the batch class) instead of
    # n_batches filter+write jobs; the explicit repartition count puts each
    # class in exactly one task → exactly one file per class (and keeps AQE
    # from coalescing the write, per the round-4 partitioned-write finding)
    sdir = os.path.join(tmp, "staged")
    cls = (
        class_expr
        if class_expr is not None
        else (F.col(key_col) % n_batches).cast("int")
    )
    (
        docs.withColumn("_b", cls)
        .repartition(n_batches, "_b")
        .write.partitionBy("_b")
        .parquet(sdir)
    )
    for i in range(n_batches):
        dst = os.path.join(docs_dir, f"b{i}.parquet")
        parts = glob.glob(os.path.join(sdir, f"_b={i}", "part-*.parquet"))
        if not parts:
            # dynamic partitionBy writes NO directory for an empty class
            # (the old per-class coalesce(1) wrote an empty part file):
            # stage an explicit empty batch so class composition — not
            # data skew — decides the number of triggers
            edir = os.path.join(tmp, f"empty{i}")
            docs.limit(0).coalesce(1).write.parquet(edir)
            parts = glob.glob(os.path.join(edir, "part-*.parquet"))
        shutil.move(parts[0], dst)
        os.utime(dst, (now + 10 * i, now + 10 * i))
    return tmp, docs_dir


def oracle_streaming_exact_dedup() -> str:
    return f"""
WITH probed AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {PLANT_ID_OFFSET}, text FROM documents
  WHERE doc_id < {LINE_PLANT_N}
)
SELECT md5(text) AS digest, min(doc_id) AS first_doc_id,
       count(*)::BIGINT AS n_docs
FROM probed GROUP BY 1
"""


def q_streaming_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recurring-crawl near-dup pipeline AS a stream: each
    micro-batch probes the persisted SimHash index then appends itself
    (streaming/dedup.run_streaming_simhash_dedup).  Gate runs with the
    cap lifted (structurally — no per-wave bucket histogram) so the
    accumulated pair set provably equals the whole-corpus naive
    Hamming≤max sweep (banding is pigeonhole-exact); production keeps
    the default cap."""
    from .streaming.dedup import run_streaming_simhash_dedup

    docs = load(spark, sf_dir, "documents")
    # results are read lazily from the accumulator dir — root stays live
    # until the next invocation (_stream_tmp) or exit
    tmp, docs_dir = _stage_micro_batches(docs, root=_stream_tmp("ssimhash"))
    return run_streaming_simhash_dedup(
        spark,
        docs_dir,
        os.path.join(tmp, "index"),
        os.path.join(tmp, "results"),
        max_files_per_trigger=1,
        cap=None,  # structurally lifted: no per-wave histogram jobs
        state_partitions=_STREAM_STATE_PARTITIONS,
    )


def oracle_streaming_simhash_pairs() -> str:
    """Whole-corpus naive Hamming sweep — what the streamed union of
    per-wave probes must equal when the cap is lifted."""
    bits = dedup.SIMHASH_PAIR_BITS
    return f"""
WITH {_simhash_cte(bits)}
SELECT least(a.doc_id, b.doc_id) AS doc_a,
       greatest(a.doc_id, b.doc_id) AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {dedup.SIMHASH_HAMMING_MAX}
"""


def q_streaming_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vector twin of streaming_simhash_pairs: each micro-batch is
    coded once, probed against the persisted sign-LSH index, and written
    as its own idempotent segment.  Cap lifted so the accumulated union
    provably equals the whole-corpus banded sweep (band collision is a
    global property of two codes, independent of which wave carried
    each vector)."""
    from .streaming.dedup import run_streaming_embedding_dedup

    embeds = planted_embeddings(load(spark, sf_dir, "embeddings"))
    tmp, emb_dir = _stage_micro_batches(
        embeds, root=_stream_tmp("semb"), key_col="vec_id"
    )
    return run_streaming_embedding_dedup(
        spark,
        emb_dir,
        os.path.join(tmp, "index"),
        os.path.join(tmp, "results"),
        max_files_per_trigger=1,
        cap=None,  # structurally lifted: no per-wave histogram jobs
        state_partitions=_STREAM_STATE_PARTITIONS,
    )


def oracle_streaming_embedding_pairs() -> str:
    """Whole-planted-corpus banded cosine sweep with the cap lifted —
    what the streamed union of per-wave probes must equal."""
    cos = (
        "round(list_dot_product(ea.emb, eb.emb) / "
        "(sqrt(list_dot_product(ea.emb, ea.emb)) * "
        "sqrt(list_dot_product(eb.emb, eb.emb))), 3)"
    )
    return f"""
WITH planted AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {TWIN_ID_OFFSET}, embedding FROM embeddings WHERE vec_id < {N_PLANTED_TWINS}
),
base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM planted),
{_bands_cte(cap=10**9)},
cand AS (
  SELECT DISTINCT least(a.vec_id, b.vec_id) AS vec_a,
         greatest(a.vec_id, b.vec_id) AS vec_b
  FROM capped a JOIN capped b USING (band, bkey)
  WHERE a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, {cos} AS cosine
FROM cand JOIN base ea ON ea.vec_id = vec_a JOIN base eb ON eb.vec_id = vec_b
WHERE {cos} >= {similarity.EMBED_NEAR_DUP_THRESHOLD}
"""


def oracle_token_budget_sample() -> str:
    cases = " ".join(
        f"WHEN '{lang}' THEN {b}" for lang, b in sorted(_TOKEN_BUDGETS.items())
    )
    return f"""
WITH scored AS (
  SELECT doc_id, lang, len({_TOKENS})::INT AS n_tokens,
         md5('{sampling.SAMPLE_SALT}' || doc_id::VARCHAR) AS key
  FROM documents
),
cum AS (
  SELECT doc_id, lang, n_tokens,
         sum(n_tokens) OVER (PARTITION BY lang ORDER BY key, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM scored
)
SELECT doc_id, lang, n_tokens, cum_tokens::BIGINT AS cum_tokens
FROM cum
WHERE cum_tokens <= (CASE lang {cases} ELSE {_TOKEN_BUDGET_DEFAULT} END)
"""


def oracle_dedup_clusters() -> str:
    """Recursive-CTE twin of dedup.dedup_clusters: same jaccard edge set
    (shared with oracle_ngram_jaccard), true connected-component fixpoint,
    min-doc_id cluster labels."""
    return f"""
WITH RECURSIVE {_SHINGLE_CTE},
blocked AS (
  SELECT s.* FROM sh s
  JOIN (SELECT shingle FROM sh GROUP BY shingle
        HAVING count(*) <= {dedup.SHINGLE_DF_CAP}) ok USING (shingle)
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM blocked GROUP BY doc_id),
jp AS (
  SELECT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
    FROM blocked a JOIN blocked b USING (shingle)
    WHERE a.doc_id < b.doc_id GROUP BY 1, 2
  ) pairs
  JOIN sizes na ON na.doc_id = doc_a
  JOIN sizes nb ON nb.doc_id = doc_b
  WHERE round(common::DOUBLE / (na.n_sh + nb.n_sh - common), 6) >= 0.1
),
edges AS (SELECT doc_a AS a, doc_b AS b FROM jp
          UNION ALL SELECT doc_b, doc_a FROM jp),
walk AS (
  SELECT doc_id AS doc, doc_id AS reach FROM documents
  UNION
  SELECT w.doc, e.b FROM walk w JOIN edges e ON e.a = w.reach
)
SELECT doc AS doc_id, min(reach) AS cluster,
       (doc = min(reach)) AS is_survivor
FROM walk GROUP BY doc
"""


# incremental dedup's deterministic corpus/delta split: ~3/16 of docs are
# the "newly crawled" delta, the rest are the indexed corpus.  Same
# md5-prefix idiom as sampling.sample_key so both engines agree.
_DELTA_SALT = "delta:"
_DELTA_PREFIX_CHARS = ("0", "1", "2")
_EMB_DELTA_PREFIX_CHARS = tuple("01234567")  # ~50%; see q_embedding_delta_near_dup


def _delta_flag_col(key_col: str = "doc_id", chars: tuple = _DELTA_PREFIX_CHARS):
    # sampling.sample_key is the single source of truth for the
    # md5(salt || key) membership-key idiom the oracles mirror verbatim;
    # every corpus/delta split (documents AND embeddings) derives from here
    return F.substring(sampling.sample_key(_DELTA_SALT, key_col), 1, 1).isin(
        *chars
    )


_INDEX_MEMO: dict[tuple, str] = {}


def _memo_index(kind: str, sf_dir: str, builder) -> str:
    """Build-once persisted-index paths for the indexed/incremental
    queries.  The driver gate calls each query once, so the memo is a
    no-op there; a caller that runs a query repeatedly (perfbench's
    ``query_mix`` set-up pass builds ``simhash_delta_pairs``' index) pays
    the build once, so later runs measure the amortized recurring-wave
    PROBE — a crawl pays the index build once per corpus, not once per
    wave, and a number dominated by the one-time build would misread as
    the indexed path being slower than its in-query twin."""
    import atexit
    import shutil
    import tempfile

    key = (kind, os.path.abspath(sf_dir))
    if key not in _INDEX_MEMO:
        base = tempfile.mkdtemp(prefix=f"{kind}_")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        path = os.path.join(base, "index")
        builder(path)
        _INDEX_MEMO[key] = path
    return _INDEX_MEMO[key]


def q_dedup_delta_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recurring-crawl shape: build the MinHash band index from the
    corpus partition ONCE (persisted, partitioned by band), then probe it
    with only the delta's band rows — the corpus is never re-shingled
    (dedup.dedup_delta_pairs_against_index; the never-reshingled property
    is pinned by tests/test_operators.py::test_dedup_delta_never_reshingles,
    which deletes the corpus source after the index write)."""
    docs = load(spark, sf_dir, "documents")
    corpus = docs.where(~_delta_flag_col())
    delta = docs.where(_delta_flag_col())
    # the returned DF reads the index lazily, so the tmp dir must outlive
    # this call — _memo_index reaps it at interpreter exit (same pattern
    # as q_streaming_extract_spans) and reuses the build across calls
    index_path = _memo_index(
        "band_index", sf_dir, lambda p: dedup.write_minhash_band_index(corpus, p)
    )
    return dedup.dedup_delta_pairs_against_index(spark, delta, index_path)


def oracle_dedup_delta_pairs() -> str:
    """Full-recompute twin restricted to delta-touching pairs: band rows
    over ALL documents, over-cap buckets (counted over index ∪ delta, what
    the incremental operator sees) excluded, probe side = delta."""
    delta_pred = (
        f"substr(md5('{_DELTA_SALT}' || doc_id::VARCHAR), 1, 1) IN "
        f"({', '.join(repr(c) for c in _DELTA_PREFIX_CHARS)})"
    )
    return f"""
WITH {_SIG_CTE}, bands AS ({_minhash_bands_sql()}),
flagged AS (SELECT b.*, {delta_pred} AS is_delta FROM bands b),
capped AS (
  SELECT f.* FROM flagged f
  JOIN (SELECT band, bucket FROM flagged GROUP BY 1, 2
        HAVING count(*) <= {dedup.MINHASH_BUCKET_CAP}) ok USING (band, bucket)
)
SELECT least(a.doc_id, b.doc_id) AS doc_a,
       greatest(a.doc_id, b.doc_id) AS doc_b,
       count(*)::BIGINT AS n_shared_bands
FROM capped a JOIN capped b USING (band, bucket)
WHERE a.is_delta AND a.doc_id != b.doc_id
  AND (NOT b.is_delta OR a.doc_id < b.doc_id)
GROUP BY 1, 2
"""


def q_simhash_delta_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental fingerprint sweep: persist the corpus partition's
    SimHash index (16 B/doc), then probe it with only the delta hashed —
    the recurring-crawl twin of dedup_delta_pairs on the simhash side."""
    docs = load(spark, sf_dir, "documents")
    corpus = docs.where(~_delta_flag_col())
    delta = docs.where(_delta_flag_col())
    index_path = _memo_index(
        "simhash_index",
        sf_dir,
        lambda p: dedup.write_simhash_index(
            dedup.simhash(corpus, dedup.SIMHASH_PAIR_BITS), p
        ),
    )
    return dedup.simhash_delta_pairs_against_index(spark, delta, index_path)


def oracle_simhash_delta_pairs() -> str:
    """Full-recompute twin restricted to delta-touching pairs (see
    oracle_dedup_delta_pairs for the split/cap semantics)."""
    bits = dedup.SIMHASH_PAIR_BITS
    bands = dedup.SIMHASH_BANDS
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band, (simhash >> {b * band_bits}) & {mask} AS bkey FROM sh"
        for b in range(bands)
    )
    delta_pred = (
        f"substr(md5('{_DELTA_SALT}' || doc_id::VARCHAR), 1, 1) IN "
        f"({', '.join(repr(c) for c in _DELTA_PREFIX_CHARS)})"
    )
    return f"""
WITH {_simhash_cte(bits)},
rows_b AS ({band_rows}),
flagged AS (SELECT r.*, {delta_pred} AS is_delta FROM rows_b r),
capped AS (
  SELECT f.* FROM flagged f
  JOIN (SELECT band, bkey FROM flagged GROUP BY 1, 2
        HAVING count(*) <= {dedup.SIMHASH_BAND_CAP}) ok USING (band, bkey)
)
SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
       greatest(a.doc_id, b.doc_id) AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM capped a JOIN capped b USING (band, bkey)
WHERE a.is_delta AND a.doc_id != b.doc_id
  AND (NOT b.is_delta OR a.doc_id < b.doc_id)
  AND bit_count(xor(a.simhash, b.simhash)) <= {dedup.SIMHASH_HAMMING_MAX}
"""


def oracle_simhash_dedup_clusters() -> str:
    """Recursive-CTE twin of dedup.simhash_dedup_clusters: simhash pair
    edges (shared with oracle_simhash_near_dup_pairs), true connected-
    component fixpoint, min-doc_id cluster labels."""
    bits = dedup.SIMHASH_PAIR_BITS
    bands = dedup.SIMHASH_BANDS
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band, (simhash >> {b * band_bits}) & {mask} AS bkey FROM sh"
        for b in range(bands)
    )
    return f"""
WITH RECURSIVE {_simhash_cte(bits)},
rows_b AS ({band_rows}),
capped AS (
  SELECT r.* FROM rows_b r
  JOIN (SELECT band, bkey FROM rows_b GROUP BY 1, 2
        HAVING count(*) <= {dedup.SIMHASH_BAND_CAP}) ok USING (band, bkey)
),
jp AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b USING (band, bkey)
  WHERE a.doc_id < b.doc_id
    AND bit_count(xor(a.simhash, b.simhash)) <= {dedup.SIMHASH_HAMMING_MAX}
),
edges AS (SELECT doc_a AS a, doc_b AS b FROM jp
          UNION ALL SELECT doc_b, doc_a FROM jp),
walk AS (
  SELECT doc_id AS doc, doc_id AS reach FROM documents
  UNION
  SELECT w.doc, e.b FROM walk w JOIN edges e ON e.a = w.reach
)
SELECT doc AS doc_id, min(reach) AS cluster,
       (doc = min(reach)) AS is_survivor
FROM walk GROUP BY doc
"""


def _sample_pred_sql(salt: str = sampling.SAMPLE_SALT) -> str:
    return f"substr(md5('{salt}' || doc_id::VARCHAR), 1, 8)"


def oracle_hash_sample() -> str:
    cutoff = sampling._cutoff_hex(0.2)
    return f"""
SELECT doc_id, lang FROM documents
WHERE {_sample_pred_sql()} < '{cutoff}'
"""


def oracle_stratified_sample() -> str:
    cases = " ".join(
        f"WHEN '{s}' THEN '{sampling._cutoff_hex(f)}'"
        for s, f in sorted(_STRATA_FRACTIONS.items())
    )
    return f"""
SELECT lang, count(*)::BIGINT AS n_sampled FROM documents
WHERE {_sample_pred_sql()} <
      (CASE lang {cases} ELSE '{sampling._cutoff_hex(_STRATA_DEFAULT)}' END)
GROUP BY lang
"""


def oracle_winnow_fingerprints() -> str:
    w = dedup.WINNOW_WINDOW - 1
    return f"""
WITH toks AS (SELECT doc_id, {_TOKENS} AS arr FROM documents),
sh AS (
  SELECT doc_id, i AS pos, md5(arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2]) AS h
  FROM toks, unnest(generate_series(1, len(arr) - 2)) AS t(i)
  WHERE len(arr) >= 3
),
minima AS (
  SELECT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {w} FOLLOWING) AS win_min
  FROM sh
),
agg AS (
  SELECT doc_id, list_sort(list_distinct(list(win_min))) AS fps
  FROM minima GROUP BY doc_id
)
SELECT doc_id, len(fps)::INT AS n_fingerprints,
       md5(array_to_string(fps, '|')) AS fp_digest
FROM agg
"""


def oracle_winnow_overlap_pairs() -> str:
    w = dedup.WINNOW_WINDOW - 1
    return f"""
WITH toks AS (SELECT doc_id, {_TOKENS} AS arr FROM documents),
sh AS (
  SELECT doc_id, i AS pos, md5(arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2]) AS h
  FROM toks, unnest(generate_series(1, len(arr) - 2)) AS t(i)
  WHERE len(arr) >= 3
),
sel AS (
  SELECT DISTINCT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {w} FOLLOWING) AS fp
  FROM sh
),
blocked AS (
  SELECT s.* FROM sel s
  JOIN (SELECT fp FROM sel GROUP BY fp
        HAVING count(*) <= {dedup.WINNOW_FP_DF_CAP}) ok USING (fp)
),
sizes AS (SELECT doc_id, count(*) AS n_fp FROM blocked GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM blocked a JOIN blocked b USING (fp)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared::BIGINT AS n_shared,
       round(n_shared::DOUBLE / least(na.n_fp, nb.n_fp), 6) AS overlap
FROM pairs
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE n_shared >= 2
"""


_BENCH_N_DOCS = 3


# ≢ 0 (mod 2) AND (mod 3): planted twins must land in a different staged
# micro-batch than their seeds under both 2- and 3-batch doc_id%n staging
PLANT_ID_OFFSET = 2_000_003


def q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination probe: the 'benchmark' is a deterministic selection
    of corpus documents (the _BENCH_N_DOCS lowest md5('bench:'||doc_id)
    keys — no external data per the task rules).  Gate seeding à la
    planted_embeddings: the probed corpus is additionally unioned with one
    PLANTED document per benchmark text (its first 20 tokens + a unique
    tail), so the gate compares real partial-overlap contamination — not
    just the benchmark docs flagging themselves."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("bench:"), F.col("doc_id").cast("string")))
    bench = (
        docs.select("text", key.alias("k"))
        .orderBy("k")
        .limit(_BENCH_N_DOCS)
        .select("text", F.row_number().over(Window.orderBy("k")).alias("i"))
    )
    head20 = F.concat_ws(
        " ", F.slice(textstats.tokens_col(F.col("text")), 1, 20)
    )
    planted = bench.select(
        (F.lit(PLANT_ID_OFFSET) + F.col("i")).cast("long").alias("doc_id"),
        F.concat(
            head20, F.lit(" planted contamination tail "), F.col("i")
        ).alias("text"),
    )
    probed = docs.select("doc_id", "text").union(planted)
    return textstats.benchmark_contamination(probed, bench.select("text"))


def oracle_benchmark_contamination() -> str:
    n = textstats.CONTAM_NGRAM
    return f"""
WITH bench AS (
  SELECT text, row_number() OVER (ORDER BY md5('bench:' || doc_id::VARCHAR)) AS i
  FROM documents
  ORDER BY md5('bench:' || doc_id::VARCHAR) LIMIT {_BENCH_N_DOCS}
),
planted AS (
  SELECT ({PLANT_ID_OFFSET} + i)::BIGINT AS doc_id,
         array_to_string(arr[1:20], ' ') || ' planted contamination tail ' || i AS text
  FROM (SELECT i, {_TOKENS} AS arr FROM bench)
),
probed AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM planted),
btoks AS (SELECT {_TOKENS} AS arr FROM bench),
bngrams AS (
  SELECT DISTINCT array_to_string(arr[i:i+{n - 1}], ' ') AS ngram
  FROM btoks, unnest(generate_series(1, len(arr) - {n - 1})) AS t(i)
  WHERE len(arr) >= {n}
),
dtoks AS (SELECT doc_id, {_TOKENS} AS arr FROM probed),
dngrams AS (
  SELECT DISTINCT doc_id, array_to_string(arr[i:i+{n - 1}], ' ') AS ngram
  FROM dtoks, unnest(generate_series(1, len(arr) - {n - 1})) AS t(i)
  WHERE len(arr) >= {n}
),
hits AS (
  SELECT doc_id, count(*) AS n_contaminated
  FROM dngrams JOIN bngrams USING (ngram) GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(h.n_contaminated, 0)::BIGINT AS n_contaminated,
       (coalesce(h.n_contaminated, 0) > 0) AS contaminated
FROM (SELECT doc_id FROM probed) d LEFT JOIN hits h USING (doc_id)
"""


_PLANT_SENTENCES = {
    # deterministic stopword-dense sentences (synthesized in-repo per the
    # no-external-data rule); one doc per language, id PLANT_ID_OFFSET+1..
    "de": "der hund und die katze ist nicht mit ein haus von den bergen",
    "es": "el perro y los gatos es que una casa por las montanas con del se",
    "fr": "le chien est dans une maison qui est pas des montagnes du au les",
    "en": "the cat is on a mat of the house and it is for the best in town",
}


def q_lang_id_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile-based language ID.  The driver corpus's text is the same
    English-ish word soup for every labeled lang (no real signal), so the
    gate unions PLANTED stopword-dense sentences per language — the
    confusion matrix then checks actual cross-language discrimination."""
    docs = load(spark, sf_dir, "documents").select("lang", "text")
    planted = spark.createDataFrame(
        sorted(_PLANT_SENTENCES.items()), "lang: string, text: string"
    )
    return textstats.lang_id_profile(docs.union(planted))


def oracle_lang_id_profile() -> str:
    plant_rows = ", ".join(
        f"('p:{lang}', '{lang}', '{text}')"
        for lang, text in sorted(_PLANT_SENTENCES.items())
    )
    score_rows = " UNION ALL ".join(
        f"SELECT rid, '{lang}' AS cand, "
        f"len(list_filter(arr, t -> t IN ({', '.join(repr(w) for w in words)}))) AS score"
        " FROM toks"
        for lang, words in sorted(textstats.LANG_PROFILES.items())
    )
    return f"""
WITH probed AS (
  SELECT doc_id::VARCHAR AS rid, lang, text FROM documents
  UNION ALL SELECT * FROM (VALUES {plant_rows}) v(rid, lang, text)
),
toks AS (
  SELECT rid, lang, {_TOKENS} AS arr FROM probed
),
scores AS ({score_rows}),
best AS (
  SELECT rid, cand, score,
         row_number() OVER (PARTITION BY rid ORDER BY score DESC, cand ASC) AS rnk
  FROM scores
),
guessed AS (
  SELECT t.lang, CASE WHEN b.score = 0 THEN 'und' ELSE b.cand END AS lang_guess
  FROM toks t JOIN best b ON b.rid = t.rid AND b.rnk = 1
)
SELECT lang, lang_guess, count(*)::BIGINT AS n_docs
FROM guessed GROUP BY 1, 2
"""


def oracle_cosine_topk() -> str:
    return """
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
q AS (SELECT vec_id AS query_id, emb AS qemb FROM base WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, b.vec_id,
         round(list_dot_product(q.qemb, b.emb) /
               (sqrt(list_dot_product(q.qemb, q.qemb)) * sqrt(list_dot_product(b.emb, b.emb))), 3) AS score
  FROM base b, q WHERE b.vec_id != q.query_id
),
ranked AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, score, rank::INT AS rank FROM ranked WHERE rank <= 5
"""


def _plane_literal(plane: int) -> str:
    coefs = similarity.hyperplane(plane)
    return "[" + ", ".join(f"{c:.1f}" for c in coefs) + "]::DOUBLE[]"


def _band_key_sql(emb: str, band: int) -> str:
    ppb = similarity.PLANES_PER_BAND
    bits = [
        f"CASE WHEN list_dot_product({emb}, {_plane_literal(p)}) > 0 THEN '1' ELSE '0' END"
        for p in range(band * ppb, (band + 1) * ppb)
    ]
    return " || ".join(bits)


def _bands_cte(src: str = "base", cap: int | None = None) -> str:
    """bands: one row per (vector, band); capped: rows in under-cap buckets."""
    per_band = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, ({_band_key_sql('emb', b)}) AS bkey FROM {src}"
        for b in range(similarity.N_BANDS)
    )
    the_cap = similarity.MAX_BUCKET if cap is None else cap
    return f"""bands AS ({per_band}),
capped AS (
  SELECT b.* FROM bands b
  JOIN (SELECT band, bkey FROM bands GROUP BY 1, 2
        HAVING count(*) <= {the_cap}) ok USING (band, bkey))"""


def oracle_lsh_sign_buckets() -> str:
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
{_bands_cte()}
SELECT band::INT AS band, bkey AS bucket, count(*)::BIGINT AS n_vecs
FROM bands GROUP BY 1, 2
"""


def oracle_ann_lsh_topk() -> str:
    ppb = similarity.PLANES_PER_BAND
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
{_bands_cte()},
qb AS (SELECT vec_id AS query_id, band, bkey FROM bands WHERE vec_id < 10),
probes AS (
  SELECT query_id, band, bkey FROM qb
  UNION
  SELECT query_id, band,
         substr(bkey, 1, i - 1)
           || (CASE substr(bkey, i, 1) WHEN '0' THEN '1' ELSE '0' END)
           || substr(bkey, i + 1) AS bkey
  FROM qb, unnest(generate_series(1, {ppb})) AS t(i)
),
cand AS (
  SELECT DISTINCT p.query_id, c.vec_id
  FROM capped c JOIN probes p USING (band, bkey)
  WHERE c.vec_id != p.query_id
),
q AS (SELECT vec_id AS query_id, emb AS qemb FROM base WHERE vec_id < 10),
scored AS (
  SELECT cand.query_id, cand.vec_id,
         round(list_dot_product(q.qemb, b.emb) /
               (sqrt(list_dot_product(q.qemb, q.qemb)) * sqrt(list_dot_product(b.emb, b.emb))), 3) AS score
  FROM cand JOIN base b ON b.vec_id = cand.vec_id
  JOIN q ON q.query_id = cand.query_id
),
ranked AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, score, rank::INT AS rank FROM ranked WHERE rank <= 5
"""


def q_ann_lsh_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN served from the persisted partition-pruned bucket index —
    result-identical to ann_lsh_topk (same oracle), but the corpus-sized
    rows table is read pruned to the probed buckets' directories
    (tests/test_operators.py::test_ann_lsh_index_partition_pruned asserts
    the pruned scan)."""
    embeds = load(spark, sf_dir, "embeddings")
    index_path = _memo_index(
        "lsh_bucket_index",
        sf_dir,
        lambda p: similarity.write_lsh_bucket_index(embeds, p),
    )
    return similarity.ann_lsh_topk_indexed(spark, embeds, index_path)


def _sq_dist_sql(e: str, c: str) -> str:
    """The rounded expanded-form squared distance every IVF oracle
    shares (mirrors the engine's numpy form term-for-term)."""
    r = similarity.IVF_ROUND
    return (
        f"round(list_dot_product({e}, {e}) - 2 * list_dot_product({e}, {c})"
        f" + list_dot_product({c}, {c}), {r})"
    )


def _ivf_lloyd_ctes(
    n_centroids: int, iters: int, dim: int, n_queries: int, nprobe: int
) -> list[str]:
    """Shared coarse-quantizer CTE chain: ``base`` → Lloyd iterations →
    ``af`` (final assignment), ``q`` (query vectors), ``probes`` (the
    nprobe nearest centroids per query, rounded-distance + cid
    tie-break).  Single source for oracle_ann_ivf_topk,
    oracle_semantic_dedup and oracle_cluster_balanced_sample — the
    deterministic-k-means replay lives once."""
    r = similarity.IVF_ROUND
    dist = _sq_dist_sql
    ctes = [
        "base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)",
        f"""c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, emb AS c
  FROM (SELECT vec_id, emb FROM base ORDER BY vec_id LIMIT {n_centroids}))""",
    ]
    prev = "c0"
    for it in range(1, iters + 1):
        ctes.append(
            f"""a{it} AS (
  SELECT vec_id, emb, cid FROM (
    SELECT b.vec_id, b.emb, s.cid,
           row_number() OVER (PARTITION BY b.vec_id
                              ORDER BY {dist('b.emb', 's.c')} ASC, s.cid ASC) AS rn
    FROM base b CROSS JOIN {prev} s) WHERE rn = 1)"""
        )
        ctes.append(
            f"""m{it} AS (
  SELECT a.cid, i AS dim, round(avg(a.emb[i]), {r}) AS m
  FROM a{it} a, unnest(generate_series(1, {dim})) AS t(i) GROUP BY 1, 2)"""
        )
        ctes.append(
            f"""c{it} AS (
  SELECT s.cid, coalesce(mm.c, s.c) AS c
  FROM {prev} s LEFT JOIN (SELECT cid, list(m ORDER BY dim) AS c
                           FROM m{it} GROUP BY cid) mm USING (cid))"""
        )
        prev = f"c{it}"
    ctes.append(
        f"""af AS (
  SELECT vec_id, emb, cid FROM (
    SELECT b.vec_id, b.emb, s.cid,
           row_number() OVER (PARTITION BY b.vec_id
                              ORDER BY {dist('b.emb', 's.c')} ASC, s.cid ASC) AS rn
    FROM base b CROSS JOIN {prev} s) WHERE rn = 1)"""
    )
    ctes.append(
        f"q AS (SELECT vec_id AS query_id, emb AS qemb FROM af WHERE vec_id < {n_queries})"
    )
    ctes.append(
        f"""probes AS (
  SELECT query_id, cid FROM (
    SELECT q.query_id, s.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {dist('q.qemb', 's.c')} ASC, s.cid ASC) AS rn
    FROM q CROSS JOIN {prev} s) WHERE rn <= {nprobe})"""
    )
    return ctes


def oracle_ann_ivf_topk(
    n_centroids: int = 16,
    iters: int = 2,
    n_queries: int = 10,
    k: int = 5,
    nprobe: int = 2,
    dim: int = similarity.EMBED_DIM,
) -> str:
    """DuckDB twin of similarity.ann_ivf_topk: the same deterministic
    k-means (seed = k lowest vec_ids, rounded distances with lowest-cid
    tie-break, rounded per-dim means, empty clusters keep their centroid)
    unrolled as one CTE chain per Lloyd iteration."""
    ctes = _ivf_lloyd_ctes(n_centroids, iters, dim, n_queries, nprobe)
    ctes.append(
        """scored AS (
  SELECT q.query_id, a.vec_id,
         round(list_dot_product(q.qemb, a.emb) /
               (sqrt(list_dot_product(q.qemb, q.qemb)) * sqrt(list_dot_product(a.emb, a.emb))), 3) AS score
  FROM af a JOIN probes p ON a.cid = p.cid JOIN q ON q.query_id = p.query_id
  WHERE a.vec_id != q.query_id)"""
    )
    ctes.append(
        """ranked AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT query_id, vec_id, score, rank::INT AS rank FROM ranked WHERE rank <= {k}"
    )


def oracle_semantic_dedup(
    n_centroids: int = 16,
    iters: int = 2,
    dim: int = similarity.EMBED_DIM,
) -> str:
    """DuckDB twin of similarity.semantic_dedup: the shared Lloyd-replay
    chain up to the final assignment ``af`` (the q/probes tail CTEs go
    unreferenced — DuckDB never executes them), then within-cluster
    rounded-cosine pairs and the min-id-survivor left join.  The kept
    sentinels (-1, -1.0) match the Spark coalesce exactly."""
    ctes = _ivf_lloyd_ctes(n_centroids, iters, dim, 1, 1)
    cos = (
        "round(list_dot_product(a.emb, b.emb) / "
        "(sqrt(list_dot_product(a.emb, a.emb)) * "
        "sqrt(list_dot_product(b.emb, b.emb))), 3)"
    )
    ctes.append(
        f"""pairs AS (
  SELECT b.vec_id AS b_id, a.vec_id AS a_id, {cos} AS sim
  FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {cos} >= {similarity.SEMANTIC_DEDUP_THRESHOLD})"""
    )
    ctes.append(
        """dup AS (
  SELECT b_id, a_id, sim FROM (
    SELECT b_id, a_id, sim,
           row_number() OVER (PARTITION BY b_id ORDER BY a_id ASC) AS rn
    FROM pairs) WHERE rn = 1)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT af.vec_id, af.cid::INT AS centroid, (d.b_id IS NULL) AS keep,
       coalesce(d.a_id, -1)::BIGINT AS dup_of,
       coalesce(d.sim, -1.0) AS sim
FROM af LEFT JOIN dup d ON af.vec_id = d.b_id"""
    )


def oracle_cluster_balanced_sample(
    n_centroids: int = 16,
    iters: int = 2,
    dim: int = similarity.EMBED_DIM,
    cap: int = similarity.CLUSTER_SAMPLE_CAP,
) -> str:
    """DuckDB twin of similarity.cluster_balanced_sample: the shared
    Lloyd-replay chain to the final assignment ``af``, then the plain
    per-cluster row_number over (md5 key, vec_id) — the single-window
    plan the two-phase stratum cap must stay row-identical to."""
    ctes = _ivf_lloyd_ctes(n_centroids, iters, dim, 1, 1)
    ctes.append(
        f"""ranked AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY cid
             ORDER BY md5('{similarity.CLUSTER_SAMPLE_SALT}' || vec_id::VARCHAR) ASC,
                      vec_id ASC) AS rk
  FROM af)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT vec_id, cid::INT AS centroid, rk::BIGINT AS rk
FROM ranked WHERE rk <= {cap}"""
    )


N_PLANTED_TWINS = 10
TWIN_ID_OFFSET = 1_000_001  # odd + ≢0 mod 3: crosses 2- and 3-batch staging


def planted_embeddings(embeddings: DataFrame) -> DataFrame:
    """Gate seeding: union the corpus with exact twins of the first
    N_PLANTED_TWINS vectors (vec_id + TWIN_ID_OFFSET) so the near-dup
    oracle compares non-empty sets — round 1's gate was trivially green on
    0 rows vs 0 rows.  The operator under test is unchanged; only the gate
    input is enriched (mirrored verbatim in the DuckDB oracle)."""
    base = embeddings.select("vec_id", "embedding")
    twins = base.where(F.col("vec_id") < N_PLANTED_TWINS).select(
        (F.col("vec_id") + TWIN_ID_OFFSET).alias("vec_id"), "embedding"
    )
    return base.union(twins)


def _embedding_edges_cte() -> str:
    """CTE chain ending in ``jp(vec_a, vec_b, cosine)``: the planted
    corpus, sign-LSH banding, capped candidate pairs, exact-cosine gate —
    the near-dup edge derivation SHARED by the pair and cluster oracles
    (one source of truth for the threshold/rounding, mirroring
    similarity.EMBED_NEAR_DUP_THRESHOLD)."""
    cos = (
        "round(list_dot_product(ea.emb, eb.emb) / "
        "(sqrt(list_dot_product(ea.emb, ea.emb)) * "
        "sqrt(list_dot_product(eb.emb, eb.emb))), 3)"
    )
    return f"""planted AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {TWIN_ID_OFFSET}, embedding FROM embeddings WHERE vec_id < {N_PLANTED_TWINS}
),
base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM planted),
{_bands_cte()},
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM capped a JOIN capped b USING (band, bkey)
  WHERE a.vec_id < b.vec_id
),
jp AS (
  SELECT vec_a, vec_b, {cos} AS cosine
  FROM cand JOIN base ea ON ea.vec_id = vec_a JOIN base eb ON eb.vec_id = vec_b
  WHERE {cos} >= {similarity.EMBED_NEAR_DUP_THRESHOLD}
)"""


def oracle_embedding_near_dup() -> str:
    return f"WITH {_embedding_edges_cte()} SELECT vec_a, vec_b, cosine FROM jp"


def q_embedding_delta_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental semantic dedup: persist the corpus partition's sign-LSH
    index (vectors + precomputed codes), then probe with only the delta
    coded — the embedding twin of dedup_delta_pairs/simhash_delta_pairs
    completing the incremental trilogy (shingle / fingerprint / vector)."""
    embeds = planted_embeddings(load(spark, sf_dir, "embeddings"))
    # wider split than the documents one (~50% vs ~19%): the embeddings
    # fixture is 4× smaller and the planted pair set is only 10 — the
    # wide split keeps a meaningfully-sized reject set in the gate
    flag = _delta_flag_col("vec_id", _EMB_DELTA_PREFIX_CHARS)
    corpus = embeds.where(~flag)
    delta = embeds.where(flag)
    index_path = _memo_index(
        "emb_lsh_index",
        sf_dir,
        lambda p: similarity.write_embedding_lsh_index(corpus, p),
    )
    return similarity.embedding_delta_near_dup_against_index(
        spark, delta, index_path
    )


def oracle_embedding_delta_near_dup() -> str:
    """Full-recompute twin restricted to delta-touching pairs: same
    banding/cap/cosine chain as the whole-corpus oracle, cap counted over
    index ∪ delta (the whole planted corpus), probe side = delta."""
    delta_pred = (
        f"substr(md5('{_DELTA_SALT}' || vec_id::VARCHAR), 1, 1) IN "
        f"({', '.join(repr(c) for c in _EMB_DELTA_PREFIX_CHARS)})"
    )
    cos = (
        "round(list_dot_product(ea.emb, eb.emb) / "
        "(sqrt(list_dot_product(ea.emb, ea.emb)) * "
        "sqrt(list_dot_product(eb.emb, eb.emb))), 3)"
    )
    return f"""
WITH planted AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {TWIN_ID_OFFSET}, embedding FROM embeddings WHERE vec_id < {N_PLANTED_TWINS}
),
base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM planted),
{_bands_cte()},
flagged AS (SELECT c.*, {delta_pred} AS is_delta FROM capped c),
cand AS (
  SELECT DISTINCT least(a.vec_id, b.vec_id) AS vec_a,
         greatest(a.vec_id, b.vec_id) AS vec_b
  FROM flagged a JOIN flagged b USING (band, bkey)
  WHERE a.is_delta AND a.vec_id != b.vec_id
    AND (NOT b.is_delta OR a.vec_id < b.vec_id)
)
SELECT vec_a, vec_b, {cos} AS cosine
FROM cand JOIN base ea ON ea.vec_id = vec_a JOIN base eb ON eb.vec_id = vec_b
WHERE {cos} >= {similarity.EMBED_NEAR_DUP_THRESHOLD}
"""


def oracle_embedding_dedup_clusters() -> str:
    """Recursive-CTE twin of similarity.embedding_dedup_clusters: the
    cosine near-dup edges (shared with oracle_embedding_near_dup), true
    connected-component fixpoint, min-vec_id cluster labels."""
    return f"""
WITH RECURSIVE {_embedding_edges_cte()},
edges AS (SELECT vec_a AS a, vec_b AS b FROM jp
          UNION ALL SELECT vec_b, vec_a FROM jp),
walk AS (
  SELECT vec_id AS doc, vec_id AS reach FROM planted
  UNION
  SELECT w.doc, e.b FROM walk w JOIN edges e ON e.a = w.reach
)
SELECT doc AS vec_id, min(reach) AS cluster,
       (doc = min(reach)) AS is_survivor
FROM walk GROUP BY doc
"""


def oracle_bpe_token_stats() -> str:
    pattern = textstats.BPE_ISH_PATTERN.replace("\\", "\\\\")
    toks = f"regexp_extract_all(text, '{pattern}', 0)"
    return f"""
SELECT lang, count(*)::BIGINT AS doc_count,
       sum(len({toks}))::BIGINT AS total_bpe_tokens,
       round(avg(len(list_distinct({toks}))), 4) AS avg_unique_tokens
FROM documents GROUP BY lang
"""


def oracle_media_resize_sample() -> str:
    hexpos = "strpos('0123456789abcdef', substr(h, {i}, 1)) - 1"

    def byte(i: int) -> str:
        return f"(({hexpos.format(i=2 * i + 1)}) * 16 + ({hexpos.format(i=2 * i + 2)}))"

    return f"""
WITH media AS (
  SELECT doc_id AS media_id,
         CASE (doc_id % 4) WHEN 0 THEN 'image/jpeg' WHEN 1 THEN 'image/png'
                           WHEN 2 THEN 'audio/ogg' ELSE 'video/mp4' END AS mime,
         md5(text) AS h
  FROM documents
),
dims AS (
  SELECT media_id, mime,
         (64 + {byte(0)} % 192) AS src_w,
         (64 + {byte(1)} % 192) AS src_h,
         (100 + {byte(2)} % 900) AS dur
  FROM media
),
scaled AS (
  SELECT media_id, mime, src_w, src_h, dur,
         least(224.0 / src_w, 224.0 / src_h) AS scale
  FROM dims
)
SELECT media_id, mime,
       greatest(1, floor(src_w * scale))::INT AS out_width,
       greatest(1, floor(src_h * scale))::INT AS out_height,
       (greatest(1, floor(src_w * scale))::BIGINT * greatest(1, floor(src_h * scale))::BIGINT * 3) AS out_bytes,
       CASE WHEN mime LIKE 'video/%'
            THEN array_to_string(list_slice(range(0, dur, greatest(1, dur // 8)), 1, 8), '|')
            ELSE '' END AS frame_indices
FROM scaled
"""


def oracle_media_feature_stats() -> str:
    hexpos = "strpos('0123456789abcdef', substr(md5(text), {i}, 1)) - 1"
    b0 = f"(({hexpos.format(i=1)}) * 16 + ({hexpos.format(i=2)}))"
    b1 = f"(({hexpos.format(i=3)}) * 16 + ({hexpos.format(i=4)}))"
    return f"""
WITH media AS (
  SELECT doc_id AS media_id,
         CASE (doc_id % 4) WHEN 0 THEN 'image/jpeg' WHEN 1 THEN 'image/png'
                           WHEN 2 THEN 'audio/ogg' ELSE 'video/mp4' END AS mime,
         strlen(text)::BIGINT AS n_bytes,
         (64 + {b0} % 192)::INT AS width,
         (64 + {b1} % 192)::INT AS height
  FROM documents
)
SELECT mime, count(*)::BIGINT AS n_media, sum(n_bytes)::BIGINT AS total_bytes,
       round(avg(width), 4) AS avg_width, round(avg(height), 4) AS avg_height
FROM media GROUP BY mime
"""


def oracle_session_stats() -> str:
    gap_us = sessionize.DEFAULT_GAP_MINUTES * 60 * 1_000_000
    return f"""
WITH ordered AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {gap_us}
              THEN 1 ELSE 0 END AS is_new
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, value,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM ordered
)
SELECT user_id, session_idx::BIGINT AS session_idx, count(*)::BIGINT AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       (epoch_us(max(ts)) - epoch_us(min(ts)))::BIGINT AS duration_us,
       round(sum(value), 6) AS total_value
FROM sess GROUP BY user_id, session_idx
"""


def oracle_user_totals() -> str:
    return """
SELECT user_id, count(*)::BIGINT AS n_events,
       round(sum(value), 6) AS total_value
FROM events GROUP BY user_id
"""


def q_docs_joined_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join family: documents ⋈ embeddings on doc_id==vec_id, aggregating
    text-quality signals per (lang, label).  Equi-join on the shared key —
    SMJ/shuffled-hash at scale, AQE-broadcast at sf — then one partial
    aggregation."""
    docs = textstats.quality_scores(load(spark, sf_dir, "documents"))
    labels = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    return (
        docs.join(labels, "doc_id")
        .groupBy("lang", "label")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("stopword_ratio"), 6).alias("avg_stopword_ratio"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        )
    )


def oracle_docs_joined_labels() -> str:
    return f"""
WITH q AS (
  SELECT doc_id, lang, len({_TOKENS})::INT AS n_tokens,
         len(list_filter({_TOKENS}, t -> t IN ({_STOP_LIST})))::DOUBLE / len({_TOKENS}) AS sw
  FROM documents
)
SELECT lang, label, count(*)::BIGINT AS n_docs,
       round(avg(round(sw, 6)), 6) AS avg_stopword_ratio,
       round(avg(n_tokens), 4) AS avg_tokens
FROM q JOIN embeddings e ON q.doc_id = e.vec_id
GROUP BY lang, label
"""


def oracle_pdf_page_stats() -> str:
    # replicates the deterministic stub decoder (operators/pdf.py): page
    # count and per-page image presence derive from md5 of the payload
    hexpos = "strpos('0123456789abcdef', substr(h, {i}, 1)) - 1"

    def byte(i: int) -> str:  # byte i of the digest, from hex chars
        return f"(({hexpos.format(i=2 * i + 1)}) * 16 + ({hexpos.format(i=2 * i + 2)}))"

    img = " + ".join(
        f"CASE WHEN n_pages > {p} AND {byte(1 + p)} % 3 = 0 THEN 1 ELSE 0 END"
        for p in range(4)
    )
    return f"""
WITH pdf AS (
  SELECT doc_id::VARCHAR AS doc_id, md5('%PDF-1.4 ' || text) AS h FROM documents
),
paged AS (
  SELECT doc_id, h, (1 + {byte(0)} % 4)::INT AS n_pages FROM pdf
)
SELECT doc_id, n_pages, 'ok' AS status,
       (n_pages + {img})::BIGINT AS spans_emitted
FROM paged
"""


def oracle_windowed_events() -> str:
    return """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*)::BIGINT AS n_events,
       round(sum(value), 6) AS total_value
FROM events GROUP BY 1, 2
"""


# ------------------------------------------------------------- the contract


# ---- line-level dedup / PII redaction / per-source cap (the remaining
# web-pipeline staples: CCNet boilerplate removal, C4-style PII scrub,
# RefinedWeb domain caps)

LINE_PLANT_N = 40
_LINE_HEADER = "shared header boilerplate"
_LINE_FOOTER = "shared footer boilerplate"


def planted_multiline_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver corpus has no newlines (flat token streams), so the
    line-dedup gate unions PLANTED multi-line docs: each wraps an
    existing document's text between a header and a footer line shared
    by all LINE_PLANT_N plants — boilerplate by construction (df = 40 >>
    cap) — while the middle lines inherit the corpus's natural
    exact-duplicate structure (df straddles the cap both ways)."""
    docs = load(spark, sf_dir, "documents")
    planted = docs.where(F.col("doc_id") < LINE_PLANT_N).select(
        (F.col("doc_id") + PLANT_ID_OFFSET).alias("doc_id"),
        F.concat(
            F.lit(_LINE_HEADER + "\n"), F.col("text"), F.lit("\n" + _LINE_FOOTER)
        ).alias("text"),
    )
    return docs.select("doc_id", "text").union(planted)


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.line_dedup(planted_multiline_documents(spark, sf_dir))


def oracle_line_dedup() -> str:
    cap = dedup.LINE_DF_CAP
    return f"""
WITH probed AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {PLANT_ID_OFFSET},
         '{_LINE_HEADER}' || chr(10) || text || chr(10) || '{_LINE_FOOTER}'
  FROM documents WHERE doc_id < {LINE_PLANT_N}
),
lines0 AS (
  SELECT doc_id, i AS pos, trim(arr[i]) AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS arr FROM probed),
       unnest(generate_series(1, len(arr))) AS t(i)
),
lines AS (SELECT doc_id, pos, line, md5(line) AS lh FROM lines0 WHERE line != ''),
hot AS (SELECT lh FROM lines GROUP BY lh HAVING count(DISTINCT doc_id) > {cap}),
kept AS (SELECT * FROM lines WHERE lh NOT IN (SELECT lh FROM hot)),
clean AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS text_clean
  FROM kept GROUP BY doc_id),
totals AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id)
SELECT p.doc_id,
       coalesce(t.n_lines, 0)::BIGINT AS n_lines,
       coalesce(c.n_kept, 0)::BIGINT AS n_kept,
       coalesce(c.text_clean, '') AS text_clean
FROM probed p LEFT JOIN totals t USING (doc_id) LEFT JOIN clean c USING (doc_id)
"""


_SUBSTR_PLANT_N = 30
_SUBSTR_GATE_N = 8  # production default is 50 (Lee et al.); gate docs are short
_SUBSTR_PASSAGE = (
    "the quick brown fox jumps over the lazy dog while carrying a bright "
    "lantern through the quiet village square tonight"
)  # exactly 20 whitespace tokens — ≥ 2×(gate n) so internal shingles exist


def substring_probed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate corpus for exact-substring dedup.  The natural corpus is word
    soup with essentially no repeated 8-grams, so structure is PLANTED
    in place (ids unchanged — the operator rewrites text, it does not
    drop documents): docs 0..N-1 get the SAME 20-token passage appended
    (cross-document duplicated span: exactly the passage's tokens are
    removed, the unique junction shingles protect each doc's own tail),
    and doc N becomes text+' '+text (a WITHIN-document duplicated span:
    occurrence counting — not distinct-doc counting — must flag it, and
    interval union covers both copies entirely, so the doc empties)."""
    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.when(
            i < _SUBSTR_PLANT_N, F.concat("text", F.lit(" " + _SUBSTR_PASSAGE))
        )
        .when(i == _SUBSTR_PLANT_N, F.concat("text", F.lit(" "), "text"))
        .otherwise(F.col("text"))
        .alias("text"),
    )


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.substring_dedup(
        substring_probed_documents(spark, sf_dir), n=_SUBSTR_GATE_N
    )


def oracle_substring_dedup(n: int = _SUBSTR_GATE_N) -> str:
    """DuckDB replay of dedup.substring_dedup over the same planted
    corpus: positioned shingle hashes (0-based starts), occurrence
    histogram (count(*), within-doc repeats included), covered-position
    union, and ordered kept-token reassembly."""
    passage = _SUBSTR_PASSAGE
    concat = " || ' ' || ".join(f"arr[i+{k}]" for k in range(n))
    return f"""
WITH probed AS (
  SELECT doc_id,
         CASE WHEN doc_id < {_SUBSTR_PLANT_N} THEN text || ' {passage}'
              WHEN doc_id = {_SUBSTR_PLANT_N} THEN text || ' ' || text
              ELSE text END AS text
  FROM documents
),
tok AS (SELECT doc_id, {_TOKENS} AS arr FROM probed),
pos AS (
  SELECT doc_id, i - 1 AS s, md5({concat}) AS h
  FROM tok, unnest(generate_series(1, len(arr) - {n - 1})) AS t(i)
  WHERE len(arr) >= {n}
),
hist AS (SELECT h FROM pos GROUP BY h HAVING count(*) >= 2),
starts AS (SELECT doc_id, s FROM pos JOIN hist USING (h)),
covered AS (
  SELECT DISTINCT doc_id, s + k AS p
  FROM starts, unnest(generate_series(0, {n - 1})) AS t(k)
),
cov_agg AS (SELECT doc_id, count(*) AS n_removed FROM covered GROUP BY doc_id),
kept AS (
  SELECT t.doc_id, string_agg(t.arr[i], ' ' ORDER BY i) AS text_clean
  FROM tok t, unnest(generate_series(1, len(t.arr))) AS u(i)
  WHERE NOT EXISTS (
    SELECT 1 FROM covered c WHERE c.doc_id = t.doc_id AND c.p = i - 1
  )
  GROUP BY t.doc_id
)
SELECT tok.doc_id,
       len(arr)::BIGINT AS n_tokens,
       coalesce(cov_agg.n_removed, 0)::BIGINT AS n_removed,
       round(coalesce(cov_agg.n_removed, 0) / len(arr), 6) AS removed_frac,
       coalesce(kept.text_clean, '') AS text_clean
FROM tok LEFT JOIN cov_agg USING (doc_id) LEFT JOIN kept USING (doc_id)
"""


def q_substring_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-wave ExactSubstr: the planted corpus split into a BASE wave
    (even ids — builds the persisted shingle histogram once per sf_dir,
    amortized over repeated calls like every indexed query) and a DELTA
    wave (odd ids — probed against it).  The odd/even split puts planted passage
    carriers in BOTH waves, so the probe must catch delta-vs-index
    duplicated spans AND within-delta ones; the oracle is the
    whole-corpus replay restricted to the delta ids (occurrence totals
    across index ∪ delta equal the full-recompute histogram)."""
    probed = substring_probed_documents(spark, sf_dir)
    index_path = _memo_index(
        "substring_hist",
        sf_dir,
        lambda p: dedup.write_substring_index(
            probed.where(F.col("doc_id") % 2 == 0), p, n=_SUBSTR_GATE_N
        ),
    )
    return dedup.substring_delta_clean(
        spark,
        probed.where(F.col("doc_id") % 2 == 1),
        index_path,
        n=_SUBSTR_GATE_N,
    )


def q_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc novelty of the delta wave vs the persisted shingle
    histogram — SHARES the memoized substring_hist index with
    q_substring_delta (same builder, same key), so the gate pays the
    build once for both probes.  The planted passages make the signal
    non-trivial: passage carriers in the delta overlap the index's
    carriers and score measurably less novel."""
    probed = substring_probed_documents(spark, sf_dir)
    index_path = _memo_index(
        "substring_hist",
        sf_dir,
        lambda p: dedup.write_substring_index(
            probed.where(F.col("doc_id") % 2 == 0), p, n=_SUBSTR_GATE_N
        ),
    )
    return dedup.shingle_novelty(
        spark,
        probed.where(F.col("doc_id") % 2 == 1),
        index_path,
        n=_SUBSTR_GATE_N,
    )


def oracle_shingle_novelty(n: int = _SUBSTR_GATE_N) -> str:
    """DuckDB twin of dedup.shingle_novelty over the planted corpus:
    base histogram digests from the even ids, the delta's positional
    shingle stream (repeats included), and the explicit NULL for
    shingle-less docs (Spark's 0/0 is NULL, DuckDB's is NaN — the
    boundary is never left to engine defaults)."""
    passage = _SUBSTR_PASSAGE
    concat = " || ' ' || ".join(f"arr[i+{k}]" for k in range(n))
    return f"""
WITH probed AS (
  SELECT doc_id,
         CASE WHEN doc_id < {_SUBSTR_PLANT_N} THEN text || ' {passage}'
              WHEN doc_id = {_SUBSTR_PLANT_N} THEN text || ' ' || text
              ELSE text END AS text
  FROM documents
),
tok AS (SELECT doc_id, {_TOKENS} AS arr FROM probed),
pos AS (
  SELECT doc_id, md5({concat}) AS h
  FROM tok, unnest(generate_series(1, len(arr) - {n - 1})) AS t(i)
  WHERE len(arr) >= {n}
),
idx AS (SELECT DISTINCT h FROM pos WHERE doc_id % 2 = 0),
agg AS (
  SELECT doc_id, count(*) AS n_shingles,
         sum(CASE WHEN idx.h IS NULL THEN 0 ELSE 1 END) AS n_seen
  FROM pos LEFT JOIN idx ON pos.h = idx.h
  WHERE doc_id % 2 = 1
  GROUP BY doc_id
)
SELECT t.doc_id,
       coalesce(a.n_shingles, 0)::BIGINT AS n_shingles,
       coalesce(a.n_seen, 0)::BIGINT AS n_seen,
       CASE WHEN coalesce(a.n_shingles, 0) = 0 THEN NULL
            ELSE round((a.n_shingles - a.n_seen) / a.n_shingles, 6)
       END AS novel_frac
FROM (SELECT doc_id FROM tok WHERE doc_id % 2 = 1) t
LEFT JOIN agg a USING (doc_id)
"""


_ASOF_STREAM_SPLIT = "2024-01-16 00:00:00"


def q_streaming_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time as-of enrichment as a stateful stream: the events
    TIME-SPLIT into two mtime-ordered micro-batches (the event-log
    tailing contract the operator documents — a key split would put
    later refs in an earlier batch and break as-of semantics), one
    (ts_us, event_id) state row per user, gated row-for-row against the
    SAME full-history union-window oracle as the batch asof_join_enrich
    — the streaming, incremental-index, and batch shapes all hash-check
    to one answer."""
    from .streaming.asof import run_streaming_asof_enrich

    spark = _utc(spark)
    events = load(spark, sf_dir, "events")
    split = (
        (F.col("ts") >= F.expr(f"TIMESTAMP_NTZ '{_ASOF_STREAM_SPLIT}'"))
        .cast("int")
    )
    tmp, events_dir = _stage_micro_batches(
        events, root=_stream_tmp("sasof"), class_expr=split
    )
    return run_streaming_asof_enrich(
        spark,
        events_dir,
        temporal.ASOF_TARGET_TYPE,
        temporal.ASOF_REF_TYPE,
        max_files_per_trigger=1,
        state_partitions=_STREAM_STATE_PARTITIONS,
    )


def q_time_rollup_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate probe: history (events before _ASOF_CUTOFF)
    builds the finest-grid partials index ONCE (bench-amortized), the
    delta window appends its own partials segment, and the probe merges
    segments in O(index) — raw events never re-scanned.  The oracle is
    the FULL-corpus rollup (oracle_time_rollup unchanged): partials add,
    so 'index ∪ delta == full recompute' is the additive identity the
    gate hash-checks."""
    spark = _utc(spark)
    events = load(spark, sf_dir, "events")
    cut = F.expr(f"TIMESTAMP_NTZ '{_ASOF_CUTOFF}'")

    def _build(p: str) -> None:
        temporal.write_rollup_index(events.where(F.col("ts") < cut), p)
        temporal.write_rollup_index(events.where(F.col("ts") >= cut), p, wave=1)

    index_path = _memo_index("time_rollup", sf_dir, _build)
    return temporal.time_rollup_from_index(spark, index_path)


def q_asof_delta_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental as-of enrichment: history (events before _ASOF_CUTOFF)
    builds the per-user latest-ref state index ONCE (bench-amortized);
    the delta window's targets are enriched from within-delta refs plus
    the O(users) index probe — history is never re-scanned.  The oracle
    is the FULL-history union-window replay restricted to delta targets,
    so the identity 'incremental == full' is what the gate hash-checks."""
    spark = _utc(spark)
    events = load(spark, sf_dir, "events")
    cut = F.expr(f"TIMESTAMP_NTZ '{_ASOF_CUTOFF}'")
    hist = events.where(F.col("ts") < cut)
    delta = events.where(F.col("ts") >= cut)
    index_path = _memo_index(
        "user_state", sf_dir, lambda p: temporal.write_user_state_index(hist, p)
    )
    return temporal.asof_enrich_delta(spark, delta, index_path)


def q_cms_delta_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-CMS probe: the corpus split into a BASE wave (even ids
    — builds the constant-size sketch index once per sf_dir,
    bench-amortized) and a DELTA wave (odd ids — tokenized and estimated
    against index ∪ delta counter sums).  The oracle replays BOTH
    sketches in SQL — counter sums across segments equal the
    full-recompute sketch."""
    docs = load(spark, sf_dir, "documents")
    index_path = _memo_index(
        "cms_sketch",
        sf_dir,
        lambda p: textstats.write_cms_index(docs.where(F.col("doc_id") % 2 == 0), p),
    )
    return textstats.cms_delta_heavy_hitters(
        spark, docs.where(F.col("doc_id") % 2 == 1), index_path
    )


def q_bloom_delta_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-Bloom admission gate: the corpus split into a BASE wave
    (even ids — builds the constant-size bit index once per sf_dir,
    bench-amortized) and a DELTA wave (odd ids — membership-tested
    against the index bits).  The wrapper joins back the EXACT base
    membership as ``actually_seen`` — the hll exact-yardstick
    discipline: the oracle then pins both the filter's verdicts AND its
    measured false positives (possibly_seen ⊇ actually_seen is the
    no-false-negative guarantee, enforced row-by-row by the hash
    compare)."""
    docs = load(spark, sf_dir, "documents")
    index_path = _memo_index(
        "bloom_bits",
        sf_dir,
        lambda p: dedup.write_bloom_index(docs.where(F.col("doc_id") % 2 == 0), p),
    )
    probed = dedup.bloom_delta_new_docs(
        spark, docs.where(F.col("doc_id") % 2 == 1), index_path
    )
    base = (
        docs.where(F.col("doc_id") % 2 == 0)
        .select(F.md5("text").alias("digest"))
        .distinct()
        .withColumn("seen", F.lit(True))
    )
    return probed.join(base, "digest", "left").select(
        "doc_id",
        "digest",
        "possibly_seen",
        F.coalesce("seen", F.lit(False)).alias("actually_seen"),
    )


def oracle_substring_delta() -> str:
    """The whole-corpus ExactSubstr replay restricted to the delta wave:
    a delta doc's rewrite depends only on per-digest occurrence TOTALS,
    which are identical whether counted in one pass or summed across
    the index's wave segments."""
    return oracle_substring_dedup() + "WHERE doc_id % 2 = 1\n"


def oracle_dup_ngram_stats(n: int = 3) -> str:
    """DuckDB twin of dedup.dup_ngram_stats — same distinct-shingle space
    as the Jaccard/MinHash oracles (joined on the raw shingle where the
    engine joins on its md5; injective, so identical rows).  The shingle
    concat is generated from ``n`` (it used to hardcode the 3-token form,
    silently wrong for any other n — round-5 advisory fix)."""
    concat = " || ' ' || ".join(f"arr[i+{k}]" for k in range(n))
    return f"""
WITH tok AS (SELECT doc_id, {_TOKENS} AS arr FROM documents),
sh AS (
  SELECT DISTINCT doc_id, {concat} AS shingle
  FROM tok, unnest(generate_series(1, len(arr) - {n - 1})) AS t(i)
  WHERE len(arr) >= {n}
),
counts AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
per_doc AS (
  SELECT doc_id, count(*) AS n_shingles,
         count(*) FILTER (df >= 2) AS n_dup_shingles
  FROM sh JOIN counts USING (shingle) GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(n_shingles, 0)::BIGINT AS n_shingles,
       coalesce(n_dup_shingles, 0)::BIGINT AS n_dup_shingles,
       CASE WHEN coalesce(n_shingles, 0) = 0 THEN 0.0
            ELSE round(n_dup_shingles / n_shingles, 6) END AS dup_frac
FROM documents d LEFT JOIN per_doc USING (doc_id)
"""


_PII_PLANT_N = 25


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus text is clean word soup, so the gate unions planted
    docs carrying synthetic PII — example.com addresses, the reserved
    fictional 555-01xx phone block, RFC-1918 10.x addresses; no real
    data per the task rules."""
    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id")
    planted = docs.where(i < _PII_PLANT_N).select(
        (i + PLANT_ID_OFFSET).alias("doc_id"),
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            i.cast("string"),
            F.lit("@example.com call 800-555-01"),
            F.lpad(i.cast("string"), 2, "0"),
            F.lit(" from 10.0.0."),
            i.cast("string"),
        ).alias("text"),
    )
    return pii.pii_redact(docs.select("doc_id", "text").union(planted))


def oracle_pii_redact() -> str:
    return f"""
WITH probed AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {PLANT_ID_OFFSET},
         text || ' contact user' || doc_id::VARCHAR
              || '@example.com call 800-555-01' || lpad(doc_id::VARCHAR, 2, '0')
              || ' from 10.0.0.' || doc_id::VARCHAR
  FROM documents WHERE doc_id < {_PII_PLANT_N}
)
SELECT doc_id,
       len(regexp_extract_all(text, '{pii.EMAIL_RE}'))::BIGINT AS n_emails,
       len(regexp_extract_all(text, '{pii.PHONE_RE}'))::BIGINT AS n_phones,
       len(regexp_extract_all(text, '{pii.IP_RE}'))::BIGINT AS n_ips,
       (len(regexp_extract_all(text, '{pii.EMAIL_RE}'))
        + len(regexp_extract_all(text, '{pii.PHONE_RE}'))
        + len(regexp_extract_all(text, '{pii.IP_RE}'))) > 0 AS has_pii,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '{pii.EMAIL_RE}', '{pii.EMAIL_TAG}', 'g'),
           '{pii.PHONE_RE}', '{pii.PHONE_TAG}', 'g'),
         '{pii.IP_RE}', '{pii.IP_TAG}', 'g') AS text_redacted
FROM probed
"""


def oracle_length_stats() -> str:
    """Spark's exact ``percentile`` and DuckDB's ``quantile_cont`` share
    the (p·(n−1)) linear-interpolation definition; rounded to 6."""
    qs = ", ".join(
        f"round(quantile_cont(n_chars, {p}), 6) AS p{tag}_chars"
        for p, tag in ((0.5, "50"), (0.9, "90"), (0.99, "99"))
    )
    return f"""
SELECT lang, count(*)::BIGINT AS n_docs, {qs},
       min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM documents GROUP BY lang
"""


def oracle_sequence_pack(seq_len: int = 256) -> str:
    """Naive single-window twin of packing.sequence_pack — the two-phase
    bucket cut is row-identical because bucket order (doc_id div B) plus
    in-bucket doc_id order IS the global doc_id order."""
    return f"""
WITH t AS (
  SELECT doc_id, (len({_TOKENS}) + 1)::BIGINT AS n_tokens FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0)::BIGINT AS start_token
  FROM t
)
SELECT doc_id, n_tokens, start_token,
       (start_token // {seq_len})::BIGINT AS start_seq,
       ((start_token + n_tokens - 1) // {seq_len})::BIGINT AS end_seq
FROM c
"""


def oracle_shard_assignments(n_shards: int = 8) -> str:
    """Naive single-window twin of packing.shard_assignments — the
    two-phase bucket rank is row-identical because bucket-DESC order +
    in-bucket (n_tokens DESC, doc_id ASC) IS the global order."""
    return f"""
WITH t AS (
  SELECT doc_id, len({_TOKENS})::BIGINT AS n_tokens FROM documents
),
r AS (
  SELECT doc_id, n_tokens,
         row_number() OVER (ORDER BY n_tokens DESC, doc_id ASC) AS rank
  FROM t
)
SELECT doc_id, n_tokens, rank::BIGINT AS rank,
       ((rank - 1) % {n_shards})::INT AS shard
FROM r
"""


def oracle_length_stats_approx() -> str:
    """The 10^12-scale mode's oracle: at gate SF every lang group fits
    inside the pinned sketch accuracy, so Spark's percentile_approx is
    lossless and returns exactly DuckDB's ``quantile_disc`` element
    (verified element-identical; production keeps the same code path
    with bounded 1/accuracy rank error)."""
    qs = ", ".join(
        f"quantile_disc(n_chars, {p})::DOUBLE AS p{tag}_chars"
        for p, tag in ((0.5, "50"), (0.9, "90"), (0.99, "99"))
    )
    return f"""
SELECT lang, count(*)::BIGINT AS n_docs, {qs},
       min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM documents GROUP BY lang
"""


def oracle_source_cap_sample(cap: int = 10) -> str:
    """Single-window twin of sampling.source_cap_sample — the two-phase
    prefix cut keeps rows and ranks identical to this plan because prefix
    order == key order (the prefix IS the key's first chars)."""
    return f"""
SELECT doc_id, source, rk FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('{sampling.SOURCE_CAP_SALT}' || doc_id::VARCHAR), doc_id
         ) AS rk
  FROM documents) WHERE rk <= {cap}
"""


def build_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # extraction kernel (SURVEY §2.2) through the Spark path
        "extract_fixture_spans": q_extract_fixture_spans,
        "extract_fixture_status": q_extract_fixture_status,
        "extract_img_urls": q_extract_img_urls,
        "extract_synthetic_stats": q_extract_synthetic_stats,
        "corpus_build": q_corpus_build,
        "corpus_funnel": q_corpus_funnel,
        # dedup family
        "exact_dedup": lambda spark, sf: dedup.exact_dedup_stats(load(spark, sf, "documents")),
        "minhash_signatures": lambda spark, sf: dedup.minhash_signatures(load(spark, sf, "documents")),
        "lsh_candidate_pairs": lambda spark, sf: dedup.lsh_candidate_pairs(load(spark, sf, "documents")),
        "lsh_candidate_doc_pairs": lambda spark, sf: dedup.lsh_candidate_doc_pairs(load(spark, sf, "documents")),
        # two-stage near-dup: exact Levenshtein verification over the
        # banded candidate set (never all-pairs)
        "edit_verified_pairs": lambda spark, sf: dedup.edit_verified_pairs(
            load(spark, sf, "documents")
        ),
        # normalization-aware exact dedup (planted case/punct mirrors)
        "normalized_dedup": q_normalized_dedup,
        "simhash": lambda spark, sf: dedup.simhash(load(spark, sf, "documents")),
        "simhash_near_dup_pairs": lambda spark, sf: dedup.simhash_near_dup_pairs(load(spark, sf, "documents")),
        "ngram_jaccard": lambda spark, sf: dedup.ngram_jaccard_pairs(load(spark, sf, "documents")),
        # asymmetric containment (sub-document duplication; planted quotes)
        "ngram_containment": q_ngram_containment,
        "winnow_fingerprints": lambda spark, sf: dedup.winnow_fingerprints(load(spark, sf, "documents")),
        "winnow_overlap_pairs": lambda spark, sf: dedup.winnow_overlap_pairs(load(spark, sf, "documents")),
        "benchmark_contamination": q_benchmark_contamination,
        "dedup_delta_pairs": q_dedup_delta_pairs,
        "simhash_delta_pairs": q_simhash_delta_pairs,
        "dedup_clusters": lambda spark, sf: dedup.dedup_clusters(load(spark, sf, "documents")),
        "simhash_dedup_clusters": lambda spark, sf: dedup.simhash_dedup_clusters(load(spark, sf, "documents")),
        # CCNet-style line-level boilerplate removal (planted multi-line docs)
        "line_dedup": q_line_dedup,
        # per-doc duplicated-ngram fraction (no pair enumeration)
        "dup_ngram_stats": lambda spark, sf: dedup.dup_ngram_stats(load(spark, sf, "documents")),
        # Lee-et-al. exact-substring dedup (planted shared passage + within-doc repeat)
        "substring_dedup": q_substring_dedup,
        # C4-style PII scrub (planted synthetic PII)
        "pii_redact": q_pii_redact,
        # deterministic corpus sampling (training-mix construction)
        "hash_sample": lambda spark, sf: sampling.hash_sample(
            load(spark, sf, "documents"), fraction=0.2
        ).select("doc_id", "lang"),
        "stratified_sample": lambda spark, sf: sampling.stratified_hash_sample(
            load(spark, sf, "documents"), _STRATA_FRACTIONS, _STRATA_DEFAULT
        )
        .groupBy("lang")
        .agg(F.count("*").alias("n_sampled")),
        "token_budget_sample": lambda spark, sf: sampling.token_budget_sample(
            load(spark, sf, "documents"), _TOKEN_BUDGETS, _TOKEN_BUDGET_DEFAULT
        ),
        # RefinedWeb-style per-domain cap (two-phase prefix cut, unit weights)
        "source_cap_sample": lambda spark, sf: sampling.source_cap_sample(
            load(spark, sf, "documents")
        ),
        # concat-then-chunk training-sequence packing manifest (gate uses
        # a short seq_len + small buckets so chunk boundaries and the
        # two-phase offset path are both exercised on 500 docs)
        "sequence_pack": lambda spark, sf: packing.sequence_pack(
            load(spark, sf, "documents"), seq_len=256, bucket_size=64
        ),
        # size-balanced round-robin shard export (two-phase DESC rank;
        # small bucket width so multiple rank buckets exist at gate SF)
        "shard_assignments": lambda spark, sf: packing.shard_assignments(
            load(spark, sf, "documents"), n_shards=8, bucket_tokens=16
        ),
        # streaming extraction (foreachBatch over a multi-trigger file
        # source) against the same golden oracle as the batch path
        "streaming_extract_spans": q_streaming_extract_spans,
        # text analysis family
        "token_stats": lambda spark, sf: textstats.token_stats(load(spark, sf, "documents")),
        "length_stats": lambda spark, sf: textstats.length_stats(load(spark, sf, "documents")),
        # the bounded-sketch scale mode (lossless at gate SF — see oracle)
        "length_stats_approx": lambda spark, sf: textstats.length_stats(
            load(spark, sf, "documents"), approx=True
        ),
        "quality_scores": lambda spark, sf: textstats.quality_scores(load(spark, sf, "documents")),
        "quality_filter": lambda spark, sf: textstats.quality_filter(load(spark, sf, "documents")),
        "unigram_logprob": lambda spark, sf: textstats.unigram_logprob(load(spark, sf, "documents")),
        "repetition_stats": lambda spark, sf: textstats.repetition_stats(load(spark, sf, "documents")),
        # interpolated bigram LM (the CCNet-style filter, one order up)
        "bigram_logprob": lambda spark, sf: textstats.bigram_logprob(load(spark, sf, "documents")),
        "source_kl_divergence": lambda spark, sf: textstats.source_kl_divergence(load(spark, sf, "documents")),
        # per-doc top-k TF-IDF keywords (round-then-rank, term tie-break)
        "tfidf_top_terms": lambda spark, sf: textstats.tfidf_top_terms(load(spark, sf, "documents")),
        # CCNet-style head/middle/tail perplexity tertiles per language
        "perplexity_buckets": lambda spark, sf: textstats.perplexity_buckets(load(spark, sf, "documents")),
        # count-min-sketch heavy hitters (constant-memory counting)
        "cms_heavy_hitters": lambda spark, sf: textstats.cms_heavy_hitters(load(spark, sf, "documents")),
        # heavy hitters of the ACCUMULATED corpus from the persisted
        # constant-size sketch (only the delta wave is tokenized)
        "cms_delta_heavy_hitters": q_cms_delta_heavy_hitters,
        # HyperLogLog distinct-token census per language (constant-memory
        # cardinality sketch, reported against the exact yardstick)
        "hll_distinct_tokens": lambda spark, sf: textstats.hll_distinct_tokens(
            load(spark, sf, "documents")
        ),
        # recurring-crawl admission gate from the persisted Bloom filter
        # (definitely-new vs possibly-seen, O(delta), exact yardstick)
        "bloom_delta_new_docs": q_bloom_delta_new_docs,
        # fastText-style hashed-linear quality model (integer weights)
        "quality_classifier_scores": lambda spark, sf: textstats.quality_classifier_scores(
            load(spark, sf, "documents")
        ),
        # temperature-scaled source sampling weights (p^alpha mixing)
        "source_temperature_mix": lambda spark, sf: textstats.source_temperature_mix(
            load(spark, sf, "documents")
        ),
        # per-language Zipf slope/R^2 over the vocabulary head
        "zipf_law_fit": lambda spark, sf: textstats.zipf_law_fit(
            load(spark, sf, "documents")
        ),
        "lang_id": lambda spark, sf: textstats.lang_id(load(spark, sf, "documents")),
        "lang_id_profile": q_lang_id_profile,
        "fingerprints": lambda spark, sf: textstats.fingerprints(load(spark, sf, "documents")),
        # similarity family
        "cosine_topk": lambda spark, sf: similarity.cosine_topk(load(spark, sf, "embeddings")),
        "lsh_sign_buckets": lambda spark, sf: similarity.lsh_sign_buckets(load(spark, sf, "embeddings")),
        "ann_lsh_topk": lambda spark, sf: similarity.ann_lsh_topk(load(spark, sf, "embeddings")),
        "ann_lsh_topk_indexed": q_ann_lsh_topk_indexed,
        # k-means made engine-portable (rounded distances/means, cid
        # tie-breaks) so the DuckDB twin replays the exact Lloyd iterations
        "ann_ivf_topk": lambda spark, sf: similarity.ann_ivf_topk(load(spark, sf, "embeddings")),
        # cross-wave ExactSubstr: delta probed against the persisted
        # shingle histogram (the seventh wave-keyed index family)
        "substring_delta": q_substring_delta,
        # per-doc novelty of the delta's shingle stream vs the same index
        "shingle_novelty": q_shingle_novelty,
        "embedding_near_dup": lambda spark, sf: similarity.embedding_near_dup_pairs(
            planted_embeddings(load(spark, sf, "embeddings"))
        ),
        # semantic dedup: connected components over the cosine-pair edges
        "embedding_dedup_clusters": lambda spark, sf: similarity.embedding_dedup_clusters(
            planted_embeddings(load(spark, sf, "embeddings"))
        ),
        # incremental semantic dedup against the persisted sign-LSH index
        "embedding_delta_near_dup": q_embedding_delta_near_dup,
        # SemDeDup: k-means blocking + within-cluster cosine pruning
        "semantic_dedup": lambda spark, sf: similarity.semantic_dedup(
            load(spark, sf, "embeddings")
        ),
        # D4-style diversity selection: per-semantic-cluster hash-order cap
        "cluster_balanced_sample": lambda spark, sf: similarity.cluster_balanced_sample(
            load(spark, sf, "embeddings")
        ),
        "bpe_token_stats": lambda spark, sf: textstats.bpe_token_stats(load(spark, sf, "documents")),
        "media_resize_sample": lambda spark, sf: multimodal.media_resize_and_sample(
            multimodal.media_table_from_documents(load(spark, sf, "documents"))
        ),
        # multimodal plumbing
        "media_feature_stats": lambda spark, sf: multimodal.media_feature_stats(
            multimodal.media_table_from_documents(load(spark, sf, "documents"))
        ),
        # interleaved-payload profile over extracted span sequences
        "interleave_stats": q_interleave_stats,
        # PDF/layout parse path (stub decoder, real plumbing)
        "pdf_page_stats": lambda spark, sf: pdf.extract_pdf(
            pdf.pdf_table_from_documents(load(spark, sf, "documents"))
        ).select("doc_id", "n_pages", "status", "spans_emitted"),
        # join family: documents ⋈ embeddings + aggregate
        "docs_joined_labels": q_docs_joined_labels,
        # sessionization (window functions, one shared shuffle)
        "funnel_conversion": lambda spark, sf: sessionize.funnel_conversion(
            load(spark, sf, "events")
        ),
        # temporal operators Spark lacks as built-ins (µs-exact contracts)
        "asof_join_enrich": lambda spark, sf: temporal.asof_enrich(
            load(_utc(spark), sf, "events")
        ),
        "time_rollup": lambda spark, sf: temporal.time_rollup(
            load(_utc(spark), sf, "events")
        ),
        "session_concurrency": lambda spark, sf: temporal.session_concurrency(
            load(_utc(spark), sf, "events")
        ),
        # centrality over the near-dup candidate graph (iterative, exact
        # integer mass — the CC loop's PageRank sibling)
        "doc_pagerank": lambda spark, sf: graph.doc_pagerank(
            load(spark, sf, "documents")
        ),
        # cross-source contamination matrix (winnow fingerprints projected
        # to sources; per-key join multiplicity bounded by source count)
        "source_overlap_matrix": lambda spark, sf: dedup.source_overlap_matrix(
            load(spark, sf, "documents")
        ),
        # incremental as-of join against the persisted user-state index
        # (eleventh wave-keyed family; idempotent max-merge appends)
        "asof_delta_enrich": q_asof_delta_enrich,
        # the streaming twin: per-user (ts, id) group state, append-mode
        # emission, same oracle as the batch as-of join
        "streaming_asof_enrich": q_streaming_asof_enrich,
        # continuous-aggregate probe: persisted finest-grid partials
        # (twelfth wave-keyed family, additive), full-recompute oracle
        "time_rollup_delta": q_time_rollup_delta,
        # per-label centroid geometry (rounded means, label-bounded joins)
        "label_centroid_similarity": lambda spark, sf: similarity.label_centroid_similarity(
            load(spark, sf, "embeddings")
        ),
        # phrase mining: top-K bigram PMI (quantized milli-bit logs)
        "pmi_collocations": lambda spark, sf: textstats.pmi_collocations(
            load(spark, sf, "documents")
        ),
        "session_stats": lambda spark, sf: sessionize.session_stats(load(_utc(spark), sf, "events")),
        # streaming (batch shape + true Structured Streaming run + custom
        # stateful operator via applyInPandasWithState)
        "windowed_events": lambda spark, sf: windowed_event_counts(load(_utc(spark), sf, "events")),
        "streaming_windowed_events": lambda spark, sf: run_streaming_window_counts(
            _utc(spark), sf, state_partitions=_STREAM_STATE_PARTITIONS
        ),
        "stateful_user_totals": lambda spark, sf: running_user_totals(
            spark, sf, state_partitions=_STREAM_STATE_PARTITIONS
        ),
        # streaming gap-sessionization: applyInPandasWithState, verified
        # against the SAME oracle as the batch session_stats window plan
        "streaming_session_stats": lambda spark, sf: run_streaming_sessionization(
            _utc(spark), sf, state_partitions=_STREAM_STATE_PARTITIONS
        ),
        # the production eviction path (bounded state) under the SAME oracle
        "streaming_session_stats_evicting": q_streaming_session_stats_evicting,
        # ingest-time exact dedup: per-digest stateful stream vs batch groupBy
        "streaming_exact_dedup": q_streaming_exact_dedup,
        # the normalized-key twin (mirror copies collapse at ingest)
        "streaming_normalized_dedup": q_streaming_normalized_dedup,
        # recurring-crawl near-dup: per-wave index probe + append as a stream
        "streaming_simhash_pairs": q_streaming_simhash_pairs,
        # the vector twin: per-wave sign-LSH probe + segment append
        "streaming_embedding_pairs": q_streaming_embedding_pairs,
    }


def build_oracles() -> dict[str, str]:
    return {
        "extract_fixture_spans": golden_spans_values_sql(),
        "extract_fixture_status": golden_status_values_sql(),
        "extract_img_urls": golden_img_urls_values_sql(),
        "extract_synthetic_stats": synthetic_golden_values_sql("extract_synthetic_stats"),
        "corpus_build": synthetic_golden_values_sql("corpus_build"),
        "corpus_funnel": synthetic_golden_values_sql("corpus_funnel"),
        "exact_dedup": oracle_exact_dedup(),
        "minhash_signatures": oracle_minhash_signatures(),
        "lsh_candidate_pairs": oracle_lsh_candidate_pairs(),
        "lsh_candidate_doc_pairs": oracle_lsh_candidate_doc_pairs(),
        "edit_verified_pairs": oracle_edit_verified_pairs(),
        "normalized_dedup": oracle_normalized_dedup(),
        "simhash": oracle_simhash(),
        "simhash_near_dup_pairs": oracle_simhash_near_dup_pairs(),
        "ngram_jaccard": oracle_ngram_jaccard(),
        "ngram_containment": oracle_ngram_containment(),
        "winnow_fingerprints": oracle_winnow_fingerprints(),
        "winnow_overlap_pairs": oracle_winnow_overlap_pairs(),
        "benchmark_contamination": oracle_benchmark_contamination(),
        "dedup_delta_pairs": oracle_dedup_delta_pairs(),
        "simhash_delta_pairs": oracle_simhash_delta_pairs(),
        "dedup_clusters": oracle_dedup_clusters(),
        "simhash_dedup_clusters": oracle_simhash_dedup_clusters(),
        "line_dedup": oracle_line_dedup(),
        "dup_ngram_stats": oracle_dup_ngram_stats(),
        "substring_dedup": oracle_substring_dedup(),
        "pii_redact": oracle_pii_redact(),
        "hash_sample": oracle_hash_sample(),
        "stratified_sample": oracle_stratified_sample(),
        "token_budget_sample": oracle_token_budget_sample(),
        "source_cap_sample": oracle_source_cap_sample(),
        "streaming_extract_spans": golden_spans_values_sql(),
        "token_stats": oracle_token_stats(),
        "length_stats": oracle_length_stats(),
        "length_stats_approx": oracle_length_stats_approx(),
        "sequence_pack": oracle_sequence_pack(),
        "shard_assignments": oracle_shard_assignments(),
        "interleave_stats": oracle_interleave_stats(),
        "quality_scores": oracle_quality_scores(),
        "quality_filter": oracle_quality_filter(),
        "unigram_logprob": oracle_unigram_logprob(),
        "bigram_logprob": oracle_bigram_logprob(),
        "source_kl_divergence": oracle_source_kl_divergence(),
        "tfidf_top_terms": oracle_tfidf_top_terms(),
        "repetition_stats": oracle_repetition_stats(),
        "lang_id": oracle_lang_id(),
        "lang_id_profile": oracle_lang_id_profile(),
        "fingerprints": oracle_fingerprints(),
        "cosine_topk": oracle_cosine_topk(),
        "lsh_sign_buckets": oracle_lsh_sign_buckets(),
        "ann_lsh_topk": oracle_ann_lsh_topk(),
        "ann_lsh_topk_indexed": oracle_ann_lsh_topk(),
        "ann_ivf_topk": oracle_ann_ivf_topk(),
        "perplexity_buckets": oracle_perplexity_buckets(),
        "cms_heavy_hitters": oracle_cms_heavy_hitters(),
        "cms_delta_heavy_hitters": oracle_cms_delta_heavy_hitters(),
        "hll_distinct_tokens": oracle_hll_distinct_tokens(),
        "bloom_delta_new_docs": oracle_bloom_delta_new_docs(),
        "quality_classifier_scores": oracle_quality_classifier_scores(),
        "source_temperature_mix": oracle_source_temperature_mix(),
        "zipf_law_fit": oracle_zipf_law_fit(),
        "shingle_novelty": oracle_shingle_novelty(),
        "funnel_conversion": oracle_funnel_conversion(),
        "asof_join_enrich": oracle_asof_join_enrich(),
        "time_rollup": oracle_time_rollup(),
        "session_concurrency": oracle_session_concurrency(),
        "doc_pagerank": oracle_doc_pagerank(),
        "source_overlap_matrix": oracle_source_overlap_matrix(),
        "asof_delta_enrich": oracle_asof_join_enrich(delta_only=True),
        "streaming_asof_enrich": oracle_asof_join_enrich(),
        "time_rollup_delta": oracle_time_rollup(),
        "label_centroid_similarity": oracle_label_centroid_similarity(),
        "pmi_collocations": oracle_pmi_collocations(),
        "substring_delta": oracle_substring_delta(),
        "media_feature_stats": oracle_media_feature_stats(),
        "pdf_page_stats": oracle_pdf_page_stats(),
        "embedding_near_dup": oracle_embedding_near_dup(),
        "semantic_dedup": oracle_semantic_dedup(),
        "cluster_balanced_sample": oracle_cluster_balanced_sample(),
        "embedding_dedup_clusters": oracle_embedding_dedup_clusters(),
        "embedding_delta_near_dup": oracle_embedding_delta_near_dup(),
        "bpe_token_stats": oracle_bpe_token_stats(),
        "media_resize_sample": oracle_media_resize_sample(),
        "docs_joined_labels": oracle_docs_joined_labels(),
        "session_stats": oracle_session_stats(),
        "windowed_events": oracle_windowed_events(),
        "streaming_windowed_events": oracle_windowed_events(),
        "stateful_user_totals": oracle_user_totals(),
        "streaming_session_stats": oracle_session_stats(),
        "streaming_session_stats_evicting": oracle_session_stats(),
        "streaming_exact_dedup": oracle_streaming_exact_dedup(),
        "streaming_normalized_dedup": oracle_streaming_normalized_dedup(),
        "streaming_simhash_pairs": oracle_streaming_simhash_pairs(),
        "streaming_embedding_pairs": oracle_streaming_embedding_pairs(),
    }
