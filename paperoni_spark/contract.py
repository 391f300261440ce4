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
    pdf,
    sessionize,
    similarity,
    temporal,
    textstats,
)
from .operators.extract import interleave_stats, run_extract
from .pipeline.job import extract_pipeline
from .spans import fixture_corpus, synth_corpus
from .streaming.sessions import run_streaming_sessionization

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
    return interleave_stats(extracted.select("doc_id", "extracted"))


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


N_PLANTED_NEAR_DUPS = 3


def planted_near_dup_documents(spark: SparkSession, n_docs: int = 150) -> DataFrame:
    """The synthetic corpus plus ``N_PLANTED_NEAR_DUPS`` near-duplicate
    variants: each variant re-renders a seed document's HTML with one
    marker word injected into the last paragraph, so after extraction its
    text differs (exact dedup keeps it: different fingerprint) yet its
    64-bit SimHash sits within Hamming 1 of the seed (probed
    deterministically; the generator is frozen).  The planted set seeds
    the gate: the near-dup funnel stage must reject a known-nonzero set,
    not be trivially green on zero."""
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
    frozen golden VALUES — see synthetic_golden_values_sql.
    max_hamming=1 (not the production default 3): the synthetic corpus
    draws from a ~60-word lorem vocabulary, so at Hamming 3 the 64-bit
    fingerprint honestly collapses half the homogeneous corpus — the
    tight threshold keeps the stage's reject set meaningful (all planted
    variants + a handful of organic collisions) for the accounting
    contract."""
    from .pipeline.compose import build_training_corpus

    _, funnel, _ = build_training_corpus(
        planted_near_dup_documents(spark), near_dup=True, max_hamming=1
    )
    return funnel


def q_extract_synthetic_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The extraction pipeline (default scan mode) over the synthetic
    heavy-tail corpus, one row per document (status + span/node
    counters).  Oracle: frozen golden VALUES — see
    synthetic_golden_values_sql."""
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

# ``toks`` + ``sh`` (distinct 3-gram shingles): the one shingle
# definition the Jaccard and dedup-cluster oracles compose on
_SHINGLE_CTE = f"""
toks AS (SELECT doc_id, {_TOKENS} AS arr FROM documents),
sh AS (
  SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS shingle
  FROM toks, unnest(generate_series(1, len(arr) - 2)) AS t(i)
  WHERE len(arr) >= 3
)
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


# the DF-capped blocked-Jaccard chain both n-gram oracles build on:
# ``scored`` holds every blocked pair's rounded Jaccard; the pairs at or
# above _JACCARD_MIN are the near-dup edges
_JACCARD_CTES = f"""{_SHINGLE_CTE},
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
),
scored AS (
  SELECT doc_a, doc_b,
         round(common::DOUBLE / (na.n_sh + nb.n_sh - common), 6) AS jaccard
  FROM pairs
  JOIN sizes na ON na.doc_id = doc_a
  JOIN sizes nb ON nb.doc_id = doc_b
)"""
_JACCARD_MIN = 0.1


def oracle_ngram_jaccard() -> str:
    return f"""
WITH {_JACCARD_CTES}
SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= {_JACCARD_MIN}
"""


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


def _stage_micro_batches(docs: DataFrame, root: str) -> tuple[str, str]:
    """Stage a documents frame as two mtime-ordered parquet files
    (doc_id mod 2) under ``root`` (file sources order batches by
    modification time).  Returns ``(root, docs_dir)``; the caller owns
    cleanup (a _stream_tmp root when the returned frame reads lazily)."""
    import glob
    import shutil
    import time

    n_batches = 2
    docs_dir = os.path.join(root, "docs")
    os.makedirs(docs_dir)
    now = time.time()
    # ONE pass over the corpus (partitionBy on the batch class) instead of
    # n_batches filter+write jobs; the explicit repartition count puts each
    # class in exactly one task → exactly one file per class (and keeps AQE
    # from coalescing the write, per the round-4 partitioned-write finding)
    sdir = os.path.join(root, "staged")
    (
        docs.withColumn("_b", (F.col("doc_id") % n_batches).cast("int"))
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
            edir = os.path.join(root, f"empty{i}")
            docs.limit(0).coalesce(1).write.parquet(edir)
            parts = glob.glob(os.path.join(edir, "part-*.parquet"))
        shutil.move(parts[0], dst)
        os.utime(dst, (now + 10 * i, now + 10 * i))
    return root, docs_dir


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


def oracle_dedup_clusters() -> str:
    """Recursive-CTE twin of dedup.dedup_clusters: the jaccard edge set
    of oracle_ngram_jaccard, true connected-component fixpoint,
    min-doc_id cluster labels."""
    return f"""
WITH RECURSIVE {_JACCARD_CTES},
jp AS (SELECT doc_a, doc_b FROM scored WHERE jaccard >= {_JACCARD_MIN}),
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
# the "newly crawled" delta, the rest are the indexed corpus.  The first
# hex char of md5(salt || doc_id) decides membership, the same expression
# oracle_simhash_delta_pairs spells in SQL, so both engines agree.
_DELTA_SALT = "delta:"
_DELTA_PREFIX_CHARS = ("0", "1", "2")


def _delta_flag_col():
    key = F.md5(F.concat(F.lit(_DELTA_SALT), F.col("doc_id").cast("string")))
    return F.substring(key, 1, 1).isin(*_DELTA_PREFIX_CHARS)


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


def q_simhash_delta_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental fingerprint sweep: persist the corpus partition's
    SimHash index (16 B/doc), then probe it with only the delta hashed —
    the corpus is never re-hashed."""
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
    """Full-recompute twin restricted to delta-touching pairs: band rows
    over ALL documents, over-cap buckets (counted over index ∪ delta,
    what the incremental operator sees) excluded, probe side = delta."""
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


def _sq_dist_sql(e: str, c: str) -> str:
    """The rounded expanded-form squared distance of the IVF oracle
    (mirrors the engine's numpy form term-for-term)."""
    r = similarity.IVF_ROUND
    return (
        f"round(list_dot_product({e}, {e}) - 2 * list_dot_product({e}, {c})"
        f" + list_dot_product({c}, {c}), {r})"
    )


def _ivf_lloyd_ctes(
    n_centroids: int, iters: int, dim: int, n_queries: int, nprobe: int
) -> list[str]:
    """oracle_ann_ivf_topk's coarse-quantizer CTE chain: ``base`` →
    Lloyd iterations → ``af`` (final assignment), ``q`` (query vectors),
    ``probes`` (the nprobe nearest centroids per query, rounded-distance
    + cid tie-break) — the replay of similarity.ivf_assignments and
    similarity._ivf_probes_col."""
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


def oracle_ann_ivf_topk() -> str:
    """DuckDB twin of similarity.ann_ivf_topk at its defaults (16
    centroids, 2 Lloyd iterations, 10 queries, k=5, nprobe=2): the same
    deterministic k-means (seed = k lowest vec_ids, rounded distances
    with lowest-cid tie-break, rounded per-dim means, empty clusters
    keep their centroid) unrolled as one CTE chain per Lloyd
    iteration."""
    ctes = _ivf_lloyd_ctes(
        n_centroids=16, iters=2, dim=similarity.EMBED_DIM, n_queries=10, nprobe=2
    )
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
        + "\nSELECT query_id, vec_id, score, rank::INT AS rank FROM ranked WHERE rank <= 5"
    )


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


def oracle_substring_delta() -> str:
    """The whole-corpus ExactSubstr replay restricted to the delta wave:
    a delta doc's rewrite depends only on per-digest occurrence TOTALS,
    which are identical whether counted in one pass or summed across
    the index's wave segments."""
    return oracle_substring_dedup() + "WHERE doc_id % 2 = 1\n"


# ------------------------------------------------------------- the contract


def build_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # extraction kernel (SURVEY §2.2) through the Spark path
        "extract_fixture_spans": q_extract_fixture_spans,
        "extract_fixture_status": q_extract_fixture_status,
        "extract_img_urls": q_extract_img_urls,
        "extract_synthetic_stats": q_extract_synthetic_stats,
        "corpus_funnel": q_corpus_funnel,
        # dedup family
        "simhash": lambda spark, sf: dedup.simhash(load(spark, sf, "documents")),
        "simhash_near_dup_pairs": lambda spark, sf: dedup.simhash_near_dup_pairs(load(spark, sf, "documents")),
        "ngram_jaccard": lambda spark, sf: dedup.ngram_jaccard_pairs(load(spark, sf, "documents")),
        "simhash_delta_pairs": q_simhash_delta_pairs,
        "dedup_clusters": lambda spark, sf: dedup.dedup_clusters(load(spark, sf, "documents")),
        "simhash_dedup_clusters": lambda spark, sf: dedup.simhash_dedup_clusters(load(spark, sf, "documents")),
        # Lee-et-al. exact-substring dedup (planted shared passage + within-doc repeat)
        "substring_dedup": q_substring_dedup,
        # text analysis family: the funnel's quality stages and keywords
        "quality_scores": lambda spark, sf: textstats.quality_scores(load(spark, sf, "documents")),
        "quality_filter": lambda spark, sf: textstats.quality_filter(load(spark, sf, "documents")),
        # per-doc top-k TF-IDF keywords (round-then-rank, term tie-break)
        "tfidf_top_terms": lambda spark, sf: textstats.tfidf_top_terms(load(spark, sf, "documents")),
        # fastText-style hashed-linear quality model (integer weights)
        "quality_classifier_scores": lambda spark, sf: textstats.quality_classifier_scores(
            load(spark, sf, "documents")
        ),
        # IVF ANN: k-means made engine-portable (rounded distances/means,
        # cid tie-breaks) so the DuckDB twin replays the exact Lloyd
        # iterations
        "ann_ivf_topk": lambda spark, sf: similarity.ann_ivf_topk(load(spark, sf, "embeddings")),
        # cross-wave ExactSubstr: delta probed against the persisted
        # shingle-histogram index
        "substring_delta": q_substring_delta,
        # per-doc novelty of the delta's shingle stream vs the same index
        "shingle_novelty": q_shingle_novelty,
        # interleaved-payload profile over extracted span sequences
        "interleave_stats": q_interleave_stats,
        # PDF/layout parse path (stub decoder, real plumbing)
        "pdf_page_stats": lambda spark, sf: pdf.extract_pdf(
            pdf.pdf_table_from_documents(load(spark, sf, "documents"))
        ).select("doc_id", "n_pages", "status", "spans_emitted"),
        # temporal operators Spark lacks as built-ins (µs-exact contracts)
        "asof_join_enrich": lambda spark, sf: temporal.asof_enrich(
            load(_utc(spark), sf, "events")
        ),
        "time_rollup": lambda spark, sf: temporal.time_rollup(
            load(_utc(spark), sf, "events")
        ),
        # incremental as-of join against the persisted user-state index
        # (idempotent max-merge appends)
        "asof_delta_enrich": q_asof_delta_enrich,
        # continuous-aggregate probe: persisted finest-grid partials
        # (additive), full-recompute oracle
        "time_rollup_delta": q_time_rollup_delta,
        # gap sessionization (lag + running-sum windows, one user_id shuffle)
        "session_stats": lambda spark, sf: sessionize.session_stats(load(_utc(spark), sf, "events")),
        # streaming gap-sessionization: applyInPandasWithState, verified
        # against the SAME oracle as the batch session_stats window plan
        "streaming_session_stats": lambda spark, sf: run_streaming_sessionization(
            _utc(spark), sf, state_partitions=_STREAM_STATE_PARTITIONS
        ),
        # recurring-crawl near-dup: per-wave index probe + append as a stream
        "streaming_simhash_pairs": q_streaming_simhash_pairs,
    }


def build_oracles() -> dict[str, str]:
    return {
        "extract_fixture_spans": golden_spans_values_sql(),
        "extract_fixture_status": golden_status_values_sql(),
        "extract_img_urls": golden_img_urls_values_sql(),
        "extract_synthetic_stats": synthetic_golden_values_sql("extract_synthetic_stats"),
        "corpus_funnel": synthetic_golden_values_sql("corpus_funnel"),
        "simhash": oracle_simhash(),
        "simhash_near_dup_pairs": oracle_simhash_near_dup_pairs(),
        "ngram_jaccard": oracle_ngram_jaccard(),
        "simhash_delta_pairs": oracle_simhash_delta_pairs(),
        "dedup_clusters": oracle_dedup_clusters(),
        "simhash_dedup_clusters": oracle_simhash_dedup_clusters(),
        "substring_dedup": oracle_substring_dedup(),
        "interleave_stats": oracle_interleave_stats(),
        "quality_scores": oracle_quality_scores(),
        "quality_filter": oracle_quality_filter(),
        "tfidf_top_terms": oracle_tfidf_top_terms(),
        "ann_ivf_topk": oracle_ann_ivf_topk(),
        "quality_classifier_scores": oracle_quality_classifier_scores(),
        "shingle_novelty": oracle_shingle_novelty(),
        "asof_join_enrich": oracle_asof_join_enrich(),
        "time_rollup": oracle_time_rollup(),
        "asof_delta_enrich": oracle_asof_join_enrich(delta_only=True),
        "time_rollup_delta": oracle_time_rollup(),
        "substring_delta": oracle_substring_delta(),
        "pdf_page_stats": oracle_pdf_page_stats(),
        "session_stats": oracle_session_stats(),
        "streaming_session_stats": oracle_session_stats(),
        "streaming_simhash_pairs": oracle_streaming_simhash_pairs(),
    }
