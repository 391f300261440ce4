"""Deterministic corpus sampling for training-data pipelines.

Random sampling (``df.sample`` / ``sampleBy``) is RNG-seeded per task and
therefore neither reproducible across engines nor stable under
repartitioning — unacceptable for a corpus that must be rebuildable
bit-for-bit.  Hash sampling decides membership from ``md5(salt || doc_id)``
alone: pure map-side, no shuffle, identical on any engine and any
partitioning, and refreshable by salt rotation.  The selection predicate is
a lexicographic compare of the digest's first 8 hex chars against a literal
cutoff — no integer conversion, so the DuckDB oracle is the same one-liner.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize

SAMPLE_SALT = "sample:"


def _cutoff_hex(fraction: float) -> str:
    """fraction -> lexicographic cutoff for an 8-hex-char key (strict <).
    fraction >= 1.0 returns 'g', which every hex key sorts below — a plain
    'ffffffff' cutoff would silently drop keys equal to it (~1 in 4.3e9
    docs, ~233 at 10^12 scale)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction out of range: {fraction}")
    if fraction >= 1.0:
        return "g"
    return format(int(fraction * 16**8), "08x")


def sample_key(salt: str = SAMPLE_SALT, key_col: str = "doc_id"):
    """The 8-hex-char membership key: md5(salt || key).  Single source
    of truth — the DuckDB oracles mirror this expression verbatim."""
    return F.substring(
        F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))), 1, 8
    )


def hash_sample(
    documents: DataFrame, fraction: float = 0.2, salt: str = SAMPLE_SALT
) -> DataFrame:
    """Keep each document iff the first 8 hex chars of ``md5(salt||doc_id)``
    fall below the fraction cutoff."""
    return documents.where(sample_key(salt) < F.lit(_cutoff_hex(fraction)))


BUDGET_PREFIX_LEN = 2  # hex chars → 16^2 = 256 sub-ranges per stratum


def token_budget_sample(
    documents: DataFrame,
    budget_per_lang: dict[str, int],
    default_budget: int = 0,
    salt: str = SAMPLE_SALT,
    prefix_len: int = BUDGET_PREFIX_LEN,
) -> DataFrame:
    """Take documents per language until a token budget is filled — the
    training-mix primitive ("20B English tokens, 5B code tokens, ...").

    Selection order is the md5 hash of the doc id (deterministic,
    shuffle-independent, salt-rotatable), with doc_id as the tie-break.

    Two-phase cut (the scale-safe plan): a single-stratum cumulative window
    puts an entire language through one task — at 10^12 docs the English
    stratum IS the corpus.  Instead: (1) aggregate token sums per
    (lang, key-prefix) — a tiny summary of 16^prefix_len rows per stratum —
    and turn it into per-prefix running offsets with a window over that
    summary only; (2) broadcast the offsets back, drop every prefix whose
    range starts past the budget map-side, and run the cumulative window
    partitioned by (lang, prefix), so each window task sees 1/256th of a
    stratum (prefix ordering == key ordering because the prefix is the
    key's first chars, so the rows kept — and their cum_tokens — are
    IDENTICAL to the single-window plan).  At 10^12 docs widen
    ``prefix_len`` to 4 (65,536 sub-ranges).  The offsets table is
    16^prefix_len rows PER STRATUM — bounded in corpus size but not in
    stratum cardinality (dirty lang data can carry millions of distinct
    values), so no broadcast hint: AQE broadcasts the runtime-small case
    and falls back to a shuffled join when the stratum space explodes —
    the same no-forced-broadcast rule as the dedup hot-set anti-joins."""
    from .textstats import tokens_col
    from pyspark.sql.window import Window

    toks = F.size(tokens_col(F.col("text")))
    key = F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string")))
    budget = F.lit(default_budget)
    for lang, b in sorted(budget_per_lang.items()):
        budget = F.when(F.col("lang") == lang, F.lit(b)).otherwise(budget)
    scored = documents.select(
        "doc_id",
        "lang",
        toks.alias("n_tokens"),
        key.alias("key"),
        F.substring(key, 1, prefix_len).alias("pfx"),
        budget.alias("budget"),
    )
    # scored feeds both the summary aggregation and the data-side window;
    # materialize it (ids + a few ints, no text) so the corpus is
    # tokenized once, not once per consumer
    scored = materialize(scored)
    # phase 1: per-(lang, prefix) token totals → running offsets.  The
    # window here runs over the 256-rows-per-stratum summary, not the data.
    pfx_w = (
        Window.partitionBy("lang")
        .orderBy("pfx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        scored.groupBy("lang", "pfx")
        .agg(F.sum("n_tokens").alias("pfx_tokens"))
        .select(
            "lang",
            "pfx",
            F.coalesce(F.sum("pfx_tokens").over(pfx_w), F.lit(0)).alias("offset"),
        )
    )
    # phase 2: map-side prune prefixes that start past the budget (<= not <:
    # a zero-token row exactly at the boundary must survive, matching the
    # single-window plan row-for-row), then window only within a prefix
    w = (
        Window.partitionBy("lang", "pfx")
        .orderBy(F.col("key").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        scored.join(offsets, ["lang", "pfx"])
        .where(F.col("offset") <= F.col("budget"))
        .withColumn("cum_tokens", F.col("offset") + F.sum("n_tokens").over(w))
        .where(F.col("cum_tokens") <= F.col("budget"))
        .select("doc_id", "lang", "n_tokens", "cum_tokens")
    )


def stratified_hash_sample(
    documents: DataFrame,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    stratum_col: str = "lang",
    salt: str = SAMPLE_SALT,
) -> DataFrame:
    """Per-stratum hash sampling (e.g. language rebalancing for a training
    mix): each stratum gets its own cutoff; unknown strata fall back to
    ``default_fraction``.  Still pure map-side."""
    key = sample_key(salt)
    cutoff = F.lit(_cutoff_hex(default_fraction))
    for stratum, fraction in sorted(fractions.items()):
        cutoff = F.when(
            F.col(stratum_col) == stratum, F.lit(_cutoff_hex(fraction))
        ).otherwise(cutoff)
    return documents.where(key < cutoff)


SOURCE_CAP_SALT = "srccap:"


def source_cap_sample(documents: DataFrame, cap_per_source: int = 10) -> DataFrame:
    """Per-domain document cap (the C4/RefinedWeb "no domain dominates the
    mix" guard): keep at most ``cap_per_source`` documents per source,
    chosen deterministically by hash order (md5(SOURCE_CAP_SALT||doc_id),
    doc_id tie-break) so the kept set is shuffle-independent.  Returns
    (doc_id, source, rk) with 1 <= rk <= cap_per_source.

    Same two-phase key-prefix cut as token_budget_sample, with unit
    weights: a naive row_number-per-source window puts a monster source
    through ONE task (at 10^12 docs a crawl's top domain is a meaningful
    fraction of the corpus); instead (1) count rows per (source, prefix)
    — a 16^BUDGET_PREFIX_LEN-row summary per source — and window THAT
    into running offsets, (2) drop past-cap prefixes map-side and rank
    only within a prefix, so each window task sees 1/256th of a source.
    Kept rows and ranks are identical to the single-window plan because
    prefix order == key order.  Unlike token_budget_sample the scored
    frame is NOT materialized: its recompute is one md5 expression (no
    tokenization UDF), cheaper at scale than writing the cut.  The
    offsets join is UNHINTED for the same reason as there — source
    cardinality is unbounded on dirty data (AQE broadcasts the
    runtime-small case)."""
    from pyspark.sql.window import Window

    key = F.md5(F.concat(F.lit(SOURCE_CAP_SALT), F.col("doc_id").cast("string")))
    scored = documents.select(
        "doc_id",
        "source",
        key.alias("key"),
        F.substring(key, 1, BUDGET_PREFIX_LEN).alias("pfx"),
    )
    pfx_w = (
        Window.partitionBy("source")
        .orderBy("pfx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        scored.groupBy("source", "pfx")
        .agg(F.count("*").alias("cnt"))
        .select(
            "source",
            "pfx",
            F.coalesce(F.sum("cnt").over(pfx_w), F.lit(0)).alias("offset"),
        )
    )
    w = Window.partitionBy("source", "pfx").orderBy(
        F.col("key").asc(), F.col("doc_id").asc()
    )
    # null-SAFE offsets join: a plain column-list join uses EqualTo and
    # silently DROPS every NULL-source row (exactly the dirty-data case
    # the cap targets), while the window's partitionBy — and the
    # single-window plan this must stay row-identical to — groups NULLs
    # as one source.  eqNullSafe keeps them capped, not lost.
    o = offsets.select(
        F.col("source").alias("o_source"), F.col("pfx").alias("o_pfx"), "offset"
    )
    return (
        scored.join(
            o,
            scored["source"].eqNullSafe(o["o_source"])
            & (scored["pfx"] == o["o_pfx"]),
        )
        .where(F.col("offset") < cap_per_source)
        .withColumn("rk", F.col("offset") + F.row_number().over(w))
        .where(F.col("rk") <= cap_per_source)
        .select("doc_id", "source", F.col("rk").cast("long").alias("rk"))
    )
