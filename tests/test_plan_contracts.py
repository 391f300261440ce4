"""Plan-shape contracts for the headline driver queries.

The scale story lives in the physical plans, not the row counts: a
regression that adds a shuffle to a map-side query, un-prunes a column,
or drops a Python UDF into a pure-JVM pipeline passes every value gate
and silently costs 10-100× at 100 TB.  This test pins the executed-plan
properties the operators were designed around:

* shuffle budget (``Exchange hashpartitioning``/``rangepartitioning``
  ceilings — map-side queries must stay at ZERO),
* parquet column pruning (``ReadSchema`` must exclude the columns the
  query doesn't touch — reading ``text`` for a length histogram is how
  100-TB scans go 50× over budget),
* no ``CartesianProduct`` anywhere (the brute-force cosine baseline is
  whitelisted by absence — it's not in this table),
* no ``ArrowEvalPython`` in pure-expression pipelines.

Counts are taken from the FINAL AQE plan only (the toString includes the
initial plan too, which double-counts every node).
"""

from __future__ import annotations

import os
import re

import pytest

import paperoni_spark.contract as contract

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.exists(os.path.join(SF_DIR, "documents.parquet")),
    reason="driver testdata not present",
)

# name -> (max shuffle exchanges, columns that must NOT reach any scan)
PLAN_CONTRACTS = {
    # pure map-side: zero shuffles end-to-end, scan-speed at any scale
    "quality_filter": (0, ["source", "n_chars"]),
    "hash_sample": (0, ["text", "source", "n_chars"]),
    "pii_redact": (0, ["lang", "source", "n_chars"]),
    "fingerprints": (0, ["lang", "source", "n_chars"]),
    "quality_scores": (0, ["source", "n_chars"]),
    # single-shuffle partial-aggregated rollups with pruned scans
    "length_stats": (1, ["text", "doc_id", "source"]),
    "lang_id": (1, ["doc_id", "source", "n_chars"]),
    "token_stats": (1, ["doc_id", "source", "n_chars"]),
    "minhash_signatures": (1, ["lang", "source", "n_chars"]),
    # lsh_sign_buckets reads its materialized coded frame (no parquet
    # scan in the final plan) — only the shuffle/cartesian/arrow
    # contracts apply; a column-exclusion list here would be vacuous
    "lsh_sign_buckets": (1, []),
    "windowed_events": (1, ["user_id", "props"]),
    "session_stats": (1, ["props", "event_type"]),
    # small multi-stage shapes (digest agg / two-phase prefix cut)
    "exact_dedup": (2, ["doc_id", "lang", "n_chars"]),
    "source_cap_sample": (3, ["text", "lang", "n_chars"]),
    # exact-substring dedup: histogram + starts join + covered-union +
    # rewrite join — 4 shuffles, NO pair enumeration (the cartesian/
    # shuffle ceilings pin that no occurrence×occurrence join appears)
    "substring_dedup": (4, ["lang", "source", "n_chars"]),
    # two-phase packing prefix sum: bucket-summary agg + in-bucket window
    # (the global single-partition window runs over the tiny summary only
    # and is not a hash/range exchange); reads its materialized cut
    "sequence_pack": (2, []),
    # cross-wave ExactSubstr probe: delta histogram + index-restriction
    # join/sum + covered-union + rewrite join — same 4-shuffle ceiling as
    # the whole-corpus operator (the index side adds a JOIN, not a pass
    # over the corpus), still no pair enumeration
    "substring_delta": (4, ["lang", "source", "n_chars"]),
    # zipf head/tail split scorers: every fact-side join is a broadcast
    # (head) or runs over the materialized doc_tf/lp frames — the only
    # shuffle in the FINAL plan is the closing per-doc agg / rank window
    # (the corpus tokenize+agg shuffles live inside the materialization);
    # the n_docs count scan reads ZERO columns (struct<>)
    "tfidf_top_terms": (1, []),
    "bigram_logprob": (1, []),
    # frozen-centroid assignment over the materialized coded frame +
    # within-cluster min-id pruning: one shuffle (the cluster-keyed
    # pair stage), no pair cartesian, no Python at query time
    "semantic_dedup": (1, []),
    # CCNet tertiles: the data-wide shuffles are the materialized LM
    # scoring (inside the cut) and the per-(lang, band) rank window; the
    # other exchanges run over the band histogram / stratum totals —
    # summary tables bounded by score range × lang, not corpus size
    "perplexity_buckets": (5, []),
    # count-min sketch: the vocab-count agg lives inside the
    # materialization; the final plan shuffles only the (d, bucket)
    # sketch build and the per-token min — the sketch join back is a
    # forced broadcast (depth×4096 rows by construction) and the top-k
    # is TakeOrdered, never a corpus-wide window
    "cms_heavy_hitters": (2, []),
    # per-cluster diversity cap: same two-phase prefix-cut budget as
    # source_cap_sample (summary agg + offsets window + in-prefix rank)
    # over the materialized assignment frame
    "cluster_balanced_sample": (3, []),
    # persisted-sketch probe: delta-sketch agg + index counter re-agg +
    # the per-token min — the index scan is column-pruned to
    # (d, bucket, cnt) (wave never read) and both sketch joins are
    # forced broadcasts of ≤ depth×4096 rows
    "cms_delta_heavy_hitters": (3, []),
    # HLL census: register maxima + per-lang fold + the exact-distinct
    # yardstick's two-phase count — rho is map-side string work, the
    # register table is ≤ 256 rows per stratum
    "hll_distinct_tokens": (4, []),
    # per-source KL rollup: the head/tail split again, plus exactly two
    # source-keyed shuffles (the broadcast-side per-source totals agg
    # and the closing rollup) — source cardinality is tiny, so both are
    # cheap at any corpus size
    "source_kl_divergence": (2, []),
    # hashed-linear quality model: map-side md5 weights feeding ONE
    # partial-aggregated doc shuffle — tokens never leave their split,
    # and the scan reads only (doc_id, text)
    "quality_classifier_scores": (1, ["lang", "source", "n_chars"]),
    # temperature mix: the source rollup lives inside the
    # materialization; the final plan is 1-row total aggs + broadcast
    # cross joins — zero data-sized shuffles
    "source_temperature_mix": (0, []),
    # zipf head fit: band histogram + offsets window + in-band rank +
    # the closing per-lang regression agg — every post-materialization
    # exchange moves a summary (bands × langs / top-k head), never the
    # vocabulary
    "zipf_law_fit": (4, []),
    # persisted-Bloom probe: delta digest distinct + per-digest hit agg
    # + the verdict join — the bit table is a forced broadcast (≤ 65536
    # rows by construction, pruned to pos alone), and only (doc_id,
    # text) is read from the corpus
    "bloom_delta_new_docs": (3, ["lang", "source", "n_chars"]),
    # novelty probe: delta digest distinct + index restriction join +
    # the per-doc fold — the index scan is pruned to the digest alone
    # and the corpus side reads (doc_id) plus the materialized shingles
    "shingle_novelty": (3, ["lang", "source", "n_chars"]),
    # ordered funnel: one user-keyed min-agg per step over a
    # monotonically narrowing side; each step's event_type filter is
    # pushed into the parquet scan, and the payload columns never load
    "funnel_conversion": (4, ["props", "value", "event_id"]),
    # as-of join via the union-window trick: ONE user-keyed shuffle for
    # the carry-forward window (never the join-then-rank cross product);
    # both event_type filters push into the scans, payload never loads
    "asof_join_enrich": (1, ["props", "value"]),
    # hypertable rollup: only the finest level shuffles event-sized data
    # (1 exchange); the coarse levels re-aggregate bucket partials and
    # the union branches reuse the finest exchange
    "time_rollup": (5, ["props", "user_id", "event_id"]),
    # interval concurrency sweep: the sessionizer runs once behind the
    # materialize cut; in-band counts are per-band RUNNING WINDOWS over
    # the points ∪ queries union (a band-keyed join would be quadratic
    # within a skewed band) — no session-pair set is ever formed
    "session_concurrency": (8, []),
    # source contamination matrix: winnow window + (source, fp) distinct
    # + the fp join (per-key multiplicity bounded by source count); the
    # (source, fp) exchange is reused across sizes and both join sides,
    # and only (doc_id, text) / (doc_id, source) are read
    "source_overlap_matrix": (9, ["lang", "n_chars"]),
    # centroid geometry: one (label, dim) partial-agg shuffle over the
    # exploded dims; everything after is label-cardinality-bounded
    # (norms broadcast, dim join multiplicity = |labels|), vec_id never
    # read
    "label_centroid_similarity": (6, ["vec_id"]),
    # PMI top-K: the tokenize/count passes live behind the materialize
    # cuts; the final plan is broadcast joins + ONE TakeOrdered — never
    # a corpus-wide sort or window
    "pmi_collocations": (0, []),
}


@pytest.mark.parametrize("name", sorted(PLAN_CONTRACTS))
def test_plan_contract(spark, name):
    max_exchanges, excluded = PLAN_CONTRACTS[name]
    df = contract.build_queries()[name](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]

    shuffles = final.count("Exchange hashpartitioning") + final.count(
        "Exchange rangepartitioning"
    )
    assert shuffles <= max_exchanges, f"{name}: {shuffles} shuffles\n{final[:3000]}"
    assert "CartesianProduct" not in final, final[:3000]
    assert "ArrowEvalPython" not in final, final[:3000]
    # capture to end-of-line: a lazy struct<[^>]*> stops at the FIRST '>'
    # and silently skips any column after a nested type like array<float>
    schemas = re.findall(r"ReadSchema: (.*)", final)
    # a materialized (localCheckpoint) pipeline reads its cut as an RDD
    # scan — the parquet scan+pruning happened inside the materialization
    assert schemas or "Scan ExistingRDD" in final, final[:3000]
    for col in excluded:
        for s in schemas:
            assert f"{col}:" not in s, f"{name}: unpruned column {col} in {s}"
