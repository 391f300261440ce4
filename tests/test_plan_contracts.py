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
* no ``CartesianProduct`` anywhere,
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
    "quality_scores": (0, ["source", "n_chars"]),
    # hashed-linear quality model: a map-side integer fold over each
    # doc's tokens (the funnel's own logit expression) — tokens never
    # leave their row, and the scan reads only (doc_id, text)
    "quality_classifier_scores": (0, ["lang", "source", "n_chars"]),
    # single-shuffle partial-aggregated rollup with pruned scans
    "session_stats": (1, ["props", "event_type"]),
    # exact-substring dedup: histogram + starts join + covered-union +
    # rewrite join — 4 shuffles, NO pair enumeration (the cartesian/
    # shuffle ceilings pin that no occurrence×occurrence join appears)
    "substring_dedup": (4, ["lang", "source", "n_chars"]),
    # cross-wave ExactSubstr probe: delta histogram + index-restriction
    # join/sum + covered-union + rewrite join — same 4-shuffle ceiling as
    # the whole-corpus operator (the index side adds a JOIN, not a pass
    # over the corpus), still no pair enumeration
    "substring_delta": (4, ["lang", "source", "n_chars"]),
    # zipf head/tail split scorer: every fact-side join is a broadcast
    # (head) or runs over the materialized doc_tf/df frames — the only
    # shuffle in the FINAL plan is the closing rank window
    # (the corpus tokenize+agg shuffles live inside the materialization);
    # the n_docs count scan reads ZERO columns (struct<>)
    "tfidf_top_terms": (1, []),
    # novelty probe: delta digest distinct + index restriction join +
    # the per-doc fold — the index scan is pruned to the digest alone
    # and the corpus side reads (doc_id) plus the materialized shingles
    "shingle_novelty": (3, ["lang", "source", "n_chars"]),
    # as-of join via the union-window trick: ONE user-keyed shuffle for
    # the carry-forward window (never the join-then-rank cross product);
    # both event_type filters push into the scans, payload never loads
    "asof_join_enrich": (1, ["props", "value"]),
    # hypertable rollup: only the finest level shuffles event-sized data
    # (1 exchange); the coarse levels re-aggregate bucket partials and
    # the union branches reuse the finest exchange
    "time_rollup": (5, ["props", "user_id", "event_id"]),
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
