"""Materialization cut for multi-consumer intermediate frames.

Every operator that derives an expensive frame consumed by 2+ plan
branches (LSH band/code rows, IVF assignments, unigram doc_tf/counts,
token-budget scores, connected-component labels) materializes it once
instead of re-deriving the whole subtree per consumer — without this the
sign-LSH UDF ran 12× per near-dup query (round-3 plan audit).

The cut is ``localCheckpoint``: executor-local, non-replicated blocks.
That is the right trade for idempotent analytics queries and for the
jobs' per-wave programs — an executor loss mid-query fails the query and
the job-level retry re-runs it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """Cut the lineage of ``df`` with ``localCheckpoint`` and return the
    materialized frame.  The cut is LAZY: the blocks are written by the
    first action that computes the frame (the connected-components loop
    relies on this — each round's labels are realized by that round's
    convergence count, one job per round)."""
    return df.localCheckpoint(False)
