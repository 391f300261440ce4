"""Materialization cut for multi-consumer intermediate frames.

Every operator that derives an expensive frame consumed by 2+ plan
branches (SimHash band rows, IVF assignments, TF-IDF doc_tf/df counts,
connected-component labels) materializes it once instead of re-deriving
the whole subtree per consumer — without this the IVF assignment UDF ran
4× in ann_ivf_topk's final plan.

The cut is ``localCheckpoint``: executor-local, non-replicated blocks.
That is the right trade for idempotent analytics queries and for the
jobs' per-wave programs — an executor loss mid-query fails the query and
the job-level retry re-runs it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """Cut the lineage of ``df`` with ``localCheckpoint`` and return the
    materialized frame.  The cut is only partly lazy.  With AQE on (as
    build_spark configures it), the call finalizes the adaptive plan,
    so every shuffle map stage of ``df`` runs right here, as one job or
    more.  Only the result stage waits: the checkpoint blocks are
    written by the first action that computes the frame.  A one-shuffle
    ``groupBy().count()`` frame on ``local[2]`` runs 1 job at this call
    and 2 more at its first ``count()``; a frame with no shuffle runs
    nothing here."""
    return df.localCheckpoint(False)
