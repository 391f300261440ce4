"""Materialization policy for multi-consumer intermediate frames.

Every operator that derives an expensive frame consumed by 2+ plan
branches (LSH band/code rows, IVF assignments, unigram doc_tf/counts,
token-budget scores, connected-component labels) materializes it once
instead of re-deriving the whole subtree per consumer — without this the
sign-LSH UDF ran 12× per near-dup query (round-3 plan audit).

The DEFAULT is ``localCheckpoint``: executor-local, non-replicated blocks.
That is the right trade for idempotent analytics queries — an executor
loss mid-query fails the query and the job-level retry re-runs it — but a
long-lived pipeline that must survive node loss can swap in a reliable
mode at the SAME cut points:

* ``checkpoint`` — replicated reliable checkpoint to
  ``sc.setCheckpointDir`` (HDFS/object store on a real cluster); survives
  executor loss, costs a write + read of the materialized rows.
* ``table``     — write the frame as parquet under the directory in the
  Spark conf ``paperoni.materialize.dir`` and read it back; the strongest
  (and inspectable/reusable) form, same durability story as any sink.
  Files are uuid-named and NOT auto-reaped — durability is the point;
  the owning pipeline reaps the directory when its run retires.

Set the policy process-wide with :func:`set_materialize_mode` (a
long-lived pipeline does this once at startup) or lexically with the
:func:`materialize_mode` context manager; operators call
:func:`materialize` and inherit whatever policy is active.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame

MODES = ("localCheckpoint", "checkpoint", "table")

_mode: str = "localCheckpoint"


def get_materialize_mode() -> str:
    return _mode


def set_materialize_mode(mode: str) -> None:
    """Process-wide materialization policy for all operators."""
    if mode not in MODES:
        raise ValueError(f"unknown materialize mode {mode!r}; pick from {MODES}")
    global _mode
    _mode = mode


@contextmanager
def materialize_mode(mode: str):
    """Lexically-scoped policy override (restores the prior mode on exit)."""
    prior = _mode
    set_materialize_mode(mode)
    try:
        yield
    finally:
        set_materialize_mode(prior)


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cut the lineage of ``df`` under the active policy and return the
    materialized frame.  By default the localCheckpoint cut is LAZY: the
    blocks are written by the first action that computes the frame (the
    connected-components loop relies on this — each round's labels are
    realized by that round's convergence count, one job per round).
    ``eager`` forces immediate computation; checkpoint/table modes are
    inherently eager, which only strengthens the contract."""
    if _mode == "localCheckpoint":
        return df.localCheckpoint(eager=eager)
    if _mode == "checkpoint":
        # reliable, replicated: requires sc.setCheckpointDir (fails loudly
        # from Spark with a clear message if unset)
        return df.checkpoint(eager=True)
    # table mode
    spark = df.sparkSession
    base = spark.conf.get("paperoni.materialize.dir", None)
    if not base:
        raise ValueError(
            "materialize mode 'table' needs the Spark conf "
            "'paperoni.materialize.dir' (a durable directory/prefix)"
        )
    path = f"{base.rstrip('/')}/mat_{uuid.uuid4().hex}"
    df.write.parquet(path)
    return spark.read.parquet(path)
