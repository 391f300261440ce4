"""Shared streaming-runner plumbing.

``state_shuffle_partitions`` sizes the stateful-operator shuffle for one
stream: Structured Streaming's state store allocates, loads, and commits
``spark.sql.shuffle.partitions`` state partitions EVERY micro-batch, and
— unlike stateless exchanges — AQE never coalesces them, so a stream
whose key cardinality is far below the session default pays the full
width in per-batch fixed cost (measured on the sf0.01 gate: a stateful
stream drops 4-7 s → ~2 s going 32 → 4 partitions).  At production
scale the same knob matters in the other direction: the width is FROZEN
into the checkpoint by the first batch, so it must be sized to peak key
cardinality up front — a restart cannot change it without a new
checkpoint.  ``None`` leaves the session setting untouched.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import SparkSession

_CONF = "spark.sql.shuffle.partitions"


@contextmanager
def state_shuffle_partitions(spark: SparkSession, n: int | None):
    """Temporarily pin ``spark.sql.shuffle.partitions`` for a stream's
    lifetime (availableNow runs entirely inside the ``with`` body).  The
    session value is restored afterwards — gate queries must not leak
    tuning into the shared session (the driver runs them back-to-back)."""
    if n is None:
        yield
        return
    old = spark.conf.get(_CONF)
    spark.conf.set(_CONF, str(n))
    try:
        yield
    finally:
        spark.conf.set(_CONF, old)
