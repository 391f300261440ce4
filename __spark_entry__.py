"""Driver contract for the spark-graft builder (PySpark target).

entry()     — flagship extraction run (fixture + synthetic corpus) at sf0.001.
queries()   — operator surface from SURVEY.md §2 + the training-data ops
              (dedup / similarity / text-analysis / sampling / temporal /
              streaming), plus the PDF/layout parse path.
oracle_sql()— DuckDB equivalents; the extraction kernel's oracle is the
              frozen golden span corpus rendered as a VALUES table.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from paperoni_spark.contract import (  # noqa: E402
    build_oracles,
    build_queries,
    fixture_documents_df,
    synth_documents_df,
)
from paperoni_spark.pipeline.job import extract_pipeline  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the extraction pipeline (default scan mode) over the
    fixture corpus + a deterministic synthetic heavy-tail corpus (the
    spans-shaped documents table from BASELINE.json input_hint,
    synthesized per task instructions)."""
    docs = fixture_documents_df(spark).union(synth_documents_df(spark, 100))
    return extract_pipeline(docs)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return build_queries()


def oracle_sql() -> dict[str, str]:
    return build_oracles()
