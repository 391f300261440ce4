"""The Spark extraction operator: ``mapInPandas`` over the ``documents`` table.

This is the engine's core stage — the whole Readability kernel
(/root/reference/src/moz_readability/mod.rs, re-expressed in
:mod:`paperoni_spark.kernel`) runs *inside* an Arrow-vectorized iterator UDF:

* Catalyst sees a single opaque ``MapInPandas`` over ``(doc_id, spans)`` and
  handles scan/prune/shuffle around it; no per-row Python anywhere else
  (``input_hint``: "no per-row Python").
* Arrow record batches are re-chunked inside the UDF by **cumulative span
  bytes** (``_MAX_BATCH_BYTES``) so a run of mega-documents cannot blow up
  worker memory even if the upstream batch row-count is large — the in-UDF
  half of the skew story (the other half is the byte-ranged scan splits
  ``pipeline.job`` runs the UDF on).
* Each output row carries the executor partition id plus kernel metrics
  (nodes_scored, candidates, spans_emitted), and the partition's last row
  carries its totals in the ``lineage`` column, so the sink builds the
  per-partition lineage/metrics checkpoint required by the north rule
  from the write pass itself (``pipeline.job.write_output``).
* Importing this module on a worker installs ``install_zip_guard``, which
  stops the per-task zip directory re-reads of CPython < 3.13.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport
from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..spans.codec import extract_document

EXTRACTED_SPAN_TYPE = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("order", IntegerType()),
    ]
)

METADATA_TYPE = StructType(
    [
        StructField("title", StringType()),
        StructField("byline", StringType()),
        StructField("excerpt", StringType()),
        StructField("site_name", StringType()),
    ]
)

LINEAGE_COUNTS = (
    "doc_count",
    "nodes_scored",
    "candidates",
    "spans_emitted",
    "ok_count",
    "err_count",
)

# one partition's totals: set on its last output row, null on the others
LINEAGE_TYPE = StructType(
    [StructField("partition_id", IntegerType())]
    + [StructField(name, LongType()) for name in LINEAGE_COUNTS]
)

EXTRACT_RESULT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("extracted", ArrayType(EXTRACTED_SPAN_TYPE)),
        StructField("metadata", METADATA_TYPE),
        StructField("img_urls", ArrayType(StringType())),
        StructField("dom_byline", StringType()),
        StructField("article_dir", StringType()),
        StructField("status", StringType()),
        StructField("nodes_scored", LongType()),
        StructField("candidates", LongType()),
        StructField("spans_emitted", LongType()),
        StructField("partition_id", IntegerType()),
        StructField("lineage", LINEAGE_TYPE),
    ]
)

# flush accumulated results once this much input HTML has been processed;
# bounds both input reassembly and output span memory per yielded chunk.
# Sized so that max-concurrency × a-few-in-flight Arrow messages fits even
# a default 1g-driver local[32] spark-submit: 16 MB chunks measurably blow
# netty's direct-memory pool there (500k-doc repro); 4 MB keeps the whole
# transfer under ~400 MB with no measurable throughput cost.
_MAX_BATCH_BYTES = 4 * 1024 * 1024


def _span_bytes(spans: list[dict[str, Any]]) -> int:
    total = 0
    for s in spans:
        t = s.get("text")
        if t:
            total += len(t)
        m = s.get("media_ref")
        if m:
            total += len(m)
    return total


def _zip_stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install_zip_guard() -> None:
    """Skip a zipimporter's directory re-read while its archive is unchanged.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task, and on CPython < 3.13 each ``zipimporter`` then re-reads its
    whole archive directory at once: pyspark.zip, py4j, the Spark jars
    and every ``--py-files`` package, ~0.2 CPU-s per task.  The guard
    keeps the stdlib re-read for an archive whose ``(st_mtime_ns,
    st_size)`` changed since that importer last read it, and skips it
    otherwise.  An importer that exists at install counts as read then:
    in a worker, every importer re-read its archive at the start of the
    task that imports this module.  CPython 3.13 makes the re-read lazy,
    so there the guard installs nothing.  Installing twice is a no-op.
    """
    if sys.version_info >= (3, 13):
        return
    stdlib = zipimport.zipimporter.invalidate_caches
    if hasattr(stdlib, "__wrapped__"):
        return

    @functools.wraps(stdlib)
    def invalidate_caches(self) -> None:
        stamp = _zip_stamp(self.archive)
        if stamp is None or getattr(self, "_read_stamp", None) != stamp:
            stdlib(self)
            self._read_stamp = stamp

    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder._read_stamp = _zip_stamp(finder.archive)
    zipimport.zipimporter.invalidate_caches = invalidate_caches


install_zip_guard()


def make_extract_batch(base_url: str = "http://example.com/"):
    """Build the mapInPandas iterator function (base_url is captured in the
    closure and shipped to executors once)."""

    def extract_batch(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        partition_id = ctx.partitionId() if ctx is not None else -1

        rows: list[dict[str, Any]] = []
        acc_bytes = 0
        totals: dict[str, int] = dict.fromkeys(LINEAGE_COUNTS, 0)

        def flush(last: bool = False) -> pd.DataFrame:
            nonlocal rows, acc_bytes
            lineage: list[dict[str, int] | None] = [None] * len(rows)
            if last:
                lineage[-1] = {"partition_id": partition_id, **totals}
            out = pd.DataFrame(
                {
                    "doc_id": [r["doc_id"] for r in rows],
                    "extracted": [r["extracted"] for r in rows],
                    "metadata": [r["metadata"] for r in rows],
                    "img_urls": [r["img_urls"] for r in rows],
                    "dom_byline": [r["dom_byline"] for r in rows],
                    "article_dir": [r["article_dir"] for r in rows],
                    "status": [r["status"] for r in rows],
                    "nodes_scored": [r["nodes_scored"] for r in rows],
                    "candidates": [r["candidates"] for r in rows],
                    "spans_emitted": [r["spans_emitted"] for r in rows],
                    "partition_id": [partition_id] * len(rows),
                    "lineage": lineage,
                }
            )
            rows = []
            acc_bytes = 0
            return out

        for batch in batches:
            # optional per-document URL column (the reference resolves URIs
            # against each article's own URL, extractor.rs:19-26); falls
            # back to the job-level base_url
            urls = batch["url"] if "url" in batch.columns else None
            for idx, (doc_id, spans) in enumerate(
                zip(batch["doc_id"], batch["spans"])
            ):
                # a full chunk goes out when the NEXT document arrives, so
                # the partition's last chunk is never empty and can carry
                # the totals
                if acc_bytes >= _MAX_BATCH_BYTES:
                    yield flush()
                span_list = list(spans) if spans is not None else []
                doc_url = base_url
                if urls is not None:
                    u = urls.iloc[idx]
                    if u is not None and isinstance(u, str) and u != "":
                        doc_url = u
                result = extract_document(str(doc_id), span_list, doc_url)
                rows.append(result)
                acc_bytes += _span_bytes(span_list)
                totals["doc_count"] += 1
                totals["nodes_scored"] += result["nodes_scored"]
                totals["candidates"] += result["candidates"]
                totals["spans_emitted"] += result["spans_emitted"]
                totals["ok_count" if result["status"] == "ok" else "err_count"] += 1
        if rows:
            yield flush(last=True)

    return extract_batch


def run_extract(
    documents: DataFrame,
    base_url: str = "http://example.com/",
) -> DataFrame:
    """Apply the extraction kernel over a ``documents`` DataFrame."""
    return documents.mapInPandas(
        make_extract_batch(base_url), schema=EXTRACT_RESULT_SCHEMA
    )


def interleave_stats(extracted: DataFrame) -> DataFrame:
    """Per-document interleaving profile of an extracted span sequence —
    how text and media alternate (span counts by kind, number of
    homogeneous runs, media fraction).  The profile a mix designer uses
    to stratify an interleaved corpus by media density / alternation
    before sampling.

    Fully map-side over the span ARRAY (higher-order functions on the
    row, no explode, no shuffle — at 100 TB this runs at scan speed and
    never moves a span).  Documents with no extracted spans produce no
    row, matching the exploded span-level view."""
    kinds = F.expr("transform(extracted, s -> s.kind)")
    base = extracted.select("doc_id", kinds.alias("kinds")).where(
        F.size("kinds") > 0
    )
    n_spans = F.size("kinds")
    n_media = F.size(F.expr("filter(kinds, k -> k != 'text')"))
    # runs = 1 + (# adjacent kind changes); the CASE guards size-1 arrays
    # (sequence(2, 1) would otherwise produce a DESCENDING range)
    n_runs = F.expr(
        "CASE WHEN size(kinds) < 2 THEN 1 "
        "ELSE 1 + size(filter(sequence(2, size(kinds)), "
        "i -> element_at(kinds, i) != element_at(kinds, i - 1))) END"
    )
    return base.select(
        "doc_id",
        n_spans.cast("long").alias("n_spans"),
        (n_spans - n_media).cast("long").alias("n_text_spans"),
        n_media.cast("long").alias("n_media_spans"),
        n_runs.cast("long").alias("n_runs"),
        F.round(n_media / n_spans, 6).alias("media_frac"),
    )
