"""In-process spans around the Python layers: ``spans`` (codec), ``dom``
(parser), ``kernel`` (readability stages) and ``operators.extract`` (the
mapInPandas iterator).

The wrappers replace module attributes and ``Readability`` methods for the
duration of one pass and restore them afterwards; the program's own code
runs unchanged underneath, so its outputs are compared with an untraced
pass."""

from __future__ import annotations

import time
from contextlib import contextmanager

import pyarrow.parquet as pq

from .common import Tracer

_READABILITY_SPANS = {
    "unwrap_no_script_tags": "kernel.prep",
    "remove_scripts": "kernel.prep",
    "prep_document": "kernel.prep",
    "get_article_metadata": "kernel.metadata",
    "grab_article": "kernel.grab",
    "post_process_content": "kernel.post",
}


@contextmanager
def instrumented(tracer: Tracer):
    from paperoni_spark.kernel import readability
    from paperoni_spark.operators import extract
    from paperoni_spark.spans import codec

    counts = {"parse_bytes": 0, "grab_calls": 0, "grab_attempts": 0, "attempts_by_doc": {}}
    restore = []

    def wrap(owner, attr, name, after=None, unit_arg=False):
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            try:
                with tracer.span(name, args[0] if unit_arg else None):
                    return orig(*args, **kwargs)
            finally:
                if after is not None:
                    after(args)

        setattr(owner, attr, wrapper)
        restore.append((owner, attr, orig))

    def count_parse(args):
        counts["parse_bytes"] += len(args[0].encode())

    def count_grab(args):
        counts["grab_calls"] += 1
        counts["grab_attempts"] += args[0].grab_attempts
        by_doc = counts["attempts_by_doc"]
        by_doc[tracer.unit()] = by_doc.get(tracer.unit(), 0) + args[0].grab_attempts

    wrap(codec, "spans_to_html", "spans.reassemble")
    wrap(codec, "emit_spans", "spans.emit")
    wrap(readability, "parse_html", "dom.parse", count_parse)
    for meth, name in _READABILITY_SPANS.items():
        wrap(readability.Readability, meth, name, count_grab if meth == "grab_article" else None)
    wrap(extract, "extract_document", "kernel.document", unit_arg=True)  # unit = doc_id
    try:
        yield counts
    finally:
        for owner, attr, orig in reversed(restore):
            setattr(owner, attr, orig)


def load_batches(paths: list[str], keep: set[str] | None, rows: int = 256) -> list:
    """pandas batches of (doc_id, spans) as the UDF receives them."""
    batches = []
    for path in paths:
        for rb in pq.ParquetFile(path).iter_batches(batch_size=rows):
            df = rb.to_pandas()
            if keep is not None:
                df = df[df["doc_id"].isin(keep)].reset_index(drop=True)
            if len(df):
                batches.append(df)
    return batches


def _run(batches: list) -> tuple[list, float, float]:
    from paperoni_spark.operators.extract import make_extract_batch

    rows = []
    wall0, cpu0 = time.perf_counter(), time.process_time()
    for out in make_extract_batch()(iter(batches)):
        rows.extend(out[["doc_id", "status", "nodes_scored", "spans_emitted"]].itertuples(index=False))
    return rows, time.perf_counter() - wall0, time.process_time() - cpu0


def measure(batches: list) -> tuple[dict, Tracer, bool]:
    """One untraced and one traced single-thread pass of the extraction
    iterator over ``batches``.  Returns per-layer metrics, the spans, and
    whether both passes produced the same rows."""
    _run(batches[:1])  # imports, regex compiles and allocator warm-up
    plain, plain_wall, plain_cpu = _run(batches)
    tracer = Tracer()
    with instrumented(tracer) as counts:
        with tracer.span("extract.iterator"):
            traced, traced_wall, _ = _run(batches)
    self_s = tracer.self_times()
    n = len(plain)
    parse_s = self_s.get("dom.parse", 0.0)
    # share of whole-document kernel time spent on documents that needed
    # more than one grab attempt
    doc_s = {s["unit"]: s["end"] - s["start"] for s in tracer.spans if s["name"] == "kernel.document"}
    retry_s = sum(t for d, t in doc_s.items() if counts["attempts_by_doc"].get(d, 0) > 1)
    metrics = {
        "spans.reassemble_s": (self_s.get("spans.reassemble", 0.0), "s"),
        "spans.emit_s": (self_s.get("spans.emit", 0.0), "s"),
        "dom.parse_s": (parse_s, "s"),
        "dom.parse_mb_per_s": (counts["parse_bytes"] / 1e6 / parse_s if parse_s else 0.0, "MB/s"),
        "kernel.prep_s": (self_s.get("kernel.prep", 0.0), "s"),
        "kernel.metadata_s": (self_s.get("kernel.metadata", 0.0), "s"),
        "kernel.grab_s": (self_s.get("kernel.grab", 0.0), "s"),
        "kernel.post_s": (self_s.get("kernel.post", 0.0), "s"),
        "kernel.document_self_s": (self_s.get("kernel.document", 0.0), "s"),
        "kernel.docs_per_cpu_s": (n / plain_cpu if plain_cpu else 0.0, "docs/s"),
        "kernel.nodes_scored": (sum(r.nodes_scored for r in plain), "count"),
        "kernel.grab_attempts_per_doc": (
            counts["grab_attempts"] / counts["grab_calls"] if counts["grab_calls"] else 0.0,
            "ratio",
        ),
        "kernel.retry_share": (retry_s / sum(doc_s.values()) if doc_s else 0.0, "ratio"),
        "kernel.error_docs": (sum(r.status != "ok" for r in plain), "count"),
        "extract.udf_overhead_s": (self_s.get("extract.iterator", 0.0), "s"),
        "kernel.sample_docs": (n, "count"),
        "trace.wrapper_overhead_pct": (100 * (traced_wall - plain_wall) / plain_wall, "%"),
    }
    return metrics, tracer, [tuple(r) for r in plain] == [tuple(r) for r in traced]
