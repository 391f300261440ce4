"""PDF / layout parsing path (north rule: "HTML boilerplate strip,
PDF/layout parse, DOM heuristics").

PDF documents arrive as opaque ``binary`` payloads; the operator extracts
per-page text spans plus layout blocks through the same Arrow-batched
``mapInPandas`` shape as HTML extraction, so both formats share the
downstream span contract ``(kind, text, media_ref, order)``.

The actual PDF decoder is **import-gated**: if ``pypdf`` (or ``fitz``) is
installed it is used; this container has neither, so a clearly-marked
deterministic stub stands in (see ``_decode_pdf``) — the Spark-side
plumbing (schema, batching, partitioning, span emission, error channel) is
real and tested, per the task brief's stubbing rule.
"""

from __future__ import annotations

import hashlib
from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

PDF_SPAN_TYPE = StructType(
    [
        StructField("kind", StringType()),  # 'text' | 'image'
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("order", IntegerType()),
        StructField("page", IntegerType()),
    ]
)

PDF_RESULT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("extracted", ArrayType(PDF_SPAN_TYPE)),
        StructField("n_pages", IntegerType()),
        StructField("status", StringType()),
        StructField("spans_emitted", LongType()),
    ]
)


def _real_decoder():
    """Return a (name, fn) pair for an installed PDF library, else None."""
    try:  # pragma: no cover - not installed in this container
        from pypdf import PdfReader  # noqa: F401

        def decode(payload: bytes) -> list[dict[str, Any]]:
            import io

            reader = PdfReader(io.BytesIO(payload))
            pages = []
            for i, page in enumerate(reader.pages):
                pages.append({"page": i, "text": page.extract_text() or "", "images": []})
            return pages

        return "pypdf", decode
    except ImportError:
        return None


_REAL = _real_decoder()


def _decode_pdf(payload: bytes) -> list[dict[str, Any]]:
    """STUB DECODER (no PDF library in this container).

    Deterministic fake: derives page count and page text from the payload
    digest, preserving the real decoder's output shape
    ``[{page, text, images}]`` so everything downstream is exercised.
    A real deployment hits the ``_REAL`` branch (pypdf/PyMuPDF) instead.
    """
    if _REAL is not None:  # pragma: no cover
        return _REAL[1](payload)
    digest = hashlib.md5(payload).digest()
    n_pages = 1 + digest[0] % 4
    pages = []
    for p in range(n_pages):
        page_digest = hashlib.md5(payload + bytes([p])).hexdigest()
        pages.append(
            {
                "page": p,
                "text": f"[stub-pdf-page {p} {page_digest[:12]}]",
                "images": (
                    [f"pdf-img://{page_digest[:8]}/{p}"] if digest[1 + p % 8] % 3 == 0 else []
                ),
            }
        )
    return pages


def _pdf_extract_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for batch in batches:
        out: dict[str, list] = {
            "doc_id": [],
            "extracted": [],
            "n_pages": [],
            "status": [],
            "spans_emitted": [],
        }
        for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
            try:
                pages = _decode_pdf(bytes(payload) if payload is not None else b"")
                spans = []
                order = 0
                for page in pages:
                    spans.append(
                        {
                            "kind": "text",
                            "text": page["text"],
                            "media_ref": None,
                            "order": order,
                            "page": page["page"],
                        }
                    )
                    order += 1
                    for ref in page["images"]:
                        spans.append(
                            {
                                "kind": "image",
                                "text": None,
                                "media_ref": ref,
                                "order": order,
                                "page": page["page"],
                            }
                        )
                        order += 1
                out["doc_id"].append(str(doc_id))
                out["extracted"].append(spans)
                out["n_pages"].append(len(pages))
                out["status"].append("ok")
                out["spans_emitted"].append(len(spans))
            except Exception as exc:
                out["doc_id"].append(str(doc_id))
                out["extracted"].append([])
                out["n_pages"].append(0)
                out["status"].append(f"error:PdfError:{type(exc).__name__}")
                out["spans_emitted"].append(0)
        yield pd.DataFrame(out)


def extract_pdf(pdf_docs: DataFrame) -> DataFrame:
    """Arrow-batched PDF → span extraction (same stage shape as HTML)."""
    return pdf_docs.mapInPandas(_pdf_extract_batch, schema=PDF_RESULT_SCHEMA)


def pdf_table_from_documents(documents: DataFrame) -> DataFrame:
    """Synthesize a PDF-payload table from the documents corpus for tests."""
    from pyspark.sql import functions as F

    return documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.encode(F.concat(F.lit("%PDF-1.4 "), "text"), "UTF-8").alias("payload"),
    )
