"""Golden regression gate: the kernel's extracted span sequences for the
fixture corpus are frozen in tests/golden/fixture_spans.json (generated once
by the validated kernel per FIXTURES.md §3).  Byte-equality per row on
(kind, text, media_ref, order) + metadata + img_urls + status."""

from __future__ import annotations

import json
import os

from paperoni_spark.spans import extract_document, fixture_corpus

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "golden", "fixture_spans.json")


def test_golden_span_sequences():
    with open(GOLDEN_PATH) as f:
        golden = json.load(f)
    corpus = fixture_corpus()
    assert set(golden) == {d["doc_id"] for d in corpus}
    for doc in corpus:
        expected = golden[doc["doc_id"]]
        got = extract_document(doc["doc_id"], doc["spans"])
        assert got["status"] == expected["status"], doc["doc_id"]
        got_spans = [
            {"kind": s["kind"], "text": s["text"], "media_ref": s["media_ref"], "order": s["order"]}
            for s in got["extracted"]
        ]
        assert got_spans == expected["extracted"], doc["doc_id"]
        assert got["metadata"] == expected["metadata"], doc["doc_id"]
        assert got["img_urls"] == expected["img_urls"], doc["doc_id"]


def test_golden_synthetic_corpus():
    """Synthetic-corpus extraction is frozen (digest per doc): the
    synthetic documents feed the extract_synthetic_stats / corpus_funnel
    goldens and perfbench's cached inputs, so their extraction must stay
    identical; a kernel change that alters these is caught here
    deliberately."""
    import hashlib

    from paperoni_spark.spans import synth_document

    with open(os.path.join(os.path.dirname(__file__), "golden", "synthetic_spans.json")) as f:
        golden = json.load(f)
    for doc_id, expected in golden.items():
        idx = int(doc_id.split("-")[1])
        d = synth_document(idx)
        r = extract_document(d["doc_id"], d["spans"])
        assert r["status"] == expected["status"], doc_id
        assert r["spans_emitted"] == expected["spans_emitted"], doc_id
        assert r["nodes_scored"] == expected["nodes_scored"], doc_id
        digest = hashlib.md5(
            json.dumps(
                [[s["kind"], s["text"], s["media_ref"], s["order"]] for s in r["extracted"]],
                ensure_ascii=False,
            ).encode()
        ).hexdigest()
        assert digest == expected["extracted_digest"], doc_id
