"""End-to-end Spark tests: the mapInPandas extraction stage must produce
span sequences identical to the pure-Python kernel run per document
(SURVEY.md §7 M2), plus lineage/metrics and resume semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from paperoni_spark.operators.extract import run_extract
from paperoni_spark.pipeline import (
    extract_pipeline,
    resume_against,
    write_output,
)
from paperoni_spark.spans import extract_document, fixture_corpus, synth_corpus

DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField(
            "spans",
            ArrayType(
                StructType(
                    [
                        StructField("kind", StringType()),
                        StructField("text", StringType()),
                        StructField("media_ref", StringType()),
                        StructField("offset", IntegerType()),
                    ]
                )
            ),
        ),
    ]
)


def make_documents_df(spark, rows):
    return spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)


@pytest.fixture(scope="module")
def fixture_df(spark):
    return make_documents_df(spark, fixture_corpus())


def test_spark_matches_kernel_span_for_span(spark, fixture_df):
    """The per-row invariant: Spark-path output == kernel-path output on
    (kind, text, media_ref, order) for every fixture document."""
    result = {
        r["doc_id"]: r
        for r in run_extract(fixture_df).collect()
    }
    for doc in fixture_corpus():
        expected = extract_document(doc["doc_id"], doc["spans"])
        got = result[doc["doc_id"]]
        assert got["status"] == expected["status"], doc["doc_id"]
        got_spans = [
            (s["kind"], s["text"], s["media_ref"], s["order"])
            for s in got["extracted"]
        ]
        exp_spans = [
            (s["kind"], s["text"], s["media_ref"], s["order"])
            for s in expected["extracted"]
        ]
        assert got_spans == exp_spans, doc["doc_id"]
        assert got["metadata"]["title"] == expected["metadata"]["title"]
        assert list(got["img_urls"]) == expected["img_urls"]


def test_extract_pipeline_end_to_end(spark, fixture_df):
    extracted = extract_pipeline(fixture_df)
    rows = extracted.collect()
    assert len(rows) == len(fixture_corpus())
    # tiny docs legitimately fail extraction (reference behavior: retries
    # re-walk the consumed DOM, mod.rs:1615-1616 no-page-cache)
    errored = {r["doc_id"] for r in rows if r["status"] != "ok"}
    assert errored == {"fx-simple", "fx-brs", "fx-grab-empty"}
    # mega doc shares the scan partitions and still extracts
    mega = next(r for r in rows if r["doc_id"] == "fx-mega")
    assert mega["status"] == "ok"
    assert mega["spans_emitted"] > 100


def _read_back_lineage(spark, out, run_id):
    """The lineage definition before it came from the write pass: a
    groupBy over the written output, per partition_id."""
    written = spark.read.parquet(out).where(F.col("run_id") == run_id)
    rows = written.groupBy("partition_id").agg(
        F.count("*").alias("doc_count"),
        F.sum("nodes_scored").alias("nodes_scored"),
        F.sum("candidates").alias("candidates"),
        F.sum("spans_emitted").alias("spans_emitted"),
        F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("ok_count"),
        F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)).alias("err_count"),
    )
    return {r["partition_id"]: r.asDict() for r in rows.collect()}


def test_lineage_metrics(spark, fixture_df, tmp_path):
    """The lineage rows ``write_output`` takes from its write pass equal a
    read-back groupBy of what it wrote, partition by partition: on the
    scan partitions, and with ``done=`` on the shuffle partitions of the
    resume anti-join."""
    out, met = str(tmp_path / "out"), str(tmp_path / "met")
    cols = ["partition_id", "doc_count", "nodes_scored", "candidates",
            "spans_emitted", "ok_count", "err_count"]

    def lineage(run_id):
        rows = spark.read.parquet(met).where(F.col("run_id") == run_id).collect()
        assert all(r["started_at"] <= r["finished_at"] for r in rows)
        return {r["partition_id"]: {c: r[c] for c in cols} for r in rows}

    write_output(extract_pipeline(fixture_df), out, metrics_path=met, run_id="full")
    full = lineage("full")
    assert full == _read_back_lineage(spark, out, "full")
    assert sum(m["doc_count"] for m in full.values()) == len(fixture_corpus())
    assert sum(m["spans_emitted"] for m in full.values()) > 0
    assert sum(m["err_count"] for m in full.values()) == 3

    done = spark.read.parquet(out).where(F.col("doc_id") < "fx-m")
    key = "spark.sql.autoBroadcastJoinThreshold"
    previous = spark.conf.get(key)
    spark.conf.set(key, "-1")  # a shuffle anti-join, not a broadcast one
    try:
        resumed = extract_pipeline(fixture_df, done=done)
        assert "SortMergeJoin" in resumed._jdf.queryExecution().executedPlan().toString()
        write_output(resumed, out, metrics_path=met, run_id="resumed")
    finally:
        spark.conf.set(key, previous)
    again = lineage("resumed")
    assert again == _read_back_lineage(spark, out, "resumed")
    assert 0 < sum(m["doc_count"] for m in again.values()) < len(fixture_corpus())
    assert sum(m["err_count"] for m in again.values()) == 3

    assert "lineage" not in spark.read.parquet(out).columns


def test_udf_reports_totals_on_the_last_row_only(monkeypatch):
    """With every document flushed as its own chunk, the iterator still
    puts the partition's totals on its last row, and only there."""
    import pandas as pd

    from paperoni_spark.operators import extract

    monkeypatch.setattr(extract, "_MAX_BATCH_BYTES", 1)
    docs = pd.DataFrame(fixture_corpus()[:6])
    chunks = list(extract.make_extract_batch()(iter([docs[:4], docs[4:]])))
    assert [len(c) for c in chunks] == [1] * 6
    out = pd.concat(chunks, ignore_index=True)
    assert (out["status"] != "ok").sum() == 2  # fx-simple, fx-brs
    assert out["lineage"][:-1].isna().all()
    assert out["lineage"].iloc[-1] == {
        "partition_id": -1,
        "doc_count": 6,
        "nodes_scored": out["nodes_scored"].sum(),
        "candidates": out["candidates"].sum(),
        "spans_emitted": out["spans_emitted"].sum(),
        "ok_count": (out["status"] == "ok").sum(),
        "err_count": (out["status"] != "ok").sum(),
    }


def test_write_output_compiles_no_class_per_run(spark, fixture_df, tmp_path):
    """A second ``write_output`` of the same input in one session compiles
    no generated class: nothing run-specific (run id, start and finish
    times) is inlined into generated code."""
    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    out, met = str(tmp_path / "out"), str(tmp_path / "met")
    # no limit(): a limit compiles fresh classes on every action
    write_output(extract_pipeline(fixture_df), out, metrics_path=met, run_id="c1")
    compiled = codegen.METRIC_COMPILATION_TIME().getCount()
    write_output(extract_pipeline(fixture_df), out, metrics_path=met, run_id="c2")
    assert codegen.METRIC_COMPILATION_TIME().getCount() == compiled


def test_lineage_started_at_is_per_call(spark, fixture_df, tmp_path):
    """Each write_output call stamps its own lineage ``started_at``: in a
    long-lived session a later call must not inherit an earlier start
    (e.g. the time the module was imported)."""
    import time

    docs = fixture_df.limit(2)
    out, met = str(tmp_path / "out"), str(tmp_path / "met")
    write_output(extract_pipeline(docs), out, metrics_path=met, run_id="r1")
    before = time.time()
    write_output(extract_pipeline(docs), out, metrics_path=met, run_id="r2")
    rows = spark.read.parquet(met).where(F.col("run_id") == "r2").collect()
    assert rows
    assert all(before <= r["started_at"] <= r["finished_at"] for r in rows)


def test_resume_anti_join(spark, fixture_df):
    extracted = extract_pipeline(fixture_df)
    done = extracted.select("doc_id", "status")
    remaining = resume_against(fixture_df, done)
    # everything ok is done; only the error docs remain for retry
    ids = sorted(r["doc_id"] for r in remaining.collect())
    assert ids == ["fx-brs", "fx-grab-empty", "fx-simple"]


def test_extract_job_resume_reruns_only_unfinished_docs(tmp_path_factory):
    """``extract_job --resume-from`` over the fixture corpus: run 1's glob
    matches nothing yet, so it extracts every doc; run 2's same glob now
    matches run 1's output, so only the non-``ok`` docs re-run and no
    ``ok`` doc is written twice.  Subprocess: extract_job.main owns (and
    stops) its session."""
    import subprocess
    import sys

    tmp = str(tmp_path_factory.mktemp("xj_resume"))
    script = f"""
import os, sys
sys.path.insert(0, {repr(str(__import__('os').path.dirname(__import__('os').path.dirname(__import__('os').path.abspath(__file__)))))})
from collections import Counter
from pyspark.sql import SparkSession
from paperoni_spark.contract import DOCUMENTS_SPANS_SCHEMA
from paperoni_spark.spans import fixture_corpus
from jobs.extract_job import main as extract_main

tmp = {repr(tmp)}
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
docs = os.path.join(tmp, "docs")
spark.createDataFrame(fixture_corpus(), schema=DOCUMENTS_SPANS_SCHEMA).write.parquet(docs)
spark.stop()

out, met = os.path.join(tmp, "out"), os.path.join(tmp, "met")
base = ["--input", docs, "--output", out, "--metrics", met,
        "--resume-from", os.path.join(out, "run_id=*")]
extract_main(base + ["--run-id", "r1"])
extract_main(base + ["--run-id", "r2"])

spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())
rows = spark.read.parquet(out).select("doc_id", "status", "run_id").collect()
ok = Counter(r["doc_id"] for r in rows if r["status"] == "ok")
assert ok and set(ok.values()) == {{1}}, ok
rerun = sorted(r["doc_id"] for r in rows if r["run_id"] == "r2")
assert rerun == ["fx-brs", "fx-grab-empty", "fx-simple"], rerun
lineage = spark.read.parquet(met).where("run_id = 'r2'").collect()
assert sum(r["doc_count"] for r in lineage) == 3, lineage
spark.stop()
print("XJ_RESUME_OK")
"""
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert "XJ_RESUME_OK" in proc.stdout, proc.stdout[-2000:] + proc.stderr[-4000:]


def test_synth_corpus_on_spark(spark):
    docs = make_documents_df(spark, synth_corpus(60))
    result = run_extract(docs)
    agg = result.groupBy("status").count().collect()
    counts = {r["status"]: r["count"] for r in agg}
    assert counts.get("ok", 0) == 60


def test_per_document_url_column(spark):
    """An optional `url` column overrides the job base_url per document
    (reference semantics: URIs resolve against the article's own URL)."""
    from pyspark.sql.types import StringType, StructField, StructType

    from paperoni_spark.operators.extract import run_extract
    from paperoni_spark.spans import html_to_spans
    from paperoni_spark.spans.fixtures import FX_REL_URI

    schema = StructType(
        DOCUMENTS_SCHEMA.fields + [StructField("url", StringType())]
    )
    rows = [
        {"doc_id": "with-url", "spans": html_to_spans(FX_REL_URI), "url": "https://site-a.test/blog/"},
        {"doc_id": "no-url", "spans": html_to_spans(FX_REL_URI), "url": None},
    ]
    result = {r["doc_id"]: r for r in run_extract(spark.createDataFrame(rows, schema)).collect()}
    a_imgs = result["with-url"]["img_urls"]
    b_imgs = result["no-url"]["img_urls"]
    assert any(u.startswith("https://site-a.test/") for u in a_imgs)
    assert any(u.startswith("http://example.com/") for u in b_imgs)


def test_bucketed_resume_antijoin_is_shuffle_free(spark, tmp_path_factory):
    """Scale path for resume: documents and extracted bucketed on doc_id
    co-locate the anti-join — the physical plan has ZERO Exchange nodes
    (the Iceberg equivalent is bucket(N, doc_id) partition transforms)."""
    import pyspark.sql.functions as F

    wh = str(tmp_path_factory.mktemp("warehouse"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = make_documents_df(spark, synth_corpus(150))
        spark.sql(f"CREATE DATABASE IF NOT EXISTS bkt LOCATION '{wh}'")
        docs.write.bucketBy(4, "doc_id").sortBy("doc_id").mode("overwrite").saveAsTable("bkt.documents_b")
        docs.select("doc_id").withColumn("status", F.lit("ok")).limit(100).write.bucketBy(
            4, "doc_id"
        ).sortBy("doc_id").mode("overwrite").saveAsTable("bkt.extracted_b")
        remaining = spark.table("bkt.documents_b").join(
            spark.table("bkt.extracted_b")
            .where(F.col("status") == "ok")
            .select("doc_id")
            .distinct(),
            "doc_id",
            "left_anti",
        )
        plan = remaining._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert remaining.count() == 50
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_mega_document_through_pipeline(spark):
    """A single ~40k-span document flows through the Arrow-batched UDF
    without memory trouble and emits a consistent span sequence."""
    from paperoni_spark.spans.codec import extract_document, html_to_spans

    para = "<p>" + "Lorem ipsum dolor sit amet consectetur adipiscing elit. " * 3 + "</p>"
    body = "".join(
        para + f'<img src="https://example.com/m/{i}.png">' for i in range(20000)
    )
    html = f"<!DOCTYPE html><html><head><title>Mega</title></head><body><article>{body}</article></body></html>"
    spans = html_to_spans(html)
    assert len(spans) >= 40000
    direct = extract_document("mega-1", spans)
    assert direct["status"] == "ok"

    df = make_documents_df(spark, [{"doc_id": "mega-1", "spans": spans}])
    row = run_extract(df).collect()[0]
    assert row["status"] == "ok"
    assert row["spans_emitted"] == direct["spans_emitted"]
    assert row["spans_emitted"] > 30000


def test_task_retry_resilience(tmp_path_factory):
    """A transient task failure inside the extraction stage is retried by
    Spark and produces exactly-once results (no dupes, no loss) — the
    cluster-failure half of the resumability story.  Runs in a subprocess:
    it needs its own SparkContext with task maxFailures=2, and getOrCreate
    would otherwise reuse (and its teardown would stop) the shared session."""
    import subprocess
    import sys

    marker_dir = str(tmp_path_factory.mktemp("retry_markers"))
    script = f"""
import os, sys
sys.path.insert(0, {repr(str(__import__('os').path.dirname(__import__('os').path.dirname(__import__('os').path.abspath(__file__)))))})
from pyspark.sql import SparkSession
from paperoni_spark.spans import synth_corpus
from paperoni_spark.contract import DOCUMENTS_SPANS_SCHEMA
from paperoni_spark.operators.extract import EXTRACT_RESULT_SCHEMA, make_extract_batch

marker_dir = {repr(marker_dir)}
spark = (SparkSession.builder.master("local[2,2]").appName("retry-test")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
docs = spark.createDataFrame(synth_corpus(30), schema=DOCUMENTS_SPANS_SCHEMA)
inner = make_extract_batch()

def flaky(batches):
    from pyspark import TaskContext
    ctx = TaskContext.get()
    marker = os.path.join(marker_dir, f"p{{ctx.partitionId()}}")
    if ctx.attemptNumber() == 0 and not os.path.exists(marker):
        open(marker, "w").close()
        raise RuntimeError("injected transient failure")
    yield from inner(batches)

rows = docs.repartition(2, "doc_id").mapInPandas(flaky, schema=EXTRACT_RESULT_SCHEMA).collect()
assert len(rows) == 30, len(rows)
assert len({{r["doc_id"] for r in rows}}) == 30
assert all(r["status"] == "ok" for r in rows)
assert len(os.listdir(marker_dir)) == 2
spark.stop()
print("RETRY_TEST_OK")
"""
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert "RETRY_TEST_OK" in proc.stdout, proc.stderr[-2000:]


def test_build_training_corpus_funnel(spark):
    """Full training-corpus funnel: exact duplicates collapse to the
    min-doc_id survivor and quality rejects are attributed per rule."""
    from paperoni_spark.pipeline.compose import build_training_corpus

    base = synth_corpus(4)
    dup = dict(base[0])
    dup["doc_id"] = "doc-zzzzduplicate"  # sorts after the original
    # extractable (>500 bytes) but under 50 tokens -> rejected: too_short
    words = " ".join(["wordwordwordword"] * 39)
    short_html = f"<html><body><article><p>{words}</p></article></body></html>"
    short = {
        "doc_id": "doc-shorty",
        "spans": [{"kind": "text", "text": short_html, "media_ref": None, "offset": 0}],
    }
    docs = make_documents_df(spark, base + [dup, short])

    corpus, funnel, _ = build_training_corpus(docs)
    rows = corpus.collect()
    ids = {r["doc_id"] for r in rows}
    assert "doc-zzzzduplicate" not in ids  # collapsed into base[0]
    assert base[0]["doc_id"] in ids
    assert "doc-shorty" not in ids  # quality-rejected
    stages = {r["stage"]: r["n_docs"] for r in funnel.collect()}
    assert stages["rejected:too_short"] == 1
    assert stages["kept"] == 5  # 4 originals + the duplicate (pre-dedup)
    # funnel reconciles with the written corpus: kept - duplicates == rows
    assert stages["rejected:duplicate"] == 1
    assert stages["kept"] - stages["rejected:duplicate"] == len(rows)
    # survivors are unique by fingerprint
    fps = [r["fingerprint"] for r in rows]
    assert len(fps) == len(set(fps))
    # each corpus column matches a Python twin of the in-process kernel
    # output: md5 of the lower-cased text, trimmed of spaces (Spark trim),
    # ASCII-whitespace runs collapsed; the metadata title; the image count
    import hashlib
    import re

    by_id = {d["doc_id"]: d for d in base + [dup, short]}
    for r in rows:
        got = extract_document(r["doc_id"], by_id[r["doc_id"]]["spans"])
        spans = got["extracted"]
        text = " ".join(s["text"] for s in spans if s["kind"] == "text")
        norm = re.sub(r"[ \t\n\x0b\f\r]+", " ", text.lower().strip(" "))
        assert r["fingerprint"] == hashlib.md5(norm.encode()).hexdigest()
        assert r["title"] == got["metadata"]["title"]
        assert r["n_images"] == sum(s["kind"] == "image" for s in spans)
    # the row set per configuration: a stage without docs has no row,
    # except a configured stage after exact dedup, which reports its 0
    assert stages == {"kept": 5, "rejected:too_short": 1, "rejected:duplicate": 1}
    _, near_funnel, _ = build_training_corpus(docs, near_dup=True, max_hamming=0)
    assert {r["stage"]: r["n_docs"] for r in near_funnel.collect()} == {
        "kept": 5,
        "rejected:too_short": 1,
        "rejected:duplicate": 1,
        "rejected:near_duplicate": 0,
    }


def test_build_training_corpus_substring_clean(spark):
    """The opt-in exact-substring REWRITE stage: a ≥n-token passage
    shared by two documents is removed from both surviving texts (each
    doc's unique body survives — junction shingles are unique), nothing
    is rejected, n_tokens tracks the cleaned text, and the funnel's
    cleaned:substring_dup row counts the affected docs."""
    from paperoni_spark.pipeline.compose import build_training_corpus

    passage = " ".join(f"shared{i:02d}" for i in range(24))

    def doc(tag, with_passage):
        body = "the start and middle of " + " ".join(
            f"{tag}{i:03d}" for i in range(70)
        )
        paras = f"<p>{body}</p>"
        if with_passage:
            paras += f"<p>{passage}</p>"
        html = (
            f"<html><head><title>T {tag}</title></head>"
            f"<body><article>{paras}</article></body></html>"
        )
        return {
            "doc_id": f"doc-{tag}",
            "spans": [
                {"kind": "text", "text": html, "media_ref": None, "offset": 0}
            ],
        }

    docs = make_documents_df(
        spark, [doc("aaa", True), doc("bbb", True), doc("ccc", False)]
    )
    corpus, funnel, _ = build_training_corpus(
        docs, substring_clean=True, substring_n=8
    )
    rows = {r["doc_id"]: r for r in corpus.collect()}
    assert set(rows) == {"doc-aaa", "doc-bbb", "doc-ccc"}
    assert "shared00" not in rows["doc-aaa"]["text"]
    assert "shared23" not in rows["doc-bbb"]["text"]
    assert "aaa000" in rows["doc-aaa"]["text"]  # unique body survives
    assert "ccc000" in rows["doc-ccc"]["text"]
    for r in rows.values():
        assert r["n_tokens"] == len(r["text"].split())
    stages = {r["stage"]: r["n_docs"] for r in funnel.collect()}
    assert stages["cleaned:substring_dup"] == 2
    assert stages["kept"] == 3  # cleaning rejects nothing
    # untouched docs are BYTE-identical to the flag-off build: the
    # single-space rejoin must never rewrite a doc with no removed spans
    plain, _, _ = build_training_corpus(docs)
    plain_rows = {r["doc_id"]: r for r in plain.collect()}
    assert rows["doc-ccc"]["text"] == plain_rows["doc-ccc"]["text"]
    assert rows["doc-ccc"]["n_tokens"] == plain_rows["doc-ccc"]["n_tokens"]


def test_build_training_corpus_near_dup_stage(spark):
    """The near-dup funnel stage (driver-gated via corpus_funnel): planted
    SimHash near-variants are rejected after surviving exact dedup, and the
    accounting reconciles exactly: kept − duplicate − near_duplicate ==
    written rows."""
    import paperoni_spark.contract as contract
    from paperoni_spark.pipeline.compose import build_training_corpus

    docs = contract.planted_near_dup_documents(spark, n_docs=30)
    corpus, funnel, _ = build_training_corpus(docs, near_dup=True, max_hamming=1)
    rows = corpus.collect()
    ids = {r["doc_id"] for r in rows}
    stages = {r["stage"]: r["n_docs"] for r in funnel.collect()}
    # every planted near-variant loses to its seed (min-doc_id survivor)
    for seed in range(contract.N_PLANTED_NEAR_DUPS):
        assert f"near-{seed:010d}" not in ids
        assert f"doc-{seed:010d}" in ids
    assert "dupe-0000000000" not in ids  # exact twin: earlier stage
    assert stages["rejected:duplicate"] >= 1
    assert stages["rejected:near_duplicate"] >= contract.N_PLANTED_NEAR_DUPS
    assert (
        stages["kept"]
        - stages["rejected:duplicate"]
        - stages["rejected:near_duplicate"]
        == len(rows)
    )


# input_hint-schema edge cases: null spans, empty arrays, null text,
# media-only, null kind
MALFORMED_SPAN_DOCS = [
    {"doc_id": d, "spans": s}
    for d, s in [
        ("d-null-spans", None),
        ("d-empty-spans", []),
        ("d-null-text", [{"kind": "text", "text": None, "media_ref": None, "offset": 0}]),
        ("d-media-only", [{"kind": "media", "text": None, "media_ref": "http://x/y.png", "offset": 0}]),
        ("d-null-kind", [{"kind": None, "text": "<p>hi</p>", "media_ref": None, "offset": 0}]),
    ]
]


def test_malformed_span_inputs_never_crash(spark):
    """Malformed span rows must flow through as error rows, never task
    failures — at 10^12 docs a poison row must not kill a partition."""
    df = make_documents_df(spark, MALFORMED_SPAN_DOCS)
    got = {r["doc_id"]: (r["status"], r["spans_emitted"]) for r in run_extract(df).collect()}
    assert len(got) == 5
    for doc_id, (status, emitted) in got.items():
        assert status == "error:ReadabilityError", (doc_id, status)
        assert emitted == 0


def test_malformed_span_inputs_through_corpus_funnel(spark):
    """The malformed rows beside two good docs on the corpus path: the
    build completes, none of them reaches the corpus, and the funnel —
    which starts at extracted documents — is the run without them."""
    from paperoni_spark.pipeline.compose import build_training_corpus

    good = synth_corpus(2)
    corpus, funnel, _ = build_training_corpus(
        make_documents_df(spark, good + MALFORMED_SPAN_DOCS)
    )
    _, clean_funnel, _ = build_training_corpus(make_documents_df(spark, good))
    ids = {r["doc_id"] for r in corpus.collect()}
    assert ids.isdisjoint(d["doc_id"] for d in MALFORMED_SPAN_DOCS)
    assert ids == {d["doc_id"] for d in good}
    assert sorted(funnel.collect()) == sorted(clean_funnel.collect())


def test_jsonl_input_surface(spark, fixture_df, tmp_path_factory):
    """The jsonl: input path (jobs/extract_job.py): a JSONL corpus read
    with the ENFORCED span schema extracts identically to the same rows
    read from parquet — the crawl-dump interchange format is a
    first-class source, not a lossy side door."""
    from paperoni_spark.contract import DOCUMENTS_SPANS_SCHEMA

    tmp = tmp_path_factory.mktemp("jsonl_src")
    jsonl_path = str(tmp / "corpus_jsonl")
    fixture_df.write.json(jsonl_path)
    docs = spark.read.schema(DOCUMENTS_SPANS_SCHEMA).json(jsonl_path)

    def key(rows):
        return {
            r["doc_id"]: (
                r["status"],
                [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["extracted"]],
            )
            for r in rows
        }

    got = key(extract_pipeline(docs).collect())
    want = key(extract_pipeline(fixture_df).collect())
    assert got == want and len(got) == len(fixture_corpus())


def test_incremental_corpus_waves(spark, tmp_path_factory):
    """The recurring-crawl incremental corpus build: wave 1 bootstraps
    the SimHash fingerprint index; wave 2 carries re-crawled content
    (same text, new doc_ids) plus genuinely new docs — the re-crawls are
    rejected vs the INDEX (never vs the wave itself), the new docs
    survive, and the index grows by exactly the survivors."""
    from paperoni_spark.operators.dedup import write_simhash_index
    from paperoni_spark.pipeline.compose import (
        build_training_corpus,
        dedup_wave_against_index,
    )

    tmp = tmp_path_factory.mktemp("incr_corpus")
    index = str(tmp / "sh_index")

    wave1_docs = make_documents_df(spark, synth_corpus(6))
    corpus1, _, sh1 = build_training_corpus(wave1_docs)
    n1 = corpus1.count()
    assert n1 > 0
    write_simhash_index(sh1, index, wave=1)

    # wave 2: 4 new docs + 3 re-crawls of wave-1 content under new ids
    recrawl = []
    for d in synth_corpus(3):
        d = dict(d)
        d["doc_id"] = "w2-" + d["doc_id"]
        recrawl.append(d)
    wave2_docs = make_documents_df(spark, synth_corpus(4, start=6) + recrawl)
    # hamming 0: exact re-crawl detection (the synthetic corpus is
    # near-dup-dense at the default Hamming 3 — a genuinely new doc can
    # legitimately land within 3 bits of the corpus)
    _, _, sh2 = build_training_corpus(wave2_docs)
    rejected, resubmitted = dedup_wave_against_index(spark, sh2, index, max_hamming=0)
    survivors, funnel, surv_sh = build_training_corpus(
        wave2_docs, dedup_index=index, max_hamming=0
    )
    assert resubmitted.count() == 0  # all wave-2 ids are new
    rej_ids = {r["doc_id"] for r in rejected.collect()}
    surv_ids = {r["doc_id"] for r in survivors.collect()}
    wave1_ids = {r["doc_id"] for r in corpus1.collect()}
    # every rejected id is a wave-2 re-crawl (hamming 0 vs the index)
    assert rej_ids and all(i.startswith("w2-") for i in rej_ids)
    # new content survives; nothing from wave 1 appears in wave-2 output
    assert surv_ids and surv_ids.isdisjoint(wave1_ids)
    assert all(not i.startswith("w2-") for i in surv_ids)
    # the funnel marks exactly the probe's rejects
    stages = {r["stage"]: r["n_docs"] for r in funnel.collect()}
    assert stages["rejected:near_duplicate_vs_corpus"] == len(rej_ids)
    assert stages["rejected:already_ingested"] == 0
    # index grows by exactly the survivors
    assert {r["doc_id"] for r in surv_sh.collect()} == surv_ids
    write_simhash_index(surv_sh, index, wave=2)
    n_index = spark.read.parquet(index).count()
    assert n_index == n1 + len(surv_ids)
    # retry idempotence: re-submitting the SAME wave yields zero
    # survivors — already-ingested ids split off, the rest rejected as
    # near-dups of their own earlier copies — and the index never grows
    r3, re3 = dedup_wave_against_index(spark, sh2, index, max_hamming=0)
    s3, funnel3, _ = build_training_corpus(
        wave2_docs, dedup_index=index, max_hamming=0
    )
    assert s3.count() == 0
    assert {r["doc_id"] for r in re3.collect()} == surv_ids
    assert {r["doc_id"] for r in r3.collect()} == rej_ids
    stages3 = {r["stage"]: r["n_docs"] for r in funnel3.collect()}
    assert stages3["rejected:already_ingested"] == len(surv_ids)
    assert stages3["rejected:near_duplicate_vs_corpus"] == len(rej_ids)


def test_corpus_job_substring_index(tmp_path_factory):
    """Cross-wave ExactSubstr in the production job: wave 2 shares a
    passage with wave 1 (but is NOT a near-dup — distinct filler), so
    with --substring-index the passage must be removed from wave 2's
    written text while wave 1 keeps its (first) copy; the funnel
    accounts it and a same-wave-id retry replays the index segment.
    Subprocess: corpus_job.main owns (and stops) its session."""
    import subprocess
    import sys

    tmp = str(tmp_path_factory.mktemp("cj_substr"))
    script = f"""
import glob, os, sys
sys.path.insert(0, {repr(str(__import__('os').path.dirname(__import__('os').path.dirname(__import__('os').path.abspath(__file__)))))})
from pyspark.sql import SparkSession
from paperoni_spark.spans.codec import html_to_spans
from paperoni_spark.contract import DOCUMENTS_SPANS_SCHEMA
from jobs.corpus_job import main as corpus_main

tmp = {repr(tmp)}
PASSAGE = "zephyr quartz baffle kumquat vortex jigsaw plinth garnet mosaic tundra"

def doc(doc_id, filler_seed):
    paras = "".join(
        f"<p>The {{filler_seed}} chronicle of section {{i}} describes the "
        f"journey and the harvest of year {{filler_seed}}{{i}} in detail.</p>"
        for i in range(8)
    )
    body = f"<p>{{PASSAGE}}.</p>" + paras
    html = ("<html><head><title>T</title></head><body>"
            f'<article id="main-content">{{body}}</article></body></html>')
    return {{"doc_id": doc_id, "spans": html_to_spans(html)}}

spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false").getOrCreate())
w1_in, w2_in = os.path.join(tmp, "w1_in"), os.path.join(tmp, "w2_in")
spark.createDataFrame([doc("a1", "alpha")], schema=DOCUMENTS_SPANS_SCHEMA).write.parquet(w1_in)
spark.createDataFrame([doc("b1", "omega")], schema=DOCUMENTS_SPANS_SCHEMA).write.parquet(w2_in)
spark.stop()

out, fun = os.path.join(tmp, "corpus"), os.path.join(tmp, "funnel")
shidx, subidx = os.path.join(tmp, "shidx"), os.path.join(tmp, "subidx")
base = ["--output", out, "--funnel", fun, "--dedup-index", shidx,
        "--substring-index", subidx, "--substring-clean", "8",
        "--max-hamming", "0"]
corpus_main(["--input", w1_in, "--wave-id", "w1"] + base)
corpus_main(["--input", w2_in, "--wave-id", "w2", "--append"] + base)

spark = (SparkSession.builder.master("local[4]")
         .config("spark.ui.enabled", "false").getOrCreate())
rows = {{r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}}
assert set(rows) == {{"a1", "b1"}}, rows.keys()
assert PASSAGE in rows["a1"]            # first copy survives
assert "zephyr" not in rows["b1"]       # cross-wave duplicated span removed
assert "omega" in rows["b1"]            # the doc's own content survives
fun_rows = {{(r["stage"]): r["n_docs"] for r in
            spark.read.parquet(os.path.join(fun, "wave=w2")).collect()}}
assert fun_rows.get("cleaned:substring_dup") == 1, fun_rows
# the index carries both waves' histograms of the WRITTEN text
waves = {{os.path.basename(p) for p in glob.glob(os.path.join(subidx, "wave=*"))}}
assert waves == {{"wave=w1", "wave=w2"}}, waves
n_idx = spark.read.parquet(subidx).count()
spark.stop()

# retry the same wave id: replay, not double-append; output unchanged
corpus_main(["--input", w2_in, "--wave-id", "w2", "--append"] + base)
spark = (SparkSession.builder.master("local[4]")
         .config("spark.ui.enabled", "false").getOrCreate())
assert spark.read.parquet(subidx).count() == n_idx
retry = {{r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}}
# full replay: the retried wave's own index segments were cleared
# before the probe, so the wave re-runs against exactly the same index
# state and rewrites byte-identical corpus + index segments
assert retry == rows, (sorted(retry), sorted(rows))
spark.stop()
print("CJ_SUBSTR_OK")
"""
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=560
    )
    assert "CJ_SUBSTR_OK" in proc.stdout, proc.stdout[-2000:] + proc.stderr[-4000:]


_NEAR_DUP_WAVES_SCRIPT = r"""
import os, random, sys

root, tmp, extra = sys.argv[1], sys.argv[2], sys.argv[3:]
sys.path.insert(0, root)
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from jobs.corpus_job import main as corpus_main
from paperoni_spark.contract import DOCUMENTS_SPANS_SCHEMA
from paperoni_spark.operators.dedup import SIMHASH_PAIR_BITS, simhash
from paperoni_spark.operators.extract import run_extract
from paperoni_spark.pipeline.compose import extracted_text
from paperoni_spark.spans.codec import html_to_spans

PASSAGE = "zephyr quartz baffle kumquat vortex jigsaw plinth garnet mosaic tundra"
VOCAB = ["".join(random.Random(i).choices("bcdfghklmnprstvw", k=6)) for i in range(400)]


def body(seed, tweak=False):
    rng = random.Random(seed)
    sents = [" ".join(["the"] + rng.choices(VOCAB, k=9)) + "." for _ in range(10)]
    if tweak:
        sents[-1] = sents[-1].replace(".", " ") + "moreover."
    return sents


def doc(doc_id, sents):
    html = ("<html><head><title>T</title></head><body>"
            '<article id="main-content">'
            + "".join(f"<p>{s}</p>" for s in sents)
            + "</article></body></html>")
    return {"doc_id": doc_id, "spans": html_to_spans(html)}


passage = [PASSAGE + "."]
waves = {
    # a3 is an exact twin of a1, a4 a near-variant of a2
    "w1": [doc("a1", passage + body(1)), doc("a2", passage + body(2)),
           doc("a3", passage + body(1)), doc("a4", passage + body(2, True))],
    # b2 re-crawls a1 under a new id, b3 is a near-variant of b1
    "w2": [doc("b1", body(3)), doc("b2", passage + body(1)),
           doc("b3", body(3, True))],
}
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
for w, rows in waves.items():
    spark.createDataFrame(rows, schema=DOCUMENTS_SPANS_SCHEMA).write.parquet(
        os.path.join(tmp, w + "_in"))
spark.stop()

out, fun, idx = (os.path.join(tmp, d) for d in ("corpus", "funnel", "index"))
base = ["--output", out, "--funnel", fun, "--dedup-index", idx,
        "--near-dup", "--append"] + extra


def run(w):
    corpus_main(["--input", os.path.join(tmp, w + "_in"), "--wave-id", w] + base)


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def state(spark):
    return [rows(spark.read.parquet(p)) for p in (out, fun, idx)]


REJECTS = ("rejected:duplicate", "rejected:near_duplicate",
           "rejected:near_duplicate_vs_corpus", "rejected:already_ingested")
run("w1")
run("w2")
spark = SparkSession.builder.getOrCreate()
funnels = {}
for w, docs in waves.items():
    written = spark.read.parquet(os.path.join(out, "wave=" + w)).select("doc_id", "text")
    seg = spark.read.parquet(os.path.join(idx, "wave=" + w))
    # the appended segment is exactly a fresh fingerprint of the rows written
    assert rows(seg) == rows(simhash(written, SIMHASH_PAIR_BITS)), w
    f = {r["stage"]: r["n_docs"] for r in
         spark.read.parquet(os.path.join(fun, "wave=" + w)).collect()}
    assert f["kept"] - sum(f.get(s, 0) for s in REJECTS) == written.count(), (w, f)
    funnels[w] = f
if extra:
    # wave-local substring cleaning rewrote a1 after the near-dup stage
    # hashed it: the index must hold the fingerprint of the rewritten
    # text, not of the extracted one
    assert funnels["w1"].get("cleaned:substring_dup", 0) >= 1, funnels
    text = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert "zephyr" not in text["a1"], text["a1"]
    docs = spark.read.parquet(os.path.join(tmp, "w1_in"))
    extracted = extracted_text(run_extract(docs)).where(F.col("doc_id") == "a1")
    seg = spark.read.parquet(os.path.join(idx, "wave=w1")).where(F.col("doc_id") == "a1")
    assert rows(seg) != rows(simhash(extracted.select("doc_id", "text"), SIMHASH_PAIR_BITS))
else:
    assert funnels["w1"].get("rejected:duplicate", 0) >= 1, funnels
    assert funnels["w1"].get("rejected:near_duplicate", 0) >= 1, funnels
    assert funnels["w2"].get("rejected:near_duplicate", 0) >= 1, funnels
    assert funnels["w2"].get("rejected:near_duplicate_vs_corpus", 0) >= 1, funnels
before = state(spark)
spark.stop()

# retrying wave 2 under its id replays every sink byte-for-byte
run("w2")
spark = SparkSession.builder.getOrCreate()
assert state(spark) == before
spark.stop()
print("CJ_NEAR_DUP_OK")
"""


@pytest.mark.parametrize(
    "extra", [[], ["--substring-clean", "8"]], ids=["near_dup", "substring_clean"]
)
def test_corpus_job_near_dup_waves(tmp_path_factory, extra):
    """The production wave shape (--near-dup --dedup-index --append
    --funnel): the fingerprint frame the near-dup stage computes is the
    one that probes the index and is appended to it, so every index
    segment must equal a fresh SimHash of the rows that wave wrote — also
    after wave-local substring cleaning rewrote text behind the near-dup
    stage.  Each wave's funnel reconciles with its written rows, and a
    same-id retry of wave 2 leaves corpus, funnel and index identical.
    Subprocess: corpus_job.main owns (and stops) its session."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = str(tmp_path_factory.mktemp("cj_near_dup"))
    proc = subprocess.run(
        [sys.executable, "-c", _NEAR_DUP_WAVES_SCRIPT, root, tmp, *extra],
        capture_output=True,
        text=True,
        timeout=560,
    )
    assert "CJ_NEAR_DUP_OK" in proc.stdout, proc.stdout[-2000:] + proc.stderr[-4000:]


_REFUSALS_SCRIPT = r"""
import os, sys

root, tmp = sys.argv[1], sys.argv[2]
sys.path.insert(0, root)
from pyspark.sql import SparkSession

from jobs.corpus_job import main as corpus_main
from paperoni_spark.contract import DOCUMENTS_SPANS_SCHEMA
from paperoni_spark.spans.codec import html_to_spans


def doc(doc_id, word):
    html = ("<html><head><title>T</title></head><body>"
            '<article id="main-content">'
            + "".join(f"<p>The {word} report {i} covers the {word} harvest "
                      f"and the {word} journey of year {i} in detail.</p>"
                      for i in range(6))
            + "</article></body></html>")
    return {"doc_id": doc_id, "spans": html_to_spans(html)}


spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
src = os.path.join(tmp, "in")
spark.createDataFrame([doc("a1", "amber"), doc("a2", "cobalt")],
                      schema=DOCUMENTS_SPANS_SCHEMA).write.parquet(src)
spark.stop()

out, fun = os.path.join(tmp, "corpus"), os.path.join(tmp, "funnel")
idx = os.path.join(tmp, "index")
base = ["--input", src, "--output", out, "--funnel", fun]
corpus_main(base + ["--dedup-index", idx, "--wave-id", "w1"])  # committed wave

foreign = os.path.join(tmp, "foreign")
os.makedirs(foreign)
open(os.path.join(foreign, "part-00000.parquet"), "w").close()
other_kind = os.path.join(tmp, "other_kind")
os.makedirs(os.path.join(other_kind, "wave=0"))
open(os.path.join(other_kind, "_index_kind_user_state"), "w").close()
open(os.path.join(other_kind, "wave=0", "part-00000.parquet"), "w").close()


def listing(path):
    # every file and directory under path, recursively (None if absent)
    if not os.path.exists(path):
        return None
    return sorted(os.path.relpath(os.path.join(d, n), path)
                  for d, dirs, files in os.walk(path) for n in dirs + files)


def refused(expect, dedup, wave, append=True, substring=None):
    argv = base + ["--dedup-index", dedup, "--wave-id", wave]
    argv += ["--append"] if append else []
    argv += ["--substring-index", substring] if substring else []
    roots = [dedup, substring or os.path.join(tmp, "no_substring"), out, fun]
    before = [listing(r) for r in roots]
    try:
        corpus_main(argv)
    except SystemExit as e:
        assert expect in str(e), (argv, str(e))
    else:
        raise AssertionError(f"not refused: {argv}")
    assert [listing(r) for r in roots] == before, argv


refused("not a wave-segmented index", foreign, "w2")
refused("'user_state' index", other_kind, "w2")
refused("--append was not given", idx, "w2", append=False)
refused("must not be the build's 0", os.path.join(tmp, "fresh"), "0")
# a retry of the committed wave whose SUBSTRING root is refused must not
# first delete the dedup index's committed wave=w1 segment
refused("not a wave-segmented index", idx, "w1", substring=foreign)
refused("'user_state' index", idx, "w1", substring=other_kind)
print("CJ_REFUSALS_OK")
"""


def test_corpus_job_refusals_leave_indexes_untouched(tmp_path_factory):
    """Every corpus_job refusal for either index root (--dedup-index,
    --substring-index) exits before anything is created or deleted: a
    foreign root, another index family's root, an existing index without
    --append, wave id 0 on a fresh path, and a refused substring root on a retry of a committed wave all leave both
    roots' (and the sinks') recursive listings unchanged.
    Subprocess: corpus_job.main owns (and stops) its session."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = str(tmp_path_factory.mktemp("cj_refusals"))
    proc = subprocess.run(
        [sys.executable, "-c", _REFUSALS_SCRIPT, root, tmp],
        capture_output=True,
        text=True,
        timeout=560,
    )
    assert "CJ_REFUSALS_OK" in proc.stdout, proc.stdout[-2000:] + proc.stderr[-4000:]


def test_build_training_corpus_model_filter(spark):
    """The opt-in model quality gate: the map-side fold logit equals the
    model's DuckDB twin (an independent decode of the same two-md5
    weights), model rejects are attributed as rejected:model_quality
    AFTER the rules (one reason per doc), and the funnel still
    reconciles with the written corpus."""
    import duckdb

    from paperoni_spark import contract
    from paperoni_spark.operators import textstats
    from paperoni_spark.pipeline.compose import build_training_corpus
    from pyspark.sql import functions as F

    docs = make_documents_df(spark, synth_corpus(12))
    # the synthetic vocabulary scores uniformly negative under the
    # stand-in weights, so pick a threshold INSIDE the fixture's logit
    # range — the gate must discriminate, not wipe the corpus
    thr = -0.08
    corpus, funnel, _ = build_training_corpus(
        docs, model_filter=True, model_threshold=thr
    )
    rows = corpus.collect()
    stages = {r["stage"]: r["n_docs"] for r in funnel.collect()}
    assert stages.get("rejected:model_quality", 0) > 0
    assert stages.get("kept", 0) - stages.get("rejected:duplicate", 0) == len(rows)

    # row-identity: the fold expression == the DuckDB oracle over the
    # same (doc_id, text) rows
    plain, _, _ = build_training_corpus(docs)
    flat = plain.select("doc_id", "text")
    via_expr = flat.select(
        "doc_id", textstats.quality_logit_col(F.col("text")).alias("logit")
    )
    logits = {r["doc_id"]: r["logit"] for r in via_expr.collect()}
    con = duckdb.connect()
    con.register("documents", flat.toPandas())
    via_oracle = con.execute(
        "SELECT doc_id, quality_logit FROM ("
        + contract.oracle_quality_classifier_scores()
        + ")"
    ).fetchall()
    assert logits and sorted(
        (d, round(v, 9)) for d, v in logits.items()
    ) == sorted((d, round(v, 9)) for d, v in via_oracle)
    # the gate changes membership, not scores: the gated corpus is
    # exactly the plain corpus minus the below-threshold docs (duplicate
    # clusters share text, hence logit — no canonical can vanish while
    # its duplicate survives)
    plain_ids = {r["doc_id"] for r in plain.collect()}
    assert {r["doc_id"] for r in rows} == {
        d for d in plain_ids if logits[d] >= thr
    }


def test_events_job_waves(tmp_path_factory):
    """The events-ingestion job end-to-end: bootstrap wave + follow-up
    wave, the exactness identity (the job's enriched output == the
    full-history batch as-of restricted to the wave), idempotent retry
    of a wave whose indexes were already appended (the exclude-wave
    probe), the rollup-index additive identity, and the out-of-order
    and build-wave-id refusals (the latter leaves every root as it
    was).  Subprocess: events_job.main owns (and stops) its session."""
    import subprocess
    import sys

    tmp = str(tmp_path_factory.mktemp("events_job"))
    script = f"""
import os, sys
sys.path.insert(0, {repr(str(__import__('os').path.dirname(__import__('os').path.dirname(__import__('os').path.abspath(__file__)))))})
from jobs.events_job import main as events_main, _synthetic_events

tmp = {repr(tmp)}
out = os.path.join(tmp, "ev"); ust = os.path.join(tmp, "ust")
ru = os.path.join(tmp, "ru"); met = os.path.join(tmp, "met")
base = ["--output", out, "--user-state-index", ust,
        "--rollup-index", ru, "--metrics", met]
# crashed bootstrap: rollup index written, user_state (the commit
# point) not — the retry must re-run the bootstrap, not refuse
from paperoni_spark.operators.temporal import write_rollup_index
from jobs.events_job import _synthetic_events as _synth
from pyspark.sql import SparkSession as _S
_sp = (_S.builder.master("local[4]").config("spark.sql.shuffle.partitions", "4")
       .config("spark.sql.session.timeZone", "UTC")
       .config("spark.ui.enabled", "false").getOrCreate())
write_rollup_index(_synth(_sp, "synthetic:2000"), ru)
_sp.stop()
events_main(["--input", "synthetic:2000", "--wave-id", "w1"] + base)
events_main(["--input", "synthetic:1000:2000", "--wave-id", "w2", "--append"] + base)
# retry w2: its index segments already exist — must replay, not refuse
events_main(["--input", "synthetic:1000:2000", "--wave-id", "w2", "--append"] + base)
# --append at the build's wave id: refused before anything is written
def _listings():
    return {{
        root: sorted(os.path.relpath(os.path.join(d, n), root)
                     for d, dirs, files in os.walk(root) for n in dirs + files)
        for root in (out, met, ust, ru)
    }}
before = _listings()
try:
    events_main(["--input", "synthetic:1000:3000", "--wave-id", "0", "--append"] + base)
    raise AssertionError("--append --wave-id 0 was not refused")
except SystemExit as e:
    assert "build's 0" in str(e), e
assert _listings() == before
# out-of-order wave: refused loudly
try:
    events_main(["--input", "synthetic:500:1500", "--wave-id", "w3", "--append"] + base)
    raise AssertionError("out-of-order wave was not refused")
except SystemExit as e:
    assert "out-of-order" in str(e), e
# append with a lost rollup index: refused loudly (a silent re-bootstrap
# would under-count every future probe by all prior waves)
import shutil
shutil.rmtree(ru)
try:
    events_main(["--input", "synthetic:1000:3000", "--wave-id", "w4", "--append"] + base)
    raise AssertionError("append onto a missing rollup index was not refused")
except SystemExit as e:
    assert "rollup" in str(e), e
# restore the rollup index for the identity check below (rebuild from
# the two ingested waves; disjoint, so partials reproduce exactly)
_sp = (_S.builder.master("local[4]").config("spark.sql.shuffle.partitions", "4")
       .config("spark.sql.session.timeZone", "UTC")
       .config("spark.ui.enabled", "false").getOrCreate())
write_rollup_index(_synth(_sp, "synthetic:2000"), ru)
write_rollup_index(_synth(_sp, "synthetic:1000:2000"), ru, "w2")
_sp.stop()

from pyspark.sql import SparkSession
from paperoni_spark.operators import temporal
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false").getOrCreate())
allev = _synthetic_events(spark, "synthetic:3000")
full = temporal.asof_enrich(allev)
w2min = 1704067200000000 + 2000 * 37_000_000
want = sorted(tuple(r) for r in full.where(full.ts_us >= w2min).collect())
got = sorted(tuple(r) for r in spark.read.parquet(os.path.join(out, "wave=w2"))
             .select("event_id","user_id","ts_us","ref_event_id","ref_ts_us","lag_us").collect())
assert got == want, (len(got), len(want))
# the w2 retry must have produced history-enriched rows (cross-wave state)
n_hist = sum(1 for r in got if r[4] >= 0 and r[4] < w2min)
assert n_hist > 0
probe = sorted(tuple(r) for r in temporal.time_rollup_from_index(spark, ru).collect())
direct = sorted(tuple(r) for r in temporal.time_rollup(allev).collect())
assert probe == direct, (len(probe), len(direct))
spark.stop()
print("EVENTS_JOB_OK")
"""
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=560
    )
    assert "EVENTS_JOB_OK" in proc.stdout, proc.stdout[-2000:] + proc.stderr[-4000:]
