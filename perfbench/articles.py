"""``articles`` workload: one production extract job per unit.

A unit is ``pipeline.job.extract_pipeline`` (scan mode) over the seeded
corpus of frozen synthetic articles, with their heavy tail, plus
``write_output`` with lineage metrics, submitted by a single client in a
closed loop on one ``local[nproc]`` session.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time

import pyarrow.dataset as ds

from . import common, gen, pylayers

N_DOCS = 2000
# extra in-process sample for the Spark-vs-kernel check, besides every
# heavy and mega document
CHECK_SAMPLE = 60
# units keep speeding up (JIT, Python worker start) over the first ~10,000
# documents; the timed loop starts after that
WARMUP_UNITS = 5


def _unit(spark, docs_dir: str, out: str, metrics: str, run_id: str) -> float:
    from paperoni_spark.pipeline.job import extract_pipeline, write_output

    t0 = time.perf_counter()
    extracted = extract_pipeline(spark.read.parquet(docs_dir), mode="scan")
    write_output(extracted, out, metrics, run_id=run_id)
    return time.perf_counter() - t0


def _unit_rows(out: str, run_id: str, columns: list[str], ids=None) -> list[dict]:
    dataset = ds.dataset(os.path.join(out, f"run_id={run_id}"), format="parquet")
    flt = ds.field("doc_id").isin(sorted(ids)) if ids is not None else None
    return dataset.to_table(columns=columns, filter=flt).to_pylist()


def _check_unit(out: str, metrics: str, run_id: str) -> tuple[bool, int, int]:
    """(lineage reconciles, ok docs, KernelError docs) for one unit."""
    statuses = [r["status"] for r in _unit_rows(out, run_id, ["status"])]
    lineage = ds.dataset(metrics, format="parquet").to_table(
        filter=ds.field("run_id") == run_id
    ).to_pylist()
    ok = sum(s == "ok" for s in statuses)
    kernel_errors = sum(s.startswith("error:KernelError") for s in statuses)
    reconciles = (
        len(statuses) == N_DOCS
        and sum(r["doc_count"] for r in lineage) == N_DOCS
        and sum(r["ok_count"] for r in lineage) == ok
    )
    return reconciles, ok, kernel_errors


def _same(spark_row: dict, expected: dict) -> bool:
    keys = ("status", "extracted", "metadata", "img_urls", "nodes_scored", "spans_emitted")
    return all(spark_row[k] == expected[k] for k in keys)


def _check_sample(out: str, run_id: str, docs_dir: str, tiers: dict, seed: int) -> bool:
    """Spark rows equal in-process ``extract_document`` on a seeded sample
    holding every heavy and mega document."""
    from paperoni_spark.spans.codec import extract_document

    normal = sorted(d for d, t in tiers.items() if t == "normal")
    ids = {d for d, t in tiers.items() if t != "normal"}
    ids |= set(random.Random(seed).sample(normal, CHECK_SAMPLE))
    cols = ["doc_id", "status", "extracted", "metadata", "img_urls", "nodes_scored", "spans_emitted"]
    got = {r["doc_id"]: r for r in _unit_rows(out, run_id, cols, ids)}
    docs = ds.dataset(docs_dir, format="parquet").to_table(filter=ds.field("doc_id").isin(sorted(ids)))
    if len(got) != len(ids) or docs.num_rows != len(ids):
        return False
    for doc in docs.to_pylist():
        if not _same(got[doc["doc_id"]], extract_document(doc["doc_id"], doc["spans"])):
            common.log(f"articles: Spark row differs from the kernel for {doc['doc_id']}")
            return False
    return True


def _check_fixtures() -> bool:
    """The fixture corpus reproduces the golden span file (read-only)."""
    from paperoni_spark.spans import extract_document, fixture_corpus

    with open(os.path.join(common.repo_root(), "tests", "golden", "fixture_spans.json")) as f:
        golden = json.load(f)
    corpus = fixture_corpus()
    if sorted(d["doc_id"] for d in corpus) != sorted(golden):
        common.log("articles: fixture doc ids differ from the golden spans")
        return False
    for d in corpus:
        got, exp = extract_document(d["doc_id"], d["spans"]), golden[d["doc_id"]]
        if (got["status"], got["extracted"], got["metadata"], got["img_urls"]) != (
            exp["status"], exp["extracted"], exp["metadata"], exp["img_urls"]
        ):
            common.log(f"articles: fixture {d['doc_id']} differs from the golden spans")
            return False
    return True


def _loop(spark, docs_dir, out, met, seconds, tree, tag, first_unit):
    """Closed loop: units back to back until ``seconds`` of unit time,
    failed units included, have passed."""
    walls, kernel_errors, failed, units = [], 0, 0, []
    cpu, spent = 0.0, 0.0
    k = first_unit
    while spent < seconds:
        run_id = f"u{k:04d}"
        if tag:
            spark.sparkContext.setLocalProperty("perfbench.unit", run_id)
        cpu0 = tree.sample()
        t0 = time.perf_counter()
        try:
            wall = _unit(spark, docs_dir, out, met, run_id)
            cpu += tree.sample() - cpu0
            good, ok, kerr = _check_unit(out, met, run_id)
        except Exception as exc:  # a failed unit is counted, not fatal
            common.log(f"articles: unit {run_id} failed: {exc!r}")
            wall, good, ok, kerr = None, False, 0, 0
        spent += time.perf_counter() - t0
        if wall is not None:
            walls.append(wall)
        failed += not good
        kernel_errors += kerr
        units.append((run_id, wall, ok))
        common.log(f"articles: unit {run_id} wall {wall} s")
        k += 1
    return {
        "walls": walls,
        "units": units,
        "failed": failed,
        "kernel_errors": kernel_errors,
        "cpu": cpu,
        "next": k,
    }


def run(seed: int, seconds: float, trace: bool, t_start: float) -> tuple:
    name = "articles"
    work = os.path.join(common.work_root(), f"run-{name}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t_gen = time.perf_counter()
    docs_dir, tiers = gen.articles_input(seed, N_DOCS, common.nproc())
    gen_s = time.perf_counter() - t_gen
    out, met = os.path.join(work, "out"), os.path.join(work, "lineage")
    tree = common.ProcTree()

    t_session = time.perf_counter()
    spark = common.start_spark(work)
    session_s = time.perf_counter() - t_session
    try:
        for k in range(WARMUP_UNITS):
            common.log(f"articles: warm-up unit {k} wall {_unit(spark, docs_dir, out, met, f'warmup{k}')} s")
        setup_s = time.perf_counter() - t_start - gen_s
        half = seconds / 2 if trace else seconds
        loop = _loop(spark, docs_dir, out, met, half, tree, False, 0)
        done = [u[0] for u in loop["units"] if u[1] is not None]
        correct = bool(done) and _check_sample(out, done[-1], docs_dir, tiers, seed) and _check_fixtures()
        if trace:
            # same JVM, new session with the event log on
            spark.stop()
            spark = common.start_spark(work, os.path.join(work, "eventlog"))
            _unit(spark, docs_dir, out, met, "warmup2")
            traced = _loop(spark, docs_dir, out, met, half, tree, True, loop["next"])
    finally:
        common.shutdown_spark(spark)

    n_units = len(loop["units"])
    failed = loop["failed"] + (not correct)
    attempted = n_units + n_units * N_DOCS
    docs_per_s = common.median([ok / w for _, w, ok in loop["units"] if w])
    if not trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "unit_s": (common.median(loop["walls"]), "s"),
            "docs_per_s": (docs_per_s, "docs/s"),
            "cpu_s": (loop["cpu"] / n_units, "s"),
            "peak_rss_mb": (tree.peak_mb, "MB"),
        }
        return correct and failed == 0, attempted, failed + loop["kernel_errors"], metrics

    metrics = trace_metrics(work, name, docs_dir, tiers, seed, loop, traced, docs_per_s, session_s)
    correct = correct and metrics.pop("_same_rows")
    failed += traced["failed"]
    attempted += len(traced["units"]) * (1 + N_DOCS)
    return correct and failed == 0, attempted, failed + loop["kernel_errors"] + traced["kernel_errors"], metrics


def trace_metrics(work, name, docs_dir, tiers, seed, loop, traced, docs_per_s, session_s) -> dict:
    """Per-layer metrics: Python layers from an in-process pass over a
    stratified third of the corpus, Spark layers from the event log."""
    # the sample keeps the corpus's tier shares exactly
    rng = random.Random(seed)
    keep = set()
    for tier in sorted(set(tiers.values())):
        ids = sorted(d for d, t in tiers.items() if t == tier)
        keep |= set(rng.sample(ids, len(ids) // 3))
    files = sorted(os.path.join(docs_dir, f) for f in os.listdir(docs_dir))
    py, tracer, same = pylayers.measure(pylayers.load_batches(files, keep))
    tracer.dump(os.path.join(common.work_root(), "trace", f"{name}-{seed}.json"))

    app = common.read_event_logs(os.path.join(work, "eventlog"))[-1]
    per_unit = []
    for run_id, wall, _ in traced["units"]:
        if wall is None:
            continue
        jobs = [j for j, v in app["jobs"].items() if v["props"].get("perfbench.unit") == run_id]
        s = common.summarize_jobs(app, jobs)
        udf = s["py_stages"]
        tasks = common.stage_tasks(app, udf)
        udf_wall = common.stage_wall(app, udf)
        s.update(
            outside_jobs_s=wall - s["wall_s"],
            tasks=len(tasks),
            skew=max(tasks) / common.median(tasks) if tasks else 0.0,
            sink_s=wall - udf_wall,
        )
        per_unit.append(s)

    def med(key):
        return common.median([u[key] for u in per_unit])

    cores = common.nproc()
    docs_per_cpu = py["kernel.docs_per_cpu_s"][0]
    py.update(
        {
            "extract.py_mb_in": (med("py_mb_in"), "MB"),
            "extract.py_mb_out": (med("py_mb_out"), "MB"),
            "extract.tasks": (med("tasks"), "count"),
            "extract.task_skew": (med("skew"), "ratio"),
            "extract.parallel_eff": (docs_per_s / (cores * docs_per_cpu) if docs_per_cpu else 0.0, "ratio"),
            "pipeline.session_s": (session_s, "s"),
            "pipeline.sink_s": (med("sink_s"), "s"),
            "pipeline.jobs": (med("jobs"), "count"),
            "pipeline.outside_jobs_s": (med("outside_jobs_s"), "s"),
            "pipeline.shuffle_mb": (med("shuffle_mb"), "MB"),
            "pipeline.gc_s": (med("gc_s"), "s"),
            "trace.overhead_s": (
                common.median(traced["walls"]) - common.median(loop["walls"]),
                "s",
            ),
            "_same_rows": same,
        }
    )
    return py
