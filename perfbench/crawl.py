"""``crawl_waves`` workload: recurring-crawl waves of the corpus job.

Each wave is one run of the production entry point ``jobs/corpus_job.py``
with the arguments a scheduler passes (``--near-dup --dedup-index ...
--append --funnel --wave-id``), submitted by one client in a closed loop to
a long-lived ``local[nproc]`` session, as a job server does.  The bootstrap
wave (wave 0) is set-up; each timed wave probes the SimHash index that the
earlier waves appended to.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import time
from contextlib import contextmanager

import pyarrow.dataset as ds

from . import common, gen, pylayers, sites

WAVE_DOCS = 240
MAX_WAVES = 4
PLANTED = ("recrawl_same_id", "recrawl_copy", "recrawl_edit")
REJECT_STAGES = (
    "rejected:duplicate",
    "rejected:near_duplicate",
    "rejected:near_duplicate_vs_corpus",
    "rejected:already_ingested",
)


def _job_main():
    path = os.path.join(common.repo_root(), "jobs", "corpus_job.py")
    spec = importlib.util.spec_from_file_location("perfbench_corpus_job", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.main


@contextmanager
def _session_outlives_job():
    """The job stops its session when done; on a job server the session
    is shared and outlives it."""
    from pyspark.sql.session import SparkSession

    stop = SparkSession.stop
    SparkSession.stop = lambda self: None
    try:
        yield
    finally:
        SparkSession.stop = stop


class Waves:
    def __init__(self, work: str, inputs: str) -> None:
        self.work, self.inputs = work, inputs
        self.main = _job_main()
        self.out = os.path.join(work, "corpus")
        self.funnel = os.path.join(work, "funnel")
        self.index = os.path.join(work, "index")

    def submit(self, wave: int) -> float | None:
        """Run one wave; returns its wall seconds, or None if it failed."""
        argv = [
            "--input", os.path.join(self.inputs, f"wave{wave:03d}"),
            "--output", self.out,
            "--funnel", self.funnel,
            "--dedup-index", self.index,
            "--near-dup",
            "--append",
            "--wave-id", f"w{wave:03d}",
        ]
        t0 = time.perf_counter()
        try:
            with _session_outlives_job():
                self.main(argv)
        except (Exception, SystemExit) as exc:  # the job exits on a refusal
            common.log(f"crawl_waves: wave {wave} failed: {exc!r}")
            return None
        return time.perf_counter() - t0

    def check(self, wave: int, kinds: dict) -> dict:
        """Funnel reconciliation and planted re-crawl rejection for a wave."""
        wid = f"w{wave:03d}"
        funnel = {
            r["stage"]: r["n_docs"]
            for r in ds.dataset(os.path.join(self.funnel, f"wave={wid}"), format="parquet")
            .to_table()
            .to_pylist()
        }
        written = set(
            ds.dataset(os.path.join(self.out, f"wave={wid}"), format="parquet")
            .to_table(columns=["doc_id"])
            .column("doc_id")
            .to_pylist()
        )
        planted = [d for k in PLANTED for d in kinds.get(k, [])]
        reconciles = funnel.get("kept", 0) - sum(funnel.get(s, 0) for s in REJECT_STAGES) == len(written)
        leaked = [d for d in planted if d in written]
        if not reconciles:
            common.log(f"crawl_waves: wave {wid} funnel {funnel} does not reconcile with {len(written)} rows")
        if leaked:
            common.log(f"crawl_waves: wave {wid} wrote planted re-crawls {leaked[:5]}")
        return {
            "ok": reconciles and not leaked,
            "pairs": funnel.get("rejected:near_duplicate", 0)
            + funnel.get("rejected:near_duplicate_vs_corpus", 0),
            "false_rejects": sum(d not in written for d in kinds.get("article", [])),
        }


def _kernel_outcomes(inputs: str, wave: int) -> tuple[int, int]:
    """(docs, KernelError docs) of a wave, from the kernel in-process."""
    from paperoni_spark.spans.codec import extract_document

    docs = ds.dataset(os.path.join(inputs, f"wave{wave:03d}"), format="parquet").to_table().to_pylist()
    errors = sum(
        extract_document(d["doc_id"], d["spans"])["status"].startswith("error:KernelError")
        for d in docs
    )
    return len(docs), errors


def _timed(waves, manifest, first, seconds, tree, spark=None):
    """Closed loop of waves from ``first`` until ``seconds`` of wave time,
    failed waves included, have passed."""
    walls, results, docs, kernel_errors = [], [], 0, 0
    cpu, spent = 0.0, 0.0
    wave = first
    while wave < MAX_WAVES and spent < seconds:
        if spark is not None:
            spark.sparkContext.setLocalProperty("perfbench.unit", f"w{wave:03d}")
        cpu0 = tree.sample()
        t0 = time.perf_counter()
        wall = waves.submit(wave)
        spent += time.perf_counter() - t0
        cpu += tree.sample() - cpu0
        res = waves.check(wave, manifest[wave]) if wall is not None else {"ok": False}
        n, kerr = _kernel_outcomes(waves.inputs, wave)
        docs += n
        kernel_errors += kerr
        results.append(res)
        if wall is not None:
            walls.append(wall)
        wave += 1
    return {"walls": walls, "results": results, "docs": docs, "kernel_errors": kernel_errors,
            "cpu": cpu, "next": wave, "failed": sum(not r["ok"] for r in results)}


def run(seed: int, seconds: float, trace: bool, t_start: float) -> tuple:
    work = os.path.join(common.work_root(), "run-crawl_waves")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t_gen = time.perf_counter()
    inputs, manifest = gen.crawl_waves_input(seed, MAX_WAVES, WAVE_DOCS)
    gen_s = time.perf_counter() - t_gen
    tree = common.ProcTree()

    t_session = time.perf_counter()
    spark = common.start_spark(work)
    session_s = time.perf_counter() - t_session
    try:
        waves = Waves(work, inputs)
        boot_ok = waves.submit(0) is not None and waves.check(0, manifest[0])["ok"]
        setup_s = time.perf_counter() - t_start - gen_s
        loop = _timed(waves, manifest, 1, seconds / 2 if trace else seconds, tree)
        if trace:
            # same JVM, new session with the event log on and jobs tagged
            # with their call sites
            spark.stop()
            spark = common.start_spark(work, os.path.join(work, "eventlog"))
            with sites.tagged_jobs(common.repo_root()):
                traced = _timed(waves, manifest, loop["next"], seconds / 2, tree, spark)
    finally:
        common.shutdown_spark(spark)

    units = len(loop["results"])
    attempted = units + loop["docs"]
    failed = loop["failed"] + loop["kernel_errors"]
    correct = boot_ok and loop["failed"] == 0
    if not trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "unit_s": (common.median(loop["walls"]), "s"),
            "docs_per_s": (common.median([WAVE_DOCS / w for w in loop["walls"]]), "docs/s"),
            "cpu_s": (loop["cpu"] / units, "s"),
            "peak_rss_mb": (tree.peak_mb, "MB"),
        }
        return correct, attempted, failed, metrics
    metrics = trace_metrics(work, inputs, waves, loop, traced, session_s)
    correct = correct and traced["failed"] == 0 and metrics.pop("_same_rows")
    return correct, attempted + len(traced["results"]) + traced["docs"], failed + traced["failed"] + traced["kernel_errors"], metrics


def _layer(site: str) -> str:
    """The layer a job's program call stack (innermost frame first) spends
    its time in."""
    if "dedup_wave_against_index" in site or "rejected.count()" in site or "resubmitted.count()" in site:
        return "dedup.probe"
    main = [f for f in site.split("\n") if ":main:" in f]
    if main and "args.output" in main[0]:
        return "pipeline.sink"
    if main and "args.funnel" in main[0]:
        return "pipeline.funnel"
    if main and "args.dedup_index" in main[0]:
        return "dedup.index_append"
    if "build_training_corpus" in site or "connected_components" in site:
        return "dedup.near_dup"
    return "other"


def trace_metrics(work, inputs, waves, loop, traced, session_s) -> dict:
    """Per-layer metrics: Python layers from an in-process pass over the
    first traced wave's pages, Spark layers from the event log with jobs
    grouped by wave and by call site."""
    first = traced["next"] - len(traced["results"])
    docs = ds.dataset(os.path.join(inputs, f"wave{first:03d}"), format="parquet")
    files = sorted(f.path for f in docs.get_fragments())
    py, tracer, same = pylayers.measure(pylayers.load_batches(files, None))
    tracer.dump(os.path.join(common.work_root(), "trace", f"crawl_waves-w{first:03d}.json"))

    app = common.read_event_logs(os.path.join(work, "eventlog"))[-1]
    per_wave = []
    walls = dict(zip(range(first, traced["next"]), traced["walls"]))
    for wave in range(first, traced["next"]):
        jobs = [j for j, v in app["jobs"].items() if v["props"].get("perfbench.unit") == f"w{wave:03d}"]
        if not jobs:
            continue
        groups: dict[str, list[int]] = {}
        for j in jobs:
            groups.setdefault(_layer(app["jobs"][j]["props"].get("perfbench.site", "")), []).append(j)
        every = common.summarize_jobs(app, jobs)
        udf = every["py_stages"]
        tasks = common.stage_tasks(app, udf)
        by = {k: common.summarize_jobs(app, v) for k, v in groups.items()}
        near_dup_stages = {s for j in groups.get("dedup.near_dup", []) for s in app["jobs"][j]["stages"]}

        def wall_of(layer):
            return by[layer]["wall_s"] if layer in by else 0.0

        per_wave.append(
            {
                "jobs": every["jobs"],
                "outside_jobs_s": walls.get(wave, 0.0) - every["wall_s"],
                "shuffle_mb": every["shuffle_mb"],
                "gc_s": every["gc_s"],
                "py_mb_in": every["py_mb_in"],
                "py_mb_out": every["py_mb_out"],
                "tasks": len(tasks),
                "skew": max(tasks) / common.median(tasks) if tasks else 0.0,
                "udf_wall": common.stage_wall(app, udf),
                "sink_s": wall_of("pipeline.sink"),
                "funnel_s": wall_of("pipeline.funnel"),
                "probe_s": wall_of("dedup.probe"),
                "index_append_s": wall_of("dedup.index_append"),
                # the near-dup stage's first action also runs the extraction
                "near_dup_s": wall_of("dedup.near_dup") - common.stage_wall(app, set(udf) & near_dup_stages),
                "untagged": len(groups.get("other", [])),
            }
        )

    def med(key):
        return common.median([w[key] for w in per_wave])

    udf_wall = med("udf_wall")
    docs_per_cpu = py["kernel.docs_per_cpu_s"][0]
    results = loop["results"] + traced["results"]
    py.update(
        {
            "extract.py_mb_in": (med("py_mb_in"), "MB"),
            "extract.py_mb_out": (med("py_mb_out"), "MB"),
            "extract.tasks": (med("tasks"), "count"),
            "extract.task_skew": (med("skew"), "ratio"),
            "extract.parallel_eff": (
                WAVE_DOCS / udf_wall / (common.nproc() * docs_per_cpu) if udf_wall and docs_per_cpu else 0.0,
                "ratio",
            ),
            "pipeline.session_s": (session_s, "s"),
            "pipeline.sink_s": (med("sink_s"), "s"),
            "pipeline.funnel_s": (med("funnel_s"), "s"),
            "pipeline.jobs": (med("jobs"), "count"),
            "pipeline.outside_jobs_s": (med("outside_jobs_s"), "s"),
            "pipeline.shuffle_mb": (med("shuffle_mb"), "MB"),
            "pipeline.gc_s": (med("gc_s"), "s"),
            "dedup.probe_s": (med("probe_s"), "s"),
            "dedup.near_dup_s": (med("near_dup_s"), "s"),
            "dedup.index_append_s": (med("index_append_s"), "s"),
            "dedup.pairs": (common.median([r.get("pairs", 0) for r in results]), "count"),
            "dedup.false_rejects": (sum(r.get("false_rejects", 0) for r in results), "count"),
            "fsio.index_segments": (
                sum(n.startswith("wave=") for n in os.listdir(waves.index)),
                "count",
            ),
            "trace.overhead_s": (common.median(traced["walls"]) - common.median(loop["walls"]), "s"),
            "trace.untagged_jobs": (med("untagged"), "count"),
            "_same_rows": same,
        }
    )
    return py
