"""Per-query isolation harness for the optimization rounds (guide §1).

NOT the driver bench — bench.py stays frozen.  This file exists to:

* time one query at a time with the noop sink (guide §1.4) so the
  computation is measured, not the sink or the driver's canonicalization;
* dump ``.explain("formatted")`` for before/after plan evidence
  (plans/r07/<name>_{before,after}.txt);
* break a query's wall time into its Spark jobs via the event log, so
  "which pass is slow" is measured instead of guessed.

Usage:
  python bench_extra.py time <name> [...]     # noop-sink best-of-2 wall
  python bench_extra.py plan <tag> <name> ... # write plans/r07/<name>_<tag>.txt
  python bench_extra.py jobs <name>           # per-job wall breakdown
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
EVLOG_DIR = "/tmp/paperoni_evlog"

# queries whose first call builds a persisted index (bench.py contract)
from bench import INDEXED_QUERIES  # noqa: E402


def build(event_log: bool = False):
    from paperoni_spark.pipeline import build_spark

    extra = {}
    if event_log:
        os.makedirs(EVLOG_DIR, exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": EVLOG_DIR,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return build_spark(
        master=f"local[{CPUS}]",
        app_name="paperoni-bench-extra",
        shuffle_partitions=CPUS,
        extra_conf=extra,
    )


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def cmd_time(names: list[str]) -> None:
    from paperoni_spark.contract import build_queries

    spark = build()
    spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")).count()
    spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).count()
    qfns = build_queries()
    out = {}
    for name in names:
        if name in INDEXED_QUERIES:
            noop(qfns[name](spark, SF_DIR))
        best = float("inf")
        samples = []
        for _ in range(2):
            t0 = time.time()
            noop(qfns[name](spark, SF_DIR))
            dt = time.time() - t0
            samples.append(round(dt, 3))
            best = min(best, dt)
        out[name] = {"best": round(best, 3), "samples": samples}
        print(json.dumps({name: out[name]}), flush=True)
    spark.stop()
    print(json.dumps(out))


def cmd_plan(tag: str, names: list[str]) -> None:
    from paperoni_spark.contract import build_queries

    spark = build()
    qfns = build_queries()
    os.makedirs("plans/r07", exist_ok=True)
    for name in names:
        df = qfns[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = f"plans/r07/{name}_{tag}.txt"
        with open(path, "w") as fh:
            fh.write(plan)
        print("wrote", path)
    spark.stop()


def cmd_jobs(name: str) -> None:
    from paperoni_spark.contract import build_queries

    spark = build(event_log=True)
    app_id = spark.sparkContext.applicationId
    spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")).count()
    spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).count()
    qfns = build_queries()
    if name in INDEXED_QUERIES:
        noop(qfns[name](spark, SF_DIR))
    t0 = time.time() * 1000
    noop(qfns[name](spark, SF_DIR))
    t1 = time.time() * 1000
    wall = (t1 - t0) / 1000
    spark.stop()

    jobs: dict[int, dict] = {}
    matches = glob.glob(os.path.join(EVLOG_DIR, "*" + app_id + "*"))
    if not matches:
        raise SystemExit(
            f"no event log for application {app_id} under {EVLOG_DIR} "
            "(was the session built with event logging on?)"
        )
    cand = matches[0]
    files = (
        sorted(glob.glob(os.path.join(cand, "events_*")))
        if os.path.isdir(cand)
        else [cand]
    )
    lines = (line for f in files for line in open(f))
    for line in lines:
        ev = json.loads(line)
        if ev["Event"] == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "t0": ev["Submission Time"],
                "desc": props.get("spark.job.description", "")[:110],
                "callsite": props.get("callSite.short", "")[:60],
            }
        elif ev["Event"] == "SparkListenerJobEnd":
            j = jobs.get(ev["Job ID"])
            if j:
                j["ms"] = ev["Completion Time"] - j["t0"]
    # jobs submitted inside the timed window, whatever thread ran them
    timed = [
        (jid, j) for jid, j in sorted(jobs.items()) if t0 <= j["t0"] <= t1
    ]
    total_ms = sum(j.get("ms", 0) for _, j in timed)
    print(f"\n{name}: wall={wall:.3f}s  jobs={len(timed)}  job-sum={total_ms/1000:.3f}s")
    prev_end = t0
    for jid, j in timed:
        gap = f"  (+{(j['t0']-prev_end)/1000:.3f}s gap)"
        print(f"  job {jid:3d}  {j.get('ms',0)/1000:7.3f}s  {j['callsite']}{gap}")
        prev_end = j["t0"] + j.get("ms", 0)
    print(f"  tail gap: {(t1-prev_end)/1000:.3f}s")


if __name__ == "__main__":
    cmd = sys.argv[1]
    if cmd == "time":
        cmd_time(sys.argv[2:])
    elif cmd == "plan":
        cmd_plan(sys.argv[2], sys.argv[3:])
    elif cmd == "jobs":
        cmd_jobs(sys.argv[2])
    else:
        raise SystemExit(f"unknown command {cmd}")
