"""Shared benchmark plumbing: paths, Spark sessions, /proc sampling, spans,
Spark event-log summaries and small statistics helpers."""

from __future__ import annotations

import glob
import json
import os
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")
JVM_HEAP = "1g"


def repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def work_root() -> str:
    return os.path.join(repo_root(), ".perfbench")


def require_program() -> None:
    """Exit with code 2 unless the program under test sits beside us."""
    root = repo_root()
    for rel in ("paperoni_spark/__init__.py", "jobs/corpus_job.py", "tests/golden"):
        if not os.path.exists(os.path.join(root, rel)):
            print(f"perfbench: {rel} not found under {root}", file=sys.stderr)
            raise SystemExit(2)
    if root not in sys.path:
        sys.path.insert(0, root)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------ /proc sampling


class ProcTree:
    """CPU seconds and peak RSS of this process and all its descendants,
    read from ``/proc`` at explicit sample points (no sampler thread).

    CPU is utime+stime+cutime+cstime summed over live processes, so
    children that exited and were reaped still count through their
    parent.  Peak RSS is the largest sum, over one sample, of each live
    process's own high-water mark (VmHWM)."""

    def __init__(self) -> None:
        self.root = os.getpid()
        self.peak_mb = 0.0

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def sample(self) -> float:
        """Record RSS and return the tree's CPU seconds so far."""
        cpu = 0.0
        rss_kb = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                cpu += sum(int(x) for x in fields[11:15]) / CLK_TCK
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            rss_kb += int(line.split()[1])
                            break
            except (OSError, IndexError, ValueError):
                continue
        self.peak_mb = max(self.peak_mb, rss_kb / 1024)
        return cpu


# ------------------------------------------------------------------- spans


class Tracer:
    """In-memory spans (name, start, end, parent, unit); written out once
    at the end of the run."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, unit: str | None = None):
        """A span; without ``unit`` it belongs to its parent's unit."""
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if unit is None and parent is not None:
            unit = self.spans[parent]["unit"]
        rec = {"name": name, "start": time.perf_counter(), "end": None, "parent": parent, "unit": unit}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def unit(self) -> str | None:
        """The unit of the innermost open span."""
        return self.spans[self._stack[-1]]["unit"] if self._stack else None

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[i]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ------------------------------------------------------------------- Spark


def base_conf(work: str) -> dict[str, str]:
    """Session settings of the benchmark's deployment.  The JVM heap is
    fixed and pre-touched (-Xms = -Xmx), so the tree's RSS moves with
    off-heap and Python memory, not with GC heap-sizing heuristics."""
    return {
        "spark.driver.memory": JVM_HEAP,
        "spark.driver.extraJavaOptions": (
            f"-Xms{JVM_HEAP} -XX:+AlwaysPreTouch -Dderby.system.home={work} "
            f"-Djava.io.tmpdir={os.environ.get('TMPDIR', work)}"
        ),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def start_spark(work: str, event_log_dir: str | None = None):
    """A ``local[nproc]`` session built by the program's own
    ``build_spark``; its Python workers import the program from the
    checkout.  With ``event_log_dir`` the session writes a plain-JSON
    event log there."""
    from paperoni_spark.pipeline.session import build_spark

    root = repo_root()
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if root not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([root] + [p for p in paths if p])
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    conf = base_conf(work)
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file:" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = build_spark(master=f"local[{nproc()}]", app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def shutdown_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# --------------------------------------------------------------- event log


def read_event_logs(log_dir: str) -> list[dict]:
    """Every application's event log under ``log_dir`` as one summary each:
    jobs (with local properties), stages (with accumulables) and tasks."""
    apps = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path) or path.endswith(".inprogress"):
            continue
        app = {"start": None, "jobs": {}, "stages": {}, "tasks": []}
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerApplicationStart":
                    app["start"] = e["Timestamp"] / 1000
                elif kind == "SparkListenerJobStart":
                    app["jobs"][e["Job ID"]] = {
                        "submit": e["Submission Time"] / 1000,
                        "end": None,
                        "stages": e["Stage IDs"],
                        "props": e.get("Properties") or {},
                    }
                elif kind == "SparkListenerJobEnd":
                    app["jobs"][e["Job ID"]]["end"] = e["Completion Time"] / 1000
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    acc = {}
                    for a in info.get("Accumulables", []):
                        try:
                            acc[a["Name"]] = acc.get(a["Name"], 0) + float(a["Value"])
                        except (KeyError, TypeError, ValueError):
                            pass
                    app["stages"][info["Stage ID"]] = {
                        "submit": (info.get("Submission Time") or 0) / 1000,
                        "end": (info.get("Completion Time") or 0) / 1000,
                        "acc": acc,
                    }
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    app["tasks"].append(
                        {
                            "stage": e["Stage ID"],
                            "run_s": m.get("Executor Run Time", 0) / 1000,
                            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                            "gc_s": m.get("JVM GC Time", 0) / 1000,
                            "shuffle_b": sw.get("Shuffle Bytes Written", 0),
                        }
                    )
        apps.append(app)
    return apps


def summarize_jobs(app: dict, job_ids: list[int]) -> dict:
    """Totals over a set of jobs: count, wall (union of job intervals),
    task GC, shuffle bytes written, and the Python-UDF stages' figures."""
    stage_ids = {s for j in job_ids for s in app["jobs"][j]["stages"] if s in app["stages"]}
    tasks = [t for t in app["tasks"] if t["stage"] in stage_ids]
    spans = sorted(
        (app["jobs"][j]["submit"], app["jobs"][j]["end"] or app["jobs"][j]["submit"])
        for j in job_ids
    )
    wall, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                wall += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        wall += cur_e - cur_s
    py_stages = [
        s for s in stage_ids if app["stages"][s]["acc"].get("data sent to Python workers", 0) > 0
    ]
    return {
        "jobs": len(job_ids),
        "wall_s": wall,
        "gc_s": sum(t["gc_s"] for t in tasks),
        "shuffle_mb": sum(t["shuffle_b"] for t in tasks) / 1e6,
        "py_stages": py_stages,
        "py_mb_in": sum(app["stages"][s]["acc"].get("data sent to Python workers", 0) for s in py_stages) / 1e6,
        "py_mb_out": sum(app["stages"][s]["acc"].get("data returned from Python workers", 0) for s in py_stages) / 1e6,
    }


def stage_wall(app: dict, stage_ids) -> float:
    return sum(app["stages"][s]["end"] - app["stages"][s]["submit"] for s in stage_ids)


def stage_tasks(app: dict, stage_ids: list[int]) -> list[float]:
    return [t["run_s"] for t in app["tasks"] if t["stage"] in set(stage_ids)]


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(max(1, attempted)),
            "failed": int(failed),
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }
    )
