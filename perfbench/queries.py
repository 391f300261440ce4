"""``query_mix`` workload: seed-ordered passes over eight analytics queries.

A unit is one pass over the mix from ``contract.build_queries()``, each
query collected, on seeded ``documents`` / ``embeddings`` / ``events``
tables.  The first pass (which also builds ``simhash_delta_pairs``' index)
is set-up.  After the timed passes every query's rows are compared with its
DuckDB oracle from ``__spark_entry__.oracle_sql()``, canonicalized the way
``tools/check_oracles.py`` does.
"""

from __future__ import annotations

import datetime
import math
import os
import random
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import common, gen

QUERIES = (
    "dedup_clusters",
    "ngram_jaccard",
    "ann_ivf_topk",
    "tfidf_top_terms",
    "time_rollup",
    "streaming_session_stats",
    "streaming_simhash_pairs",
    "simhash_delta_pairs",
)
N_DOCS, N_VECS, N_EVENTS = 500, 500, 10_000
_WORDS = (
    "value hash batch sort data big filter dup fast spark line small customer group "
    "key agg scan slow table part a merge window order column join vector row the "
    "query stream"
).split()
_LANGS = ("en", "de", "fr", "es", "zh")
_EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


def _tables(seed: int, out: str) -> None:
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 20 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[int(k)] for k in rng.integers(0, len(_WORDS), int(rng.integers(8, 100)))]
        texts.append(" ".join(words))
    documents = pa.table(
        {
            "doc_id": pa.array(range(N_DOCS), pa.int64()),
            "text": texts,
            "lang": [_LANGS[int(k)] if rng.random() < 0.2 else "en" for k in rng.integers(0, 5, N_DOCS)],
            "source": [f"src{int(k)}" for k in rng.integers(0, 20, N_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    centroids = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, N_VECS)
    vecs = centroids[labels] + 1.5 * rng.normal(size=(N_VECS, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(range(N_VECS), pa.int64()),
            "embedding": pa.array([list(v) for v in vecs], pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    start = datetime.datetime(2024, 1, 1)
    gaps = rng.exponential(259.0, N_EVENTS)  # ~30 days of events
    us = np.cumsum(np.round(gaps * 1e6)).astype(np.int64)
    events = pa.table(
        {
            "event_id": pa.array(range(N_EVENTS), pa.int64()),
            "ts": pa.array([start + datetime.timedelta(microseconds=int(u)) for u in us], pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, N_EVENTS), pa.int64()),
            "event_type": [_EVENT_TYPES[int(k)] for k in rng.integers(0, 5, N_EVENTS)],
            "value": np.round(rng.exponential(50.0, N_EVENTS) + 0.01, 2),
            "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )
    for name, table in (("documents", documents), ("embeddings", embeddings), ("events", events)):
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def _normalize(value):
    if isinstance(value, float):
        return "nan" if math.isnan(value) else round(value, 9)
    return value


def _rowset(cols, rows):
    """``tools/check_oracles.py``'s canonical form: columns sorted by name,
    then rows sorted on all of them."""
    import pandas as pd

    ordered = sorted(cols)
    df = pd.DataFrame([[_normalize(v) for v in r] for r in rows], columns=list(cols))[ordered]
    if len(df):
        df = df.sort_values(by=ordered, kind="mergesort").reset_index(drop=True)
    return [tuple(r) for r in df.itertuples(index=False, name=None)], ordered


def _check(results: dict, data: str) -> dict[str, bool]:
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    for t in ("documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data, t + '.parquet')}'")
    oracles = entry.oracle_sql()
    ok = {}
    for name, (cols, rows) in results.items():
        res = con.execute(oracles[name])
        want = _rowset([d[0] for d in res.description], res.fetchall())
        ok[name] = _rowset(cols, rows) == want
        if not ok[name]:
            common.log(f"query_mix: {name} differs from its DuckDB oracle")
    return ok


def _pass(spark, queries, order, data, tag=False) -> tuple[float, dict, dict]:
    """One pass over the mix; returns (wall, per-query wall, results)."""
    walls, results = {}, {}
    t0 = time.perf_counter()
    for name in order:
        if tag:
            spark.sparkContext.setLocalProperty("perfbench.query", name)
        tq = time.perf_counter()
        df = queries[name](spark, data)
        results[name] = (df.columns, [tuple(r) for r in df.collect()])
        walls[name] = time.perf_counter() - tq
    return time.perf_counter() - t0, walls, results


def run(seed: int, seconds: float, trace: bool, t_start: float) -> tuple:
    work = os.path.join(common.work_root(), "run-query_mix")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t_gen = time.perf_counter()
    data = gen.cached("query_mix", seed, {"docs": N_DOCS, "vecs": N_VECS, "events": N_EVENTS},
                      lambda tmp: _tables(seed, tmp))
    order = list(QUERIES)
    random.Random(seed).shuffle(order)
    gen_s = time.perf_counter() - t_gen
    tree = common.ProcTree()

    t_session = time.perf_counter()
    spark = common.start_spark(work, os.path.join(work, "eventlog") if trace else None)
    session_s = time.perf_counter() - t_session
    try:
        import __spark_entry__ as entry

        queries = entry.queries()
        _pass(spark, queries, order, data)
        setup_s = time.perf_counter() - t_start - gen_s
        walls, per_query, failed = [], [], 0
        cpu = 0.0
        while sum(walls) < seconds or not walls:
            cpu0 = tree.sample()
            try:
                wall, per, results = _pass(spark, queries, order, data, tag=trace)
            except Exception as exc:  # a failed pass is counted, not fatal
                common.log(f"query_mix: pass failed: {exc!r}")
                failed += 1
                break
            cpu += tree.sample() - cpu0
            walls.append(wall)
            per_query.append(per)
        checks = _check(results, data) if walls else {}
    finally:
        common.shutdown_spark(spark)

    failed += sum(not v for v in checks.values())
    n = max(1, len(walls))
    correct = failed == 0 and len(checks) == len(QUERIES)
    attempted = len(walls) + failed
    if not trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "unit_s": (common.median(walls), "s"),
            "docs_per_s": (common.median([N_DOCS / w for w in walls]), "docs/s"),
            "cpu_s": (cpu / n, "s"),
            "peak_rss_mb": (tree.peak_mb, "MB"),
        }
        return correct, attempted, failed, metrics
    app = common.read_event_logs(os.path.join(work, "eventlog"))[-1]
    metrics = {"pipeline.session_s": (session_s, "s")}
    every = [j for j, v in app["jobs"].items() if v["props"].get("perfbench.query")]
    s = common.summarize_jobs(app, every)
    metrics.update(
        {
            "pipeline.jobs": (s["jobs"] / n, "count"),
            "pipeline.shuffle_mb": (s["shuffle_mb"] / n, "MB"),
            "pipeline.gc_s": (s["gc_s"] / n, "s"),
            "pipeline.outside_jobs_s": (common.median(walls) - s["wall_s"] / n, "s"),
        }
    )
    for name in QUERIES:
        jobs = [j for j, v in app["jobs"].items() if v["props"].get("perfbench.query") == name]
        metrics[f"q.{name}_s"] = (common.median([p[name] for p in per_query]), "s")
        metrics[f"q.{name}_jobs"] = (len(jobs) / n, "count")
    return correct, attempted, failed, metrics
