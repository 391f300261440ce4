"""Local mimic of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at the given SF, compare row count,
schema (column names), and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]

Prints one ok/FAIL line per query with its wall seconds; exits 1 if any
query fails.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from paperoni_spark.pipeline import build_spark

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize(value):
    if isinstance(value, float):
        if math.isnan(value):
            return "nan"
        return round(value, 9)
    if isinstance(value, int):
        return int(value)
    return value


def rowset(cols, rows):
    """Canonicalize exactly like the driver gate: pandas DataFrame, columns
    sorted by name, then multi-column ``sort_values``.  Critically this
    REPRODUCES the driver's failure mode on unhashable cells (list-typed
    columns raise TypeError in pandas factorize) — round 1's
    media_resize_sample passed a repr-based local sort but broke the driver.
    """
    ordered = sorted(cols)
    df = pd.DataFrame(
        [[normalize(v) for v in r] for r in rows], columns=list(cols)
    )[ordered]
    if len(df):
        df = df.sort_values(by=ordered, kind="mergesort").reset_index(drop=True)
    return [tuple(r) for r in df.itertuples(index=False, name=None)], ordered


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = build_spark(app_name="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    t_total = time.monotonic()
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t_q = time.monotonic()

        def done(ok: bool, detail: str) -> None:
            secs = time.monotonic() - t_q
            tag = "ok  " if ok else "FAIL"
            print(f"{tag} {name}: {detail} [{secs:.1f}s]")

        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            done(False, f"spark error {type(e).__name__}: {e}")
            failures += 1
            continue
        if name not in oracles:
            done(True, f"rows-only ({len(srows)} rows)")
            continue
        try:
            res = con.execute(oracles[name])
            orows = res.fetchall()
            ocols = [d[0] for d in res.description]
        except Exception as e:
            done(False, f"duckdb error {type(e).__name__}: {e}")
            failures += 1
            continue
        s_set, s_cols = rowset(scols, [tuple(r) for r in srows])
        o_set, o_cols = rowset(ocols, orows)
        if s_cols != o_cols:
            done(False, f"columns {s_cols} vs {o_cols}")
            failures += 1
        elif len(s_set) != len(o_set):
            done(False, f"rowcount {len(s_set)} vs {len(o_set)}")
            failures += 1
        elif s_set != o_set:
            diff = [
                (a, b) for a, b in zip(s_set, o_set) if a != b
            ][:3]
            done(False, f"value mismatch, first diffs: {diff}")
            failures += 1
        else:
            done(True, f"{len(s_set)} rows match")
    print(f"total gate wall: {time.monotonic() - t_total:.1f}s")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
