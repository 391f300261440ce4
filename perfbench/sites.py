"""Call-site tags for Spark jobs.

While installed, every DataFrame action, reader and writer sets the local
property ``perfbench.site`` to the program call stack that triggered it
(frames of ``jobs/`` and ``paperoni_spark``, innermost first, each with the
source of the call expression).  Jobs in the event log then carry the call
site that caused them, and the benchmark groups them by layer."""

from __future__ import annotations

import functools
import importlib
import linecache
import os
import sys
from contextlib import contextmanager

_ACTIONS = {
    "pyspark.sql.classic.dataframe.DataFrame": (
        "collect", "count", "first", "head", "take", "toPandas",
        "localCheckpoint", "checkpoint", "isEmpty", "toLocalIterator",
    ),
    "pyspark.sql.readwriter.DataFrameWriter": ("parquet", "save", "saveAsTable", "insertInto"),
    "pyspark.sql.readwriter.DataFrameReader": ("parquet", "load"),
}
PROPERTY = "perfbench.site"


def _expression(frame) -> str:
    """Source text of the call expression a frame is executing."""
    path = frame.f_code.co_filename
    try:
        start, end = list(frame.f_code.co_positions())[frame.f_lasti // 2][:2]
    except (IndexError, ValueError):
        start = end = frame.f_lineno
    start = start or frame.f_lineno
    end = min(end or start, start + 5)
    return " ".join(linecache.getline(path, n).strip() for n in range(start, end + 1))


def program_stack(root: str) -> str:
    out = []
    own = os.path.join(root, "perfbench")
    f = sys._getframe(2)
    while f is not None:
        path = f.f_code.co_filename
        if path.startswith(root) and not path.startswith(own):
            rel = os.path.relpath(path, root)
            out.append(f"{rel}:{f.f_code.co_name}:{f.f_lineno}:{_expression(f)}")
        f = f.f_back
    return "\n".join(out)


@contextmanager
def tagged_jobs(root: str):
    from pyspark import SparkContext

    restore = []
    for qual, names in _ACTIONS.items():
        mod_name, cls_name = qual.rsplit(".", 1)
        cls = getattr(importlib.import_module(mod_name), cls_name)
        for name in names:
            orig = cls.__dict__.get(name)
            if orig is None:
                continue

            @functools.wraps(orig)
            def tagged(*args, __orig=orig, **kwargs):
                sc = SparkContext._active_spark_context
                if sc is None or sc.getLocalProperty(PROPERTY):
                    return __orig(*args, **kwargs)
                sc.setLocalProperty(PROPERTY, program_stack(root))
                try:
                    return __orig(*args, **kwargs)
                finally:
                    sc.setLocalProperty(PROPERTY, None)

            setattr(cls, name, tagged)
            restore.append((cls, name, orig))
    try:
        yield
    finally:
        for cls, name, orig in reversed(restore):
            setattr(cls, name, orig)
