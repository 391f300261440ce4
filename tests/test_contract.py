"""The driver contract is complete: every ``queries()`` entry has a DuckDB
oracle in ``oracle_sql()`` and vice versa.  Building both dicts runs no
Spark action, so this check is cheap."""

from __future__ import annotations

import __spark_entry__ as entry


def test_every_query_has_an_oracle():
    names = set(entry.queries())
    assert names == set(entry.oracle_sql())
    assert len(names) == 94


def test_hadoop_fs_only_in_fsio():
    """``paperoni_spark/fsio.py`` is the one module that reaches the
    Hadoop FileSystem through py4j; every job and operator goes through
    its helpers, so the index-root rules live in one place."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1]
    api = re.compile(r"hadoop\.fs\.Path|getFileSystem|listStatus|globStatus")
    files = [*(root / "paperoni_spark").rglob("*.py"), *(root / "jobs").glob("*.py")]
    hits = [
        f"{f.relative_to(root)}:{n}"
        for f in files
        if f.name != "fsio.py"
        for n, line in enumerate(f.read_text().splitlines(), 1)
        if api.search(line)
    ]
    assert len(files) > 40
    assert hits == []
