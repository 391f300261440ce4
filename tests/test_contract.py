"""The driver contract is complete: every ``queries()`` entry has a DuckDB
oracle in ``oracle_sql()`` and vice versa.  Building both dicts runs no
Spark action, so this check is cheap."""

from __future__ import annotations

import __spark_entry__ as entry


def test_every_query_has_an_oracle():
    names = set(entry.queries())
    assert names == set(entry.oracle_sql())
    assert len(names) == 28


def test_coverage_reachability_table_lists_every_query():
    """COVERAGE.md's reachability table has one row per ``queries()``
    entry — no row for a retired query, none missing for a live one —
    and its "Tally:" sentence counts the table's rows by what runs them."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1]
    text = (root / "COVERAGE.md").read_text()
    header = "| query | operator entry | what runs it |"
    assert text.count(header) == 1
    rows = text.split(header, 1)[1].split("\n\n", 1)[0].splitlines()
    listed = [m.group(1) for r in rows if (m := re.match(r"\| `(\w+)` \|", r))]
    assert len(listed) == len(set(listed))
    assert set(listed) == set(entry.queries())

    runs = [r.split(" | ")[2] for r in rows if re.match(r"\| `\w+` \|", r)]
    kinds = ("job:", "`query_mix` only", "`contract.py` + tests only")
    counts = [sum(c.startswith(k) for c in runs) for k in kinds]
    assert sum(counts) == len(runs)
    tally = re.search(
        r"Tally: (\d+) queries are job-run .*?(\d+)\s+only by `query_mix`, "
        r"(\d+) only by `contract.py` and tests",
        text,
        re.S,
    )
    assert tally and [int(n) for n in tally.groups()] == counts

    # the module table names exactly the operator, streaming and pipeline
    # modules on disk (a combined row counts for each file it names)
    header = "| operator module | what runs it |"
    assert text.count(header) == 1
    rows = text.split(header, 1)[1].split("\n\n", 1)[0].splitlines()
    named = [f for r in rows for f in re.findall(r"`([a-z_/]+\.py)`", r.split(" | ")[0])]
    on_disk = [
        f.relative_to(root / "paperoni_spark").as_posix()
        for d in ("operators", "streaming", "pipeline")
        for f in (root / "paperoni_spark" / d).glob("*.py")
        if f.name != "__init__.py"
    ]
    assert sorted(named) == sorted(on_disk)


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
    # the scan must reach the modules that call fsio (an empty or
    # mis-rooted scan would pass the hits check vacuously)
    scanned = {f.relative_to(root).as_posix() for f in files}
    assert {
        "jobs/corpus_job.py",
        "jobs/events_job.py",
        "paperoni_spark/streaming/dedup.py",
        "paperoni_spark/fsio.py",
    } <= scanned
    assert hits == []
