"""The driver contract is complete: every ``queries()`` entry has a DuckDB
oracle in ``oracle_sql()`` and vice versa.  Building both dicts runs no
Spark action, so this check is cheap."""

from __future__ import annotations

import __spark_entry__ as entry


def test_every_query_has_an_oracle():
    names = set(entry.queries())
    assert names == set(entry.oracle_sql())
    assert len(names) == 100
