"""Hadoop-FS helpers: the ONE module that touches the Hadoop FileSystem
(tests/test_contract.py::test_hadoop_fs_only_in_fsio) — jobs and operators
probe, list and delete paths only through these functions.

Every persisted index in this repo (the four index families —
``simhash`` and ``substring_hist`` written by corpus_job, ``user_state``
and ``time_rollup`` by events_job — and the streamed SimHash loop)
follows ONE durability rule: a writer owns exactly one ``wave=<id>``
segment and replays it with delete-before-overwrite, so an
at-least-once retry is idempotent and committed segments are never
touched.  :func:`write_wave_segment` is the only code that writes a
segment; nothing merges or rewrites committed segments, so a probe
reads every ``wave=<id>`` segment of its root.  These helpers go
through the Hadoop FileSystem API so any scheme the cluster mounts
(file://, hdfs://, s3a://) behaves identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def hadoop_path(spark: SparkSession, path: str):
    return spark._jvm.org.apache.hadoop.fs.Path(path)


def _fs_for(spark: SparkSession, path: str):
    p = hadoop_path(spark, path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _entry_names(spark: SparkSession, path: str) -> list[str]:
    """The names of the entries directly under ``path`` (empty if absent)."""
    fs, root = _fs_for(spark, path)
    if not fs.exists(root):
        return []
    return [st.getPath().getName() for st in fs.listStatus(root)]


def _touch(spark: SparkSession, path: str) -> None:
    fs, p = _fs_for(spark, path)
    fs.create(p, True).close()


def path_exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_for(spark, path)
    return bool(fs.exists(p))


def glob_matches(spark: SparkSession, pattern: str) -> bool:
    """True if ``pattern`` (a path or a Hadoop glob) matches anything.
    globStatus, not exists: ``spark.read.parquet`` resolves globs, and
    exists() would treat a glob as a missing literal path."""
    fs, p = _fs_for(spark, pattern)
    matches = fs.globStatus(p)
    return matches is not None and len(matches) > 0


def delete_path(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path`` if it exists (no-op otherwise)."""
    fs, p = _fs_for(spark, path)
    if fs.exists(p):
        fs.delete(p, True)


def wave_names(spark: SparkSession, path: str) -> list[str]:
    """The ``wave=<id>`` entry names under ``path`` (empty if absent)."""
    return [nm for nm in _entry_names(spark, path) if nm.startswith("wave=")]


def refuse_flat_layout(spark: SparkSession, path: str) -> None:
    """Raise if ``path`` holds root-level ``part-`` files (the flat layout
    of a pre-run_id-partitioned output): appending partition directories
    next to them passes the write but fails every later read with Spark's
    conflicting-directory-structures error — fail FIRST with a migration
    message."""
    if any(nm.startswith("part-") for nm in _entry_names(spark, path)):
        raise ValueError(
            f"{path} holds a flat (pre-run_id-partitioned) "
            "layout; appending partitioned output would corrupt it. "
            "Migrate: read the old dir and rewrite it with "
            "partitionBy('run_id'), or point --output elsewhere."
        )


def refuse_foreign_layout(spark: SparkSession, path: str) -> None:
    """Raise if ``path`` exists and carries entries that are neither
    ``wave=<id>`` segments nor underscore/dot side files: writing a wave
    segment next to bare part files (a legacy flat index, an arbitrary
    data directory) creates the mixed layout Spark's partition discovery
    rejects at the NEXT probe — fail at the write, not after the index
    is polluted."""
    foreign = [
        nm
        for nm in _entry_names(spark, path)
        if not nm.startswith(("wave=", "_", "."))
    ]
    if foreign:
        raise ValueError(
            f"{path} is not a wave-segmented index (found {foreign[:3]}): "
            "writing wave=<id> next to flat files would break partition "
            "discovery at the next read.  Rebuild the index with its "
            "write_* function, or point at a fresh path."
        )


def refuse_other_kind(spark: SparkSession, path: str, kind: str) -> None:
    """Raise if ``path`` is claimed by a DIFFERENT index kind.  Writes
    nothing — the check a caller runs before it may touch any root
    (corpus_job checks both its roots before either is created or
    deleted).

    All indexes share the ``wave=<id>`` layout, so the layout guard
    alone cannot stop e.g. ``write_user_state_index`` pointed at a
    simhash index: the wave=0 delete-before-overwrite would silently
    destroy the other family's committed build segment and the damage
    only surfaces as missing columns at the next probe.  Each index
    root therefore carries an empty ``_index_kind_<kind>`` marker file
    (underscore prefix, NO "=": Spark's file index keeps underscore
    names containing "=" as partition-style paths and would read the
    marker as data), which :func:`write_wave_segment` adopts after every
    refusal has passed (a root without a marker — a fresh path — is
    adopted by the first write)."""
    prefix = "_index_kind_"
    found = [
        nm[len(prefix):]
        for nm in _entry_names(spark, path)
        if nm.startswith(prefix)
    ]
    if found and kind not in found:
        raise ValueError(
            f"{path} is a {found[0]!r} index — refusing to write "
            f"{kind!r} segments into it (the wave=0 overwrite would "
            "destroy the other index's committed build).  Point at a "
            "fresh path or the matching index root."
        )


def assert_index_param(spark: SparkSession, path: str, name: str, value) -> None:
    """Refuse a GEOMETRY parameter that differs from the one pinned to
    the root by an empty ``_param_<name>_<value>`` marker (same
    convention as the kind marker): an index probed or appended with a
    different value would silently desynchronize — e.g. a substring
    histogram built with 8-token shingles probed at n=50 matches nothing
    and every cross-wave duplicate survives.  Reads only: probes call
    it, and :func:`write_wave_segment` adopts the marker of a
    marker-less root after every refusal has passed."""
    prefix = f"_param_{name}_"
    found = [
        nm[len(prefix):]
        for nm in _entry_names(spark, path)
        if nm.startswith(prefix)
    ]
    if found and str(value) not in found:
        raise ValueError(
            f"{path} was built with {name}={found[0]} — refusing to "
            f"use it with {name}={value} (digests/geometry would "
            "silently mismatch).  Rebuild the index or pass the "
            "matching value."
        )


def _assert_wave_id(wave, first: int, what: str) -> None:
    """Refuse an empty wave id, or a numeric one below ``first``, in both
    int and string spelling.  Non-numeric string ids are allowed
    (corpus_job uses run-derived names); numeric strings obey the same
    rule as ints so ``"-1"`` cannot sneak past the string branch and
    write a layout-violating ``wave=-1`` segment."""
    s = str(wave)
    if not s:
        raise ValueError(f"{what} must not be empty")
    try:
        n = int(s)
    except ValueError:
        return  # non-numeric string id: allowed
    if n < first:
        qualifier = "the build's 0 (or negative)" if first else "negative"
        raise ValueError(f"{what} must not be {qualifier}: {wave}")


def assert_append_wave(wave) -> None:
    """Validate an APPEND wave id: never the build's 0, never negative,
    never empty.  ``corpus_job`` (whenever it keeps an index) and
    ``events_job --append`` run it on their wave id before anything is
    written; the index writers themselves take wave 0 as their build."""
    _assert_wave_id(wave, 1, "append wave id")


def check_wave_segment(
    spark: SparkSession,
    path: str,
    wave,
    kind: str,
    params: dict | None = None,
) -> None:
    """Every refusal :func:`write_wave_segment` makes, writing nothing —
    for callers that must refuse BEFORE they touch the root themselves
    (the streamed SimHash loop checks before its own-segment delete).

    Order: wave id, layout, kind, pinned params.  The kind is refused
    BEFORE any param: a foreign family's root must be refused before a
    marker could be adopted into it."""
    _assert_wave_id(wave, 0, "wave id")
    refuse_foreign_layout(spark, path)
    refuse_other_kind(spark, path, kind)
    for name, value in (params or {}).items():
        assert_index_param(spark, path, name, value)


def write_wave_segment(
    df: DataFrame,
    path: str,
    wave,
    kind: str,
    params: dict | None = None,
) -> None:
    """Write ``df`` as ``path/wave=<wave>`` — THE writer of every index
    segment in the repo.  ``wave`` 0 is the build; any other id (an int
    ≥ 1 or a non-numeric string) is an append.  Caller contract:
    ``wave`` is stable across retries of the same wave and unique across
    waves — a retry replays its segment, a fresh id for the same rows
    double-appends.

    Every read-only refusal (:func:`check_wave_segment`) runs before
    anything is created or deleted: an empty or negative wave id; a
    root carrying non-wave entries (a legacy flat index or an arbitrary
    data directory — a wave segment beside bare part files is the mixed
    layout Spark's partition discovery rejects at the NEXT probe);
    another index family's root (all families share this layout, so
    one family's wave=0 build would destroy another's); a pinned
    ``params`` value that differs from the root's (``_param_<name>_
    <value>`` markers: an index probed or appended at a different
    geometry silently mismatches).  Only then are the
    ``_index_kind_<kind>`` and param markers adopted and the segment
    deleted (a crashed attempt's leftovers) and rewritten."""
    spark = df.sparkSession
    check_wave_segment(spark, path, wave, kind, params)
    _touch(spark, f"{path}/_index_kind_{kind}")
    for name, value in (params or {}).items():
        _touch(spark, f"{path}/_param_{name}_{value}")
    seg = f"{path}/wave={wave}"
    delete_path(spark, seg)
    df.write.mode("overwrite").parquet(seg)
