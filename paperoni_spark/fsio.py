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
segment.  These helpers go through the Hadoop FileSystem API so any
scheme the cluster mounts (file://, hdfs://, s3a://) behaves
identically.
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


def refuse_other_kind(spark: SparkSession, path: str, kind: str) -> bool:
    """Raise if ``path`` is claimed by a DIFFERENT index kind; return
    whether it already carries ``kind``'s marker.  Writes nothing — the
    check a caller runs before it may touch any root (corpus_job checks
    both its roots before either is created or deleted)."""
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
    return bool(found)


def assert_index_kind(spark: SparkSession, path: str, kind: str) -> None:
    """Refuse to touch an index root claimed by a DIFFERENT index kind.

    All round-5+ indexes share the ``wave=<id>`` layout, so the layout
    guard alone cannot stop e.g. ``write_user_state_index`` pointed at a
    simhash index: the wave=0 delete-before-overwrite would silently
    destroy the other family's committed build segment and the damage
    only surfaces as missing columns at the next probe.  Each index root therefore
    carries an empty ``_index_kind_<kind>`` marker file (underscore
    prefix, NO "=": Spark's file index keeps underscore names containing
    "=" as partition-style paths and would read the marker as data);
    :func:`write_wave_segment` and compaction verify it BEFORE deleting
    anything.  A root without a marker (pre-round-6 index, or a fresh
    path) is adopted: the marker is created here."""
    if not refuse_other_kind(spark, path, kind):
        _touch(spark, f"{path}/_index_kind_{kind}")


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


_COMPACT_MANIFEST = "_compact_manifest"
_CONSUMED_PREFIX = "_compacted_wave_"


def refuse_mid_compaction(
    spark: SparkSession, path: str, op: str = "reading"
) -> None:
    """Raise while a compaction of ``path`` is mid-commit (manifest
    present).  PROBES call this before reading an index root: in the
    crash window between the manifest write and the tmp rename, the
    folded rows may exist ONLY in the underscore-invisible
    ``_compact_tmp`` — a normal read would silently miss those waves'
    rows (pairs admitted, histograms under-counted) with no error.
    Writers get the same refusal via :func:`refuse_consumed_wave`
    (``op="appending"`` — the diagnostic names the caller's actual
    operation)."""
    if path_exists(spark, f"{path}/{_COMPACT_MANIFEST}"):
        detail = (
            "the folded rows may live only in the staged _compact_tmp, "
            "so reading now would silently return a truncated index"
            if op == "reading"
            else "an append now would interleave with the in-flight "
            "segment rewrite"
        )
        raise ValueError(
            f"{path} has a compaction mid-commit (_compact_manifest "
            f"present): {detail}.  Finish or recover the compaction "
            "with compact_index() first."
        )


def refuse_consumed_wave(spark: SparkSession, path: str, wave) -> None:
    """Refuse a wave id that a prior :func:`compact_index` run consumed,
    and any append while a compaction is mid-commit.

    The delete-before-overwrite retry contract assumes a wave id names
    the SAME rows forever; once compaction folded wave k into the merged
    segment, a late retry of wave k would land beside the merged copy
    and double every row — the one failure the per-wave layout exists to
    prevent.  Consumed ids are recorded as empty ``_compacted_wave_<id>``
    markers (one per folded wave — bounded by waves ever compacted), so
    the refusal works for integer and string wave ids alike."""
    refuse_mid_compaction(spark, path, op="appending")
    if path_exists(spark, f"{path}/{_CONSUMED_PREFIX}{wave}"):
        raise ValueError(
            f"wave={wave} of {path} is owned by a compaction (either "
            "folded into the merged segment, or the merged segment "
            "itself) — a write at that id would double or destroy "
            "compacted rows.  Appends after a compaction must use fresh "
            "wave ids; to REBUILD from scratch, delete the index root "
            "first."
        )


def _read_manifest(spark: SparkSession, path: str) -> dict | None:
    import json

    fs, _ = _fs_for(spark, path)
    mp = hadoop_path(spark, f"{path}/{_COMPACT_MANIFEST}")
    if not fs.exists(mp):
        return None
    stream = fs.open(mp)
    try:
        text = spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    return json.loads(text)


def _write_manifest(spark: SparkSession, path: str, manifest: dict) -> None:
    """Tmp-write + rename: the manifest's EXISTENCE is the commit point
    of the whole protocol, so it must appear atomically — a crash
    mid-`create` would otherwise leave truncated JSON that fails
    json.loads on every later recovery attempt while still refusing all
    appends (a permanently wedged index).  A crash before the rename
    leaves no manifest → the next run restarts the fresh path."""
    import json

    fs, _ = _fs_for(spark, path)
    tmp = hadoop_path(spark, f"{path}/{_COMPACT_MANIFEST}_staging")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(manifest), "utf-8"))
    finally:
        out.close()
    dst = hadoop_path(spark, f"{path}/{_COMPACT_MANIFEST}")
    if not fs.rename(tmp, dst):
        raise IOError(f"rename {tmp} -> {dst} failed")


def compact_index(
    spark: SparkSession,
    path: str,
    kind: str | None = None,
    transform=None,
) -> int:
    """Fold every committed ``wave=<id>`` segment of an index into ONE
    merged segment — the maintenance twin of the per-wave appends.
    Recurring waves accumulate a segment (and its file listing, its
    per-segment histogram row, its small files) each; probe cost grows
    with segment COUNT even when row count is flat.  Compaction restores
    build-time read geometry: rows are unioned (and optionally
    re-aggregated via ``transform``) into one segment.

    Caller contract: an OFFLINE maintenance op — no concurrent appends.
    Crash-safe in-place commit:

    1. merged data lands in ``_compact_tmp`` (underscore → invisible to
       every reader) — completed BEFORE any destructive step;
    2. ``_compact_manifest`` records the consumed wave names + target id
       (intent marker: appends refuse while it exists);
    3. consumed segments are deleted, tmp renamed to ``wave=<new>``,
       one ``_compacted_wave_<id>`` marker per consumed id (late retries
       of folded waves are refused forever), manifest removed.

    A crash anywhere re-runs to completion: re-invoking compact_index on
    a manifest-bearing root RESUMES step 3 exactly (the manifest is the
    source of truth for what was consumed), never re-reads partially
    deleted segments.  ``transform`` runs on the merged frame before the
    write (re-aggregation for the histogram, counts and user-state
    families).  Returns the number of segments folded (0 = nothing to
    do)."""
    fs, _ = _fs_for(spark, path)
    tmp = f"{path}/_compact_tmp"
    manifest = _read_manifest(spark, path)
    if manifest is None:
        refuse_foreign_layout(spark, path)
        if kind is not None:
            assert_index_kind(spark, path, kind)
        waves = wave_names(spark, path)
        if len(waves) <= 1:
            return 0
        int_ids = [
            int(w.split("=", 1)[1])
            for w in waves
            if w.split("=", 1)[1].lstrip("-").isdigit()
        ]
        new_id = max(int_ids, default=-1) + 1
        merged = spark.read.parquet(path).drop("wave")
        if transform is not None:
            merged = transform(merged)
        delete_path(spark, tmp)
        merged.write.mode("overwrite").parquet(tmp)
        manifest = {"new_id": new_id, "consumed": sorted(waves)}
        _write_manifest(spark, path, manifest)
    # commit (or resume a crashed commit): manifest is the ground truth
    for seg in manifest["consumed"]:
        delete_path(spark, f"{path}/{seg}")
    dst = hadoop_path(spark, f"{path}/wave={manifest['new_id']}")
    if fs.exists(hadoop_path(spark, tmp)):
        if not fs.rename(hadoop_path(spark, tmp), dst):
            raise IOError(f"rename {tmp} -> {dst} failed")
    elif not fs.exists(dst):
        raise IOError(
            f"compaction of {path} lost its staged data: neither "
            f"{tmp} nor wave={manifest['new_id']} exists"
        )
    # one marker per consumed id, PLUS the merged segment's own id: a
    # later "append" at the owner id would delete-and-replace the whole
    # compacted history under the retry contract
    owned = [seg.split("=", 1)[1] for seg in manifest["consumed"]]
    owned.append(str(manifest["new_id"]))
    for wid in owned:
        _touch(spark, f"{path}/{_CONSUMED_PREFIX}{wid}")
    delete_path(spark, f"{path}/{_COMPACT_MANIFEST}")
    return len(manifest["consumed"])


def compact_index_kind(spark: SparkSession, path: str, kind: str) -> int:
    """:func:`compact_index` with the right geometry for each index
    family.  The kind is VERIFIED against the root's ``_index_kind``
    marker before anything is read — compacting with the wrong family's
    geometry would re-aggregate (or fail to) on the wrong key."""
    from pyspark.sql import functions as F

    def _merge_user_state(df):
        # the SHARED user_state winner rule — build/probe/compaction must
        # stay in lockstep (lazy import: operators modules import fsio)
        from .operators.temporal import merge_user_state

        return merge_user_state(df)

    geometries: dict[str, dict] = {
        "simhash": {},
        "substring_hist": {
            # histogram family: re-aggregate so the merged segment holds
            # one row per shingle again (probes sum either way — this
            # restores build-time row geometry, not just file geometry)
            "transform": lambda df: df.groupBy("h").agg(
                F.sum("occ").alias("occ")
            )
        },
        "user_state": {
            # idempotent-MAX family: re-merge to one row per user again
            "transform": _merge_user_state
        },
        "time_rollup": {
            # counts family: re-aggregate to one row per bucket again
            "transform": lambda df: df.groupBy("b", "event_type").agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sum_value_micro").alias("sum_value_micro"),
            )
        },
    }
    if kind not in geometries:
        raise ValueError(
            f"no compaction geometry for index kind {kind!r} "
            f"(known: {sorted(geometries)})"
        )
    return compact_index(spark, path, kind=kind, **geometries[kind])


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

    Order: wave id, layout, kind, pinned params, consumed wave.  The
    kind is refused BEFORE any param: a foreign family's root must be
    refused before a marker could be adopted into it."""
    _assert_wave_id(wave, 0, "wave id")
    refuse_foreign_layout(spark, path)
    refuse_other_kind(spark, path, kind)
    for name, value in (params or {}).items():
        assert_index_param(spark, path, name, value)
    refuse_consumed_wave(spark, path, wave)


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
    geometry silently mismatches); a wave id a compaction consumed.
    Only then are the ``_index_kind_<kind>`` and param markers adopted
    and the segment deleted (a crashed attempt's leftovers) and
    rewritten."""
    spark = df.sparkSession
    check_wave_segment(spark, path, wave, kind, params)
    _touch(spark, f"{path}/_index_kind_{kind}")
    for name, value in (params or {}).items():
        _touch(spark, f"{path}/_param_{name}_{value}")
    seg = f"{path}/wave={wave}"
    delete_path(spark, seg)
    df.write.mode("overwrite").parquet(seg)
