"""``operators.extract.install_zip_guard``: a zipimporter re-reads its
archive's directory on ``importlib.invalidate_caches()`` only when the
archive changed (no Spark)."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from paperoni_spark.operators.extract import install_zip_guard

# importing the extraction module installed the guard in this process
STDLIB = getattr(
    zipimport.zipimporter.invalidate_caches,
    "__wrapped__",
    zipimport.zipimporter.invalidate_caches,
)

before_313 = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13 re-reads lazily; no guard"
)


@pytest.fixture
def stdlib_zipimport(monkeypatch):
    """The stdlib ``invalidate_caches`` for the test, whatever is
    installed before or after it."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", STDLIB)


@pytest.fixture
def fresh_modules():
    """Forget the test's zip-imported modules after it."""
    yield
    for name in ("zg_first", "zg_second"):
        sys.modules.pop(name, None)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@before_313
def test_zip_guard_rereads_only_changed_archives(
    tmp_path, monkeypatch, stdlib_zipimport, fresh_modules
):
    archive = tmp_path / "engine.zip"
    _write_zip(archive, {"zg_first": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module("zg_first").X == 1
    install_zip_guard()

    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or read_directory(path)
    )
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, {"zg_first": "X = 1\n", "zg_second": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads == [str(archive)]
    assert importlib.import_module("zg_second").Y == 2
    importlib.invalidate_caches()
    assert reads == [str(archive)]


@before_313
def test_zip_guard_installs_once(stdlib_zipimport):
    install_zip_guard()
    guard = zipimport.zipimporter.invalidate_caches
    assert guard is not STDLIB and guard.__wrapped__ is STDLIB
    install_zip_guard()
    assert zipimport.zipimporter.invalidate_caches is guard


def test_zip_guard_patches_nothing_from_313(monkeypatch, stdlib_zipimport):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    install_zip_guard()
    assert zipimport.zipimporter.invalidate_caches is STDLIB
