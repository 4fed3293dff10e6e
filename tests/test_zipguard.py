"""The zip-directory guard (engine/_zipguard.py): ``importlib.invalidate_caches()``
re-reads a zip archive's directory only when the archive changed, in the
driver and in every reused Python worker."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from engine import _zipguard

GUARDED = sys.version_info[:2] in _zipguard._PATCHED_VERSIONS


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


def _count_reads(monkeypatch):
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.fixture
def zipped_pkg(tmp_path):
    """A zip holding package ``zgpkg`` and sub-package ``zgpkg.sub``, on
    ``sys.path`` and imported through, so the archive has three importers
    (the archive root, ``zgpkg/`` and ``zgpkg/sub/``)."""
    archive = str(tmp_path / "zgpkg.zip")
    modules = {"zgpkg/__init__.py": "",
               "zgpkg/sub/__init__.py": "",
               "zgpkg/sub/mod.py": "VALUE = 1\n"}
    _write_zip(archive, modules)
    sys.path.insert(0, archive)
    try:
        import zgpkg.sub.mod  # noqa: F401
        importers = [f for p, f in sys.path_importer_cache.items()
                     if p.startswith(archive)
                     and isinstance(f, zipimport.zipimporter)]
        assert len(importers) >= 2
        yield archive, modules
    finally:
        sys.path.remove(archive)
        for name in [m for m in sys.modules if m.split(".")[0] == "zgpkg"]:
            del sys.modules[name]
        for p in [p for p in sys.path_importer_cache if p.startswith(archive)]:
            del sys.path_importer_cache[p]
        zipimport._zip_directory_cache.pop(archive, None)
        _zipguard._stamps.pop(archive, None)


@pytest.mark.skipif(not GUARDED, reason="guard patches CPython 3.10-3.12 only")
def test_unchanged_archive_is_not_reread(zipped_pkg, monkeypatch):
    archive, _ = zipped_pkg
    # the first invalidation stamps the archive (it was read before any
    # stamp existed); the stdlib re-reads it once per importer every time
    importlib.invalidate_caches()
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert [a for a in reads if a == archive] == []


@pytest.mark.skipif(not GUARDED, reason="guard patches CPython 3.10-3.12 only")
def test_rewritten_archive_is_reread_once(zipped_pkg, monkeypatch):
    archive, modules = zipped_pkg
    importlib.invalidate_caches()
    _write_zip(archive, {**modules, "zgpkg/sub/new.py": "VALUE = 2\n"})
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert [a for a in reads if a == archive] == [archive]
    assert importlib.import_module("zgpkg.sub.new").VALUE == 2


@pytest.mark.skipif(not GUARDED, reason="guard patches CPython 3.10-3.12 only")
def test_install_is_idempotent():
    guarded = zipimport.zipimporter.invalidate_caches
    assert _zipguard.install() is True
    assert zipimport.zipimporter.invalidate_caches is guarded
    assert not getattr(guarded.__wrapped__, "_zipguard", False)


@pytest.mark.parametrize("version", [(3, 9, 18, "final", 0),
                                     (3, 13, 0, "final", 0)])
def test_other_versions_keep_stdlib_method(monkeypatch, version):
    current = zipimport.zipimporter.invalidate_caches
    stdlib = getattr(current, "__wrapped__", current)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(sys, "version_info", version)
    assert _zipguard.install() is False
    assert zipimport.zipimporter.invalidate_caches is stdlib


@pytest.mark.skipif(not GUARDED, reason="guard patches CPython 3.10-3.12 only")
def test_workers_skip_unchanged_zip_reads(spark):
    """Every task of a reused Python worker: once ``engine`` is imported,
    ``importlib.invalidate_caches()`` reads no zip directory, while
    ``pyspark.zip`` stays on the worker's ``sys.path``."""
    import pyarrow as pa

    def probe(batches):
        import engine  # noqa: F401

        reads = []
        real = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "reads": [len(reads)],
            "pyspark_zip": [any(os.path.basename(p) == "pyspark.zip"
                                for p in sys.path)],
        })

    rows = (spark.range(0, 64, numPartitions=8)
            .mapInArrow(probe, "reads long, pyspark_zip boolean")
            .collect())
    assert len(rows) == 8
    assert [r.reads for r in rows] == [0] * 8
    assert all(r.pyspark_zip for r in rows)
