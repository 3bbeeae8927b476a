"""The package's session fixes: the import-time zip check (without
Spark) and where Python workers import the package from."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import bytesprocessor_spark  # noqa: F401  (installs the zip-directory check)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="CPython 3.13+ re-reads zip directories lazily")
def test_invalidate_caches_rereads_only_a_changed_zip(tmp_path, monkeypatch):
    """``importlib.invalidate_caches()`` (every Spark Python task calls
    it) leaves an unchanged archive's directory alone, and still picks
    up a rewritten archive's new module."""
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("bps_zip_a.py", "A = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p))
    try:
        import bps_zip_a

        assert bps_zip_a.A == 1
        importlib.invalidate_caches()  # a new importer: read once, then stamped
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert str(archive) not in reads

        with zipfile.ZipFile(archive, "w") as zf:
            zf.writestr("bps_zip_a.py", "A = 1\n")
            zf.writestr("bps_zip_b.py", "B = 2\n")
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 1
        import bps_zip_b

        assert bps_zip_b.B == 2
    finally:
        for name in ("bps_zip_a", "bps_zip_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


def test_workers_import_the_drivers_package(spark):
    """A Python task imports ``bytesprocessor_spark`` from the directory
    the driver imported it from, not from the JVM's working directory."""

    def where(_):
        import bytesprocessor_spark as pkg

        yield pkg.__file__

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(where).collect()
    assert got == [bytesprocessor_spark.__file__]
