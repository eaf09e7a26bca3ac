"""Lazy zipimport invalidation (zipcache.py): importlib.invalidate_caches()
reads no archive directory until an import needs one, a rewritten archive
is still seen after an invalidation, and a lazy interpreter is left as it
is.  The Spark test checks the same inside a real Python worker, which
imports pyspark and py4j from zip archives and invalidates before every
task."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest
from pyspark.sql.functions import arrow_udf

from dataworks_aws_corporate_data_ingestion_spark import zipcache
from dataworks_aws_corporate_data_ingestion_spark.functions import record


def _counting_reads(monkeypatch):
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(name, source)


@pytest.fixture
def zipped_pkg(tmp_path, monkeypatch):
    """A zip on sys.path holding package `zc_pkg` with two modules, both
    imported, so the archive has two importers (the root and zc_pkg/)."""
    archive = str(tmp_path / "zc.zip")
    _write_zip(
        archive,
        {"zc_pkg/__init__.py": "", "zc_pkg/a.py": "X = 1\n", "zc_top.py": ""},
    )
    monkeypatch.syspath_prepend(archive)
    import zc_pkg.a  # noqa: F401
    import zc_top  # noqa: F401

    yield archive
    for name in [m for m in sys.modules if m.startswith(("zc_pkg", "zc_top"))]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)


def _importers(archive):
    return [
        f
        for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]


def test_repeated_invalidation_reads_no_directory(zipped_pkg, monkeypatch):
    assert len(_importers(zipped_pkg)) == 2
    calls = _counting_reads(monkeypatch)
    for _ in range(3):
        importlib.invalidate_caches()
    assert calls == []


def test_rewritten_archive_found_after_invalidation(zipped_pkg, monkeypatch):
    importlib.invalidate_caches()
    _write_zip(
        zipped_pkg,
        {
            "zc_pkg/__init__.py": "",
            "zc_pkg/a.py": "X = 1\n",
            "zc_pkg/b.py": "Y = 2\n",
            "zc_top.py": "",
        },
    )
    calls = _counting_reads(monkeypatch)
    importlib.invalidate_caches()
    from zc_pkg import b

    assert b.Y == 2
    # one read serves every importer of the archive
    assert calls == [zipped_pkg]


def test_lazy_interpreter_left_untouched(monkeypatch):
    class Lazy:
        def _get_files(self):
            return {}

        def invalidate_caches(self):
            pass

    before = dict(vars(Lazy))
    monkeypatch.setattr(zipimport, "zipimporter", Lazy)
    zipcache.install()
    assert dict(vars(Lazy)) == before


def test_worker_invalidation_reads_no_directory(spark):
    """Inside a worker that has run an engine UDF, three invalidations
    read no directory.  Eager invalidation reads one per importer each
    time (16 x 3 on PySpark 4.1)."""

    @arrow_udf("array<long>")
    def probe(v: pa.Array) -> pa.Array:
        record.__name__  # unpickling this UDF imports the engine package
        importers = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        calls = [0]
        real = zipimport._read_directory

        def counting(archive):
            calls[0] += 1
            return real(archive)

        zipimport._read_directory = counting
        try:
            for _ in range(3):
                importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        return pa.array([[calls[0], importers]] * len(v))

    (reads, importers) = spark.range(1).select(probe("id")).first()[0]
    assert importers > 0  # the worker does import from zip archives
    assert reads == 0
