"""Lazy zipimport cache invalidation, backported from CPython 3.13.

PySpark's Python worker calls importlib.invalidate_caches() at the start
of every task (pyspark/worker_util.py::setup_spark_files).  Before 3.13,
zipimporter.invalidate_caches re-reads its archive's central directory on
the spot, once per importer.  A worker imports pyspark and py4j from
$SPARK_HOME/python/lib/*.zip and holds one importer per package directory
it imported from (16 on PySpark 4.1; pyspark.zip has 1,328 entries), so
every task paid ~0.2 CPU-s of directory reads before its first row.

3.13 made it lazy: invalidate_caches only drops the archive from
zipimport._zip_directory_cache, and the next lookup re-reads it, once for
all importers of that archive.  install() does the same on an interpreter
whose zipimporter has no _get_files (3.12.1 is still eager): `_files`
becomes a property over the shared cache, and invalidate_caches pops it.
On a lazy interpreter install() changes nothing.

The package's __init__ calls install(), so a worker has it from the first
engine UDF it unpickles.  That happens after setup_spark_files, so each
worker's first task still pays one eager pass.  As on 3.13,
pkgutil.iter_modules over an archive whose directory was dropped and not
yet re-read raises KeyError.
"""

from __future__ import annotations

import zipimport


def _files(self):
    """The archive's directory from the shared cache, read on a miss
    (3.13's zipimporter._get_files)."""
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        try:
            files = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            return {}
        zipimport._zip_directory_cache[self.archive] = files
        return files


def _set_files(self, files):
    # zipimporter.__init__ assigns the directory it has just cached under
    # the archive path, before self.archive exists: nothing to keep
    pass


def _invalidate_caches(self):
    """Drop the archive's directory; the next lookup re-reads it."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def install() -> None:
    """Make zipimport's invalidation lazy, unless it already is."""
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files"):
        return
    cls._files = property(_files, _set_files)
    cls.invalidate_caches = _invalidate_caches
