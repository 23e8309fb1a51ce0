"""Lazy zipimport cache invalidation, backported from CPython 3.13.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every Python task (``pyspark/worker_util.py``, ``setup_spark_files``) so
that a zip added with ``SparkContext.addPyFile`` becomes importable.
Before 3.13, each ``zipimport.zipimporter`` answers that call by
re-reading its archive's whole central directory in pure Python.  A
worker holds one zipimporter per package it imported from
``pyspark.zip`` (1,328 entries), and more for an engine zip shipped
with ``--py-files``: 16 re-reads per task in a test worker.  A one-row
task took ~205 ms instead of ~63 ms (``local[1]``, 4-vCPU host).

CPython 3.13 made the call lazy: ``invalidate_caches`` only drops the
archive's entry from ``zipimport._zip_directory_cache``, and the next
lookup re-reads the directory once for all importers of that archive.
``install`` gives older interpreters the same methods, and a cache that
reads on a miss for the code that indexes it directly.  Importing
``xponents_spark`` installs it, and unpickling any engine UDF imports
``xponents_spark``, so in a worker every task after its first skips the
re-reads.  Nothing else changes: ``sys.path`` and the modules that
workers import stay as Spark set them.
"""

from __future__ import annotations

import sys
import zipimport


def install() -> bool:
    """Make ``zipimporter.invalidate_caches`` lazy, as in CPython 3.13.

    Returns True when this call patched ``zipimport``.  It is a no-op,
    returning False, when ``zipimporter`` already has ``_get_files``: on
    3.13+ and after an earlier call.
    """
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files"):
        return False
    zipimport._zip_directory_cache = _DirectoryCache(
        zipimport._zip_directory_cache)
    # A data descriptor wins over the instance dict, so existing
    # importers read through the cache too; drop the directory copy each
    # one stored, which nothing reads any more.
    cls._files = property(_get_files, _set_files)
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            vars(finder).pop("_files", None)
    cls.invalidate_caches = _invalidate_caches
    cls._get_files = _get_files
    return True


class _DirectoryCache(dict):
    """``zipimport._zip_directory_cache`` that reads an archive's directory
    on a miss.  Besides ``zipimporter._files``, ``pkgutil.iter_modules``
    indexes the cache directly, so it must not miss after an
    invalidation either."""

    def __missing__(self, archive):
        try:
            files = zipimport._read_directory(archive)
        except zipimport.ZipImportError:
            raise KeyError(archive) from None
        self[archive] = files
        return files


def _get_files(self):
    """Return the files within the archive path."""
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:        # unreadable or gone: nothing to import
        return {}


def _set_files(self, files):
    # Only ``zipimporter.__init__`` assigns ``_files``, right after it
    # stored the same dict in the cache (and before it sets ``archive``).
    pass


def _invalidate_caches(self):
    """Invalidates the cache of file data of the archive path."""
    zipimport._zip_directory_cache.pop(self.archive, None)
