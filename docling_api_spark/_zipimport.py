"""Lazy zip-directory cache for Python < 3.13 (a backport of CPython 3.13's).

Every PySpark task starts with ``worker_util.setup_spark_files``, which
calls ``importlib.invalidate_caches()``. Before 3.13 that makes each
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's whole
central directory at once: about a dozen importers over ``pyspark.zip``,
plus py4j and the spark-core jar, all before the task touches a row (an
empty 16-task ``mapInPandas`` job at ``local[4]`` on a 4-vCPU VM: about
2 s with the re-reads, 0.7 s without). CPython 3.13 made the directory lazy:
importers read it through the shared ``zipimport._zip_directory_cache``,
``invalidate_caches()`` only drops that entry, and the archive is re-read
once, on the next lookup that needs it.

``install()`` swaps that behaviour into the running interpreter: the
``sys.path_hooks`` entry and the zip entries already in
``sys.path_importer_cache``. It is idempotent, and a no-op on 3.13+,
whose own ``zipimporter`` already behaves this way.
"""

from __future__ import annotations

import sys
import zipimport


class LazyZipImporter(zipimport.zipimporter):
    """``zipimporter`` whose file directory lives only in the shared cache."""

    @property
    def _files(self):
        cache = zipimport._zip_directory_cache
        try:
            return cache[self.archive]
        except KeyError:
            try:
                files = cache[self.archive] = \
                    zipimport._read_directory(self.archive)
            except zipimport.ZipImportError:  # archive gone or unreadable
                files = {}
            return files

    @_files.setter
    def _files(self, files):
        # the base __init__ stores the directory it has just put in the
        # shared cache; reads go through the cache instead
        pass

    def invalidate_caches(self):
        zipimport._zip_directory_cache.pop(self.archive, None)


def install() -> None:
    """Use ``LazyZipImporter`` for every zip path entry, old and new."""
    if sys.version_info >= (3, 13):
        return
    hooks = sys.path_hooks
    for i, hook in enumerate(hooks):
        if hook is zipimport.zipimporter:
            hooks[i] = LazyZipImporter
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if type(finder) is zipimport.zipimporter:
            try:
                cache[path] = LazyZipImporter(path)
            except zipimport.ZipImportError:  # archive gone since cached
                pass
