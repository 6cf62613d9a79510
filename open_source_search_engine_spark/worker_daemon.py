"""Spark Python worker daemon with a stat-checked zip import cache.

Every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython <= 3.12 that makes every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
whole archive directory, even on a reused worker whose archives have not
changed: a worker holds a dozen importers over ``pyspark.zip``, two over
the py4j zip and two over the spark-core jar, and re-reading them cost
110-200 ms per task on a 4-core host (0.1 ms for the same call in a
plain process). CPython 3.13 made this invalidation lazy upstream.

``install()`` makes ``zipimporter.invalidate_caches`` re-read an archive
only when its ``(st_mtime_ns, st_size, st_ino)`` differs from the last
read, so an archive rewritten in place (a re-added py-file) is still
re-read. Directory finders and new ``sys.path`` entries are untouched.

``session.get_spark`` names this module as ``spark.python.daemon.module``;
run as ``__main__`` it installs the patch and then runs
``pyspark.daemon``, so every worker the daemon forks inherits it.
"""

from __future__ import annotations

import os
import runpy
import zipimport

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> stat stamp at its last directory read; process-wide
# and keyed like zipimport._zip_directory_cache, which it guards
_stamps: dict[str, tuple[int, int, int]] = {}


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        _stamps.pop(self.archive, None)
        _stdlib_invalidate_caches(self)
        return
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stdlib_invalidate_caches(self)
    _stamps[self.archive] = stamp


def install() -> None:
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    # Started as `python -m`, this file is `__main__`; install the copy
    # imported under the package name so the patch reports that module.
    from open_source_search_engine_spark import worker_daemon

    worker_daemon.install()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
