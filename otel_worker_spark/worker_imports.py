"""Per-task import-cache invalidation that does not re-read unchanged zips.

Before every task a PySpark worker runs ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython < 3.12 each cached
``zipimport.zipimporter`` answers by re-reading its archive's whole central
directory. A worker's ``sys.path`` holds ``pyspark.zip``, the py4j zip and
the spark-core jar; pyspark is imported from its zip, and every imported
subpackage path gets an importer of its own, so a warm worker holds about
16 of them. Re-reading those costs ~150 ms per task on a 4-core host,
before the task sees its first batch, and on small tasks it is most of
the Python stage. CPython 3.12 made this invalidation lazy for exactly
this pattern (gh-103200), and this module is a no-op there.

:func:`install` gives zip importers an ``invalidate_caches`` that re-reads
an archive only when its size or mtime changed since that importer last
read it (an importer created after :func:`install` reads once more).
The archives on a worker's path are Spark's install files and
``--py-files`` zips, and none of them is rewritten during a session, so
the check always passes and the re-read is skipped; a rewritten archive
is still re-read. A zip that ``SparkContext.addPyFile`` ships later lands
on the path as a new entry and gets a fresh importer of its own.

The package's ``__init__`` installs it when it is imported inside a
PySpark task, i.e. when a worker unpickles one of the package's kernels.
That task has already paid for its own invalidation; later tasks in the
same (reused) worker do not. The driver's ``zipimport`` is left as it is.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stat(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def _invalidate_if_changed(self, _reread=zipimport.zipimporter.invalidate_caches):
    # the stat is taken before the read, so a write racing it re-reads next time
    stat = _stat(self.archive)
    if stat is None or getattr(self, "_read_stat", None) != stat:
        _reread(self)
        self._read_stat = stat


def install() -> bool:
    """Patch zip importers in this process; True if it was patched.

    Only on CPython < 3.12 and only inside a PySpark task.
    """
    if sys.version_info >= (3, 12):
        return False
    if zipimport.zipimporter.invalidate_caches is _invalidate_if_changed:
        return True
    from pyspark import TaskContext

    if TaskContext.get() is None:
        return False
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder._read_stat = _stat(finder.archive)
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    return True
