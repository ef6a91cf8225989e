"""Spark Python-worker hook: re-read a zip archive's directory only when
the archive changes.

At the start of every task PySpark's Python worker calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``,
``setup_spark_files``). Before Python 3.13 that makes every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` eagerly re-read its
whole archive directory. A worker holds one importer per imported pyspark
subpackage (about 16), and each one re-reads ``pyspark.zip`` (1,328
entries); a ``--py-files`` zip of walk_spark adds one per walk_spark
package. Measured on 4 vCPUs (Python 3.11, PySpark 4.1): an identity pandas
UDF over 40 tasks of 100 rows used 10.8 CPU-s in the Python workers against
0.7 CPU-s for the same job as a JVM-only projection, and a cProfile of those
tasks put 97% of their time under ``invalidate_caches`` ->
``_read_directory`` (640 calls, 16 per task). Python 3.13 made the
invalidation lazy, so the hook is only installed below it.

``install_in_worker()`` runs when ``walk_spark`` is imported, so unpickling
any engine UDF installs the hook for the rest of that worker's life. On the
driver it does nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

# Python 3.13 replaced the eager re-read with a lazy cache pop
_EAGER_INVALIDATE = sys.version_info < (3, 13)

# archive path -> (mtime_ns, size, inode) observed just before its last read
_stamps: dict[str, tuple[int, int, int] | None] = {}
_original_invalidate = zipimport.zipimporter.invalidate_caches


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_if_changed(self) -> None:
    """zipimporter.invalidate_caches that reuses the cached directory while
    the archive's stat is unchanged since it was last read."""
    key = _stat_key(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _stamps.get(self.archive) == key:
        self._files = files
        return
    # stat BEFORE the read: a rewrite racing the read leaves a stale
    # stamp, which only costs one more read next time
    _original_invalidate(self)
    _stamps[self.archive] = key


def install() -> None:
    """Patch ``zipimport.zipimporter.invalidate_caches`` (idempotent)."""
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


def installed() -> bool:
    return zipimport.zipimporter.invalidate_caches is _invalidate_if_changed


def install_in_worker() -> bool:
    """Install the hook iff this is a Spark Python worker running a task on
    a Python whose zipimport invalidation is eager. Returns whether the hook
    is active afterwards."""
    if not _EAGER_INVALIDATE:
        return False
    # a worker has imported pyspark.taskcontext before it unpickles a UDF;
    # the driver may not have, and then it is not running a task either
    tc = sys.modules.get("pyspark.taskcontext")
    if tc is None or tc.TaskContext.get() is None:
        return False
    install()
    return True
