"""Ship the shmr_spark package to Spark Python workers.

Arrow/RDD operators (mapInPandas decode, compat records tier) pickle
closures that reference shmr_spark module functions BY REFERENCE —
every Python worker must be able to ``import shmr_spark``. When the
driver process wasn't launched from the repo (arbitrary cwd, no
PYTHONPATH), workers crash with ModuleNotFoundError. The canonical
fix is ``sc.addPyFile`` with a zip of the package: Spark distributes
it and prepends it to every worker's sys.path — works identically on
local mode and a 1000-executor cluster.

Called lazily by the driver-contract entry points and the CLI; no-op
after the first call per SparkContext.

The same module keeps those workers from paying for their own
``sys.path``: ``install_zip_rescan_guard`` (run when a worker imports
the package) makes zip archives re-read only when they changed.
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
import zipimport

from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_FLAG = "_shmr_spark_pkg_shipped"


def ensure_package_shipped(spark: SparkSession) -> None:
    sc = spark.sparkContext
    if getattr(sc, _FLAG, False):
        return
    zpath = os.path.join(
        tempfile.gettempdir(), f"shmr_spark_pkg_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(_PKG_DIR):
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                arc = os.path.join(
                    "shmr_spark", os.path.relpath(full, _PKG_DIR)
                )
                z.write(full, arc)
    sc.addPyFile(zpath)
    setattr(sc, _FLAG, True)


_REREAD = zipimport.zipimporter.invalidate_caches
# archive path -> (stat signature, directory read at that signature)
_ZIP_READS: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive
    directory only when the archive's stat signature differs from the
    one taken just before its last read (the change test ``FileFinder``
    applies to directories). Importers over the same archive share
    that read."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _ZIP_READS.pop(self.archive, None)
        _REREAD(self)  # drops the directory of a vanished archive
        return
    sig = (st.st_mtime_ns, st.st_size, st.st_ino)
    seen = _ZIP_READS.get(self.archive)
    if seen is not None and seen[0] == sig:
        self._files = seen[1]
        return
    _REREAD(self)
    _ZIP_READS[self.archive] = (sig, self._files)


def install_zip_rescan_guard() -> bool:
    """Stop a PySpark worker from re-reading every zip on its path per
    task. Returns whether the guard is in place.

    Every worker invocation (task or data-source planner call) runs
    pyspark's ``setup_spark_files``, which ends in
    ``importlib.invalidate_caches()``. On CPython before 3.13 that makes
    every ``zipimporter`` re-read its whole archive directory
    (``pyspark.zip``, the spark-core jar, the py4j zip, the shipped
    package), a fixed CPU cost per invocation that a reused worker pays
    again on each one. With the guard, a zip is re-read only when
    ``os.stat`` shows a different ``(st_mtime_ns, st_size, st_ino)``
    than just before its last read, or when ``stat`` fails.

    Invariant: an importer's directory is one read at the archive's
    current signature, so an archive rewritten or replaced between
    invocations is re-read as before. Scope: only a process that
    ``setup_spark_files`` marked as a worker (``SparkFiles.
    _is_running_on_worker``) on CPython < 3.13, where the stdlib
    re-reads eagerly; the driver is never patched. Installing reads
    each zip on the path once, so the signatures start from a read
    made under the guard. Idempotent."""
    if sys.implementation.name != "cpython" or sys.version_info >= (3, 13):
        return False
    try:
        from pyspark.core.files import SparkFiles
    except ImportError:  # a Spark Connect client has no workers
        return False
    if not SparkFiles._is_running_on_worker:
        return False
    if zipimport.zipimporter.invalidate_caches is not _invalidate_if_changed:
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
        for finder in list(sys.path_importer_cache.values()):
            if isinstance(finder, zipimport.zipimporter):
                finder.invalidate_caches()
    return True
