"""Stat-guarded zip import cache for PySpark Python workers.

Every Python task runs ``importlib.invalidate_caches()`` (pyspark
``worker_util.setup_spark_files``), which calls ``invalidate_caches`` on
each finder in ``sys.path_importer_cache``. Workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip``, which leaves one ``zipimporter``
per imported package directory in that cache (16 in a pandas-UDF worker of
Spark 4.1, py4j's zip and the spark-core jar included), and on CPython
< 3.13 each of them re-reads its archive's whole central directory on that
call — 0.1-0.25 s of CPU per task, mostly pyspark's ~1,300 entries.
CPython 3.13 made the re-read lazy.

``install_if_worker`` replaces ``zipimporter.invalidate_caches`` with a
version that re-reads only when the archive's ``(st_mtime_ns, st_size,
st_ino)`` changed since that importer last read it, so a rewritten archive
(a re-shipped ``--py-files`` zip, say) is still picked up. Installing reads
each cached zip importer once to record its key, so a worker pays one
re-read per importer when the kernels first load in it, and none per task
after. It acts only inside a PySpark Python worker on CPython < 3.13;
elsewhere nothing changes.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _archive_key(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read while the
    archive is unchanged. The stat is taken before the read: a rewrite in
    between leaves a stale key, so the next call reads again."""
    key = _archive_key(self.archive)
    if key is not None and getattr(self, "_read_key", None) == key:
        return
    _reread(self)
    self._read_key = key


def in_pyspark_worker() -> bool:
    """True inside a PySpark Python worker: its task set-up marks
    ``SparkFiles`` before any UDF is unpickled. Looked up in
    ``sys.modules`` so the driver and plain Python never import pyspark
    here."""
    files = sys.modules.get("pyspark.core.files")
    return bool(getattr(getattr(files, "SparkFiles", None), "_is_running_on_worker", False))


def install_if_worker() -> bool:
    """Install the guard when running in a PySpark worker on CPython
    < 3.13, and key the zip importers already cached (a worker runs about
    one Python task per query stage, so keying them lazily, on the next
    task, would leave that task the full re-read); returns whether the
    guard is installed."""
    guarded = zipimport.zipimporter.invalidate_caches is _invalidate_if_changed
    if not guarded and sys.version_info[:2] < (3, 13) and in_pyspark_worker():
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
        for finder in list(sys.path_importer_cache.values()):
            if isinstance(finder, zipimport.zipimporter):
                _invalidate_if_changed(finder)
        guarded = True
    return guarded
