"""Skip the zip-archive re-read of ``importlib.invalidate_caches()`` in
reused Spark Python workers.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task it runs (``setup_spark_files`` in ``pyspark/worker_util.py``).
On CPython 3.11 and 3.12 that makes every cached ``zipimporter`` re-read
its archive's whole central directory, once per importer. A worker that
has imported pyspark from the 3.5 MB ``pyspark.zip`` holds 14 or more of
them (one per imported sub-package), so the refresh was most of a
streaming worker call (docs/SCALE.md "Python worker per-call cost").

The guard re-reads an archive only when ``(st_ino, st_size,
st_mtime_ns)`` differs from the value recorded at its last read, so a
changed archive (a new ``--py-files`` zip under the same name) is still
picked up. CPython 3.13 made ``zipimporter.invalidate_caches`` lazy (it
only drops the cache entry), so this module can be deleted once the
supported floor is 3.13.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def install_zip_refresh_guard() -> bool:
    """Replace ``zipimport.zipimporter.invalidate_caches`` with a
    stat-guarded version; idempotent. Returns whether the guard is in
    place. Installs only inside a reused Spark Python worker (pyspark's
    daemon runs its workers with ``SPARK_REUSE_WORKER`` set; the driver
    does not have it) and only on CPython < 3.13."""
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "_stat_guarded", False):
        return True
    if sys.version_info >= (3, 13) or not os.environ.get("SPARK_REUSE_WORKER"):
        return False
    reread = cls.invalidate_caches
    # archive path -> (st_ino, st_size, st_mtime_ns) at its last directory read
    read_at: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        reread(self)
        if key is not None:
            read_at[self.archive] = key

    invalidate_caches._stat_guarded = True
    cls.invalidate_caches = invalidate_caches
    return True
