"""PySpark worker daemon that cuts the fixed Python cost of every task.

    python -m pears_lite_spark.worker_daemon   # via spark.python.daemon.module

Workers fork from this daemon and inherit both changes below; then
pyspark's own daemon loop runs unchanged.

* pyspark's worker calls ``importlib.invalidate_caches()`` at the start
  of every task. Before CPython 3.12 each ``zipimporter`` then re-reads
  its archive's whole directory, and a warm worker holds one per package
  directory imported from ``pyspark.zip`` and the spark-core jar. Here
  an archive is re-read only when its (size, mtime) changed since the
  last read, so a rewritten archive is still picked up.
* A reused worker runs ``gc.collect()`` after every task, over every
  object the imports created. ``gc.freeze()`` before forking moves the
  daemon's own objects (pyspark, py4j, the stdlib) out of those passes.
"""

import gc
import importlib
import os
import sys
import zipimport

_read = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, "tuple[int, int] | None"] = {}


def _stamp(path: str) -> "tuple[int, int] | None":
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def _invalidate_caches(self) -> None:
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None \
            and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _read(self)
    _stamps[self.archive] = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 12):   # 3.12 re-reads zip directories lazily
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
        importlib.invalidate_caches()   # stamp every archive before forking
    from pyspark.daemon import manager
    gc.freeze()
    manager()
