"""The engine's Python worker daemon: PySpark's own, minus a per-task
re-read of every zip archive on the worker path.

Every Python-UDF task starts with ``importlib.invalidate_caches()``
(PySpark's ``setup_spark_files``). Before Python 3.13,
``zipimporter.invalidate_caches`` re-reads the archive's whole directory,
and a warm worker holds 16 zip importers (``pyspark.zip``, the spark-core
jar, the py4j zip): 26,672 entries parsed per task, 125-205 ms before the
UDF sees its first row. Here an archive is re-read only when its
``os.stat`` (mtime, size, inode) changed since it was last read, so a
changed archive still serves its new contents. ``session.get_spark`` names
this module in ``spark.python.daemon.module``.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def _stat(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read only a changed
    archive (no-op from Python 3.13, whose version drops a cache entry)."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches
    read_stat: dict[str, tuple[int, int, int] | None] = {}  # archive -> stat at its read

    def invalidate_caches(self) -> None:
        st = _stat(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if st is not None and files is not None and read_stat.get(self.archive) == st:
            self._files = files  # another importer of this archive re-read it
            return
        reread(self)
        read_stat[self.archive] = st

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark import daemon

    importlib.invalidate_caches()  # read each archive once, before the forks
    daemon.manager()
