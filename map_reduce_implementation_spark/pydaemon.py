"""Drop-in for ``pyspark.daemon`` that stops Python workers re-reading
``pyspark.zip`` on every task.

Every Python task begins in ``pyspark.worker_util.setup_spark_files``,
which ends with ``importlib.invalidate_caches()``. On Python 3.10–3.12
that makes every ``zipimporter`` re-read its archive's central directory
at once. A PySpark 4.1 worker holds 16 of them, one per imported package
directory of Spark's ``pyspark.zip`` (3.5 MB, 1,328 entries), the py4j zip
and the spark-core jar. On a 4-core host the call took 0.18–0.24 s per
task, most of a short task's wall time. Python 3.13 defers the re-read to
the next lookup, so there this module leaves the stock behaviour alone.

The guarded ``invalidate_caches`` re-reads an archive only when its
``(st_mtime_ns, st_size, st_ino)`` stamp differs from the one taken at
its last read, or when ``stat`` fails. Otherwise the importer adopts the
directory already cached for that archive. An archive rewritten in place
is still picked up at the next task, as before.

The daemon forks every worker, so whatever it imports sits in every
worker's pages: this module imports only ``os``, ``sys``, ``zipimport``
and ``pyspark.daemon``. ``session.get_spark`` selects it through
``spark.python.daemon.module`` for ``local[...]`` masters.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark import daemon

_original_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> stamp taken just before its directory was last read.
# Process-wide, like the ``zipimporter`` method it backs.
_read_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read while the
    archive is unchanged since its last read."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or files is None or _read_stamps.get(self.archive) != stamp:
        _original_invalidate_caches(self)
        _read_stamps[self.archive] = stamp
    else:
        self._files = files


def main() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        # read each archive once here, so the forked workers inherit stamps
        for finder in list(sys.path_importer_cache.values()):
            if isinstance(finder, zipimport.zipimporter):
                finder.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # run the importable module, not this ``__main__`` copy, so the
    # installed function reports ``map_reduce_implementation_spark.pydaemon``
    from map_reduce_implementation_spark.pydaemon import main as _main

    _main()
