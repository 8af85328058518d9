"""Python worker daemon for local sessions: ``pyspark.daemon`` with a
stat-checked ``zipimport.zipimporter.invalidate_caches``.

Every Python task runs ``pyspark.worker_util.setup_spark_files``, which ends
in ``importlib.invalidate_caches()``. On CPython 3.11 that makes every cached
``zipimporter`` re-read its archive's whole central directory in pure
Python: on Spark 4.1.2 a worker holds twelve importers on ``pyspark.zip``
(1,328 entries, ~3 ms each), two on the py4j zip and two on the spark-core
jar (5,359 entries, 12-15 ms each), 55-100 ms before a task sees its first
row. Neither archive changes while a session runs, so ``invalidate_caches``
here re-reads an archive only when its ``(st_mtime_ns, st_size)`` differs from
the stamp this importer took at its last read. A rewritten archive is
re-read exactly as before. An importer with no stamp yet reads as the stock
method does, so each worker process re-reads its importers once, on its
first task (workers are reused across tasks). Stamping them once in the
daemon instead would spare that read but grew the daemon's RSS by ~10 MB.

Run as ``python -m puddsketch_spark.spark.pydaemon`` (``get_spark`` sets
``spark.python.daemon.module`` to it for local masters). Workers are forked
from the daemon and inherit the patch. The module imports only the standard
library and pyspark, so the daemon stays as small as the stock one.
"""

from __future__ import annotations

import os
import zipimport

_read_archive = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """Re-read this importer's archive unless it is unchanged since the
    importer last read it. The stamp is taken before the read, so a write
    racing the read is caught by the next call. It is kept per importer:
    each instance holds its own directory (``_files``)."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _read_archive(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    daemon.manager()
