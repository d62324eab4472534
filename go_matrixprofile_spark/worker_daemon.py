"""Python worker daemon for local sessions (``spark.python.daemon.module``).

Spark starts its Python workers with ``$SPARK_HOME/python/lib/pyspark.zip``
and the spark-core jar first on ``PYTHONPATH``. Before every task PySpark's
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``,
and under CPython 3.11 that makes each cached ``zipimporter`` re-parse its
archive's whole central directory: a worker holds ~12 over pyspark.zip
(1,328 entries, one per imported subpackage) and 2 over the 5,359-entry
jar. A directory ``FileFinder`` invalidates for free, so this daemon drops
those archives from ``sys.path`` (and their importers) whenever pyspark
imports without them, from the installed tree the driver runs, and then
hands over to ``pyspark.daemon``. If pyspark is only in the archives,
nothing changes. ``addPyFile``/``--py-files`` includes are still added and
invalidated per task by PySpark itself.

Measured on 4 vCPU, CPython 3.11.7, PySpark 4.1.2, 10-12 alternating
pairs: an empty 3-task ``mapInPandas`` stage at local[3] takes 0.37 s
(median) with Spark's own daemon and 0.13 s with this one; the
benchmark's ``mp_fleet_16k`` ``wall_s`` falls from 0.73 to 0.52 s.
"""

from __future__ import annotations

import os
import sys
from importlib.machinery import PathFinder


def _archive(entry: str) -> bool:
    return entry.endswith(".jar") or os.path.basename(entry) == "pyspark.zip"


def drop_archives() -> None:
    """Remove pyspark.zip and the jars from sys.path and their importers
    from sys.path_importer_cache, if pyspark can be found without them."""
    dropped = [p for p in sys.path if _archive(p)]
    rest = [p for p in sys.path if not _archive(p)]
    if not dropped or PathFinder.find_spec("pyspark", rest) is None:
        return
    sys.path[:] = rest
    for key in list(sys.path_importer_cache):
        if any(key == p or key.startswith(p + os.sep) for p in dropped):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    drop_archives()
    from pyspark.daemon import manager

    manager()
