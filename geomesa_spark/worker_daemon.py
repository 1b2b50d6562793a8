"""Python worker daemon that preloads the engine's import cascade.

PySpark forks every Python UDF worker from a long-lived daemon process
on each executor (pyspark/daemon.py); forked children inherit the daemon's
already-imported modules via copy-on-write, so anything imported HERE
costs each worker nothing. Without it, every fresh worker re-imports
numpy + pandas + pyarrow + pyspark.sql plus whatever engine module the
unpickled UDF references (~0.9 s measured in this sandbox) — and idle
workers are reaped between stages (spark.python.worker.idleTimeoutSeconds),
so a 32-core local session pays ~30 CPU-seconds of imports again on the
next Python stage. On a real cluster the preload happens once per
executor, exactly where a 1000-executor deployment wants it.

One daemon per worker environment, not per executor: Spark keys its daemons
by Python executable plus the environment the runner hands the worker. The
SQL Arrow runners set SPARK_SIMPLIFIED_TRACEBACK=1 and the RDD PythonRunner
does not, so a single RDD-backed Python stage (e.g. createDataFrame from a
list of tuples, which re-pickles the rows through a PythonRDD job) starts a
SECOND daemon with its own idle workers beside the first. Engine code
therefore builds driver-side frames from pandas: that goes through Arrow
and starts no Python worker at all, and every Python stage of a session
shares the one daemon.

The preload runs with the cyclic GC disabled and ends in gc.freeze(), the
fork recipe from the CPython gc docs: the preloaded objects move to the
permanent generation, so the gc.collect() a worker runs after every task
never writes their GC headers, and those pages stay shared with the daemon
instead of being copied into each worker.

Every task starts with importlib.invalidate_caches()
(pyspark.worker_util.setup_spark_files). Spark puts pyspark.zip first on
the workers' PYTHONPATH, so the daemon imports pyspark from the zip and
holds one zipimporter per package directory it imported from (16 in a
Spark 4.1.2 worker: 12 over pyspark.zip, 2 each over py4j's zip and over
the spark-core jar that Spark also puts on that path). Before CPython 3.13,
zipimporter.invalidate_caches re-reads its archive's central directory at
once, each importer its own copy: 0.18-0.19 s of every task in a reused
worker on a 4-core host, and a fresh heap of directory entries that no
longer shares pages with the daemon. CPython 3.13 only drops the cached
directory and re-reads it when an import next looks it up, once for all
importers of the archive. _lazy_zip_directories backports that before the
preload, so every forked worker inherits it; it is a no-op on Python >= 3.13
and on a zipimport without _zip_directory_cache. The stock daemon
(SPARK_GRAFT_NO_DAEMON_PRELOAD=1) keeps the eager re-reads and their cost.
With the freeze and the backport, a reused worker holds ~32 MiB PSS after
trivial pandas UDF tasks (~46 MiB with the eager re-reads), measured with 4
workers on a 4-core local session.

Wired up by session.get_spark via spark.python.daemon.module. The daemon
starts as `python -m geomesa_spark.worker_daemon` and resolves that from
its cwd and PYTHONPATH only, never from the driver's sys.path, so the
factory merges the directory holding this package into
spark.executorEnv.PYTHONPATH (a script that reached the package through
sys.path.insert from another cwd works too). NOTE: the daemon
module itself must be importable wherever the daemon process starts — if
it is not, the daemon fails to launch and every Python stage fails; the
try/except below only degrades the OPTIONAL preloads (e.g. a stripped
deployment missing a heavy dependency), it cannot rescue a missing
package. On a multi-node cluster, ship the package on executor PYTHONPATH
(spark.executorEnv.PYTHONPATH or --archives) before setting the conf, or
set SPARK_GRAFT_NO_DAEMON_PRELOAD=1 to leave the stock daemon in place.
"""

from __future__ import annotations

import gc
import sys
import zipimport


def _lazy_zip_directories() -> None:
    """Backport CPython 3.13's lazy zipimport directory cache (no-op there,
    and on a zipimport without ``_zip_directory_cache``): every importer
    reads its archive's directory from ``_zip_directory_cache`` on each
    lookup, and ``invalidate_caches`` only drops that entry, so the next
    lookup re-reads the archive once for all of its importers."""
    cache = getattr(zipimport, "_zip_directory_cache", None)
    if sys.version_info >= (3, 13) or cache is None:
        return

    def get_files(self):
        try:
            files = cache[self.archive]
        except KeyError:
            try:
                files = cache[self.archive] = zipimport._read_directory(self.archive)
            except zipimport.ZipImportError:
                files = {}
        return files

    def invalidate_caches(self):
        cache.pop(self.archive, None)

    # __init__ assigns _files before archive: the setter drops that value
    zipimport.zipimporter._files = property(get_files, lambda self, value: None)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # importers made before the patch drop the copy they hold
    for importer in sys.path_importer_cache.values():
        if isinstance(importer, zipimport.zipimporter):
            vars(importer).pop("_files", None)


def _preload() -> None:
    try:
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401
        import pyarrow.parquet  # noqa: F401
        import pyspark.sql.functions  # noqa: F401
        import pyspark.sql.pandas.serializers  # noqa: F401
    except Exception:  # pragma: no cover — bare worker env
        return
    try:
        import geomesa_spark.operators  # noqa: F401 — pulls every operator module
        import geomesa_spark.functions.image  # noqa: F401
        import geomesa_spark.functions.jpeg  # noqa: F401
        import geomesa_spark.functions.text  # noqa: F401
        import geomesa_spark.core.cells  # noqa: F401
        import geomesa_spark.core.geometry  # noqa: F401
        import geomesa_spark.sources.parquet_scan  # noqa: F401
    except Exception:  # pragma: no cover — py-files deploy without cwd pkg
        pass


def main() -> None:
    _lazy_zip_directories()
    # no collection during the preload leaves no freed holes among the
    # imported objects; freezing them keeps every forked worker's
    # collections off them
    gc.disable()
    _preload()
    from pyspark.daemon import manager

    gc.freeze()
    gc.enable()
    manager()


if __name__ == "__main__":
    main()
