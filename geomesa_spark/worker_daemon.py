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
instead of being copied into each worker (~70 -> ~58 MiB PSS per worker,
measured with 4 workers on a 4-core local session).

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


# no collection during the preload leaves no freed holes among the imported
# objects; freezing them keeps every forked worker's collections off them
gc.disable()
_preload()

from pyspark.daemon import manager  # noqa: E402

gc.freeze()
gc.enable()

if __name__ == "__main__":
    manager()
