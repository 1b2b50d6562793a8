"""SparkSession factory with scale-aware defaults.

local[N] here stands in for an N-executor cluster; every knob is chosen so the
same code runs unchanged under spark-submit --py-files on a real cluster
(AQE, skew-join handling, Arrow batches, UTC timestamps).

Class-data archive. Starting the driver JVM means loading and verifying about
16.7k Spark/Scala classes from the ~290 jars under ``$SPARK_HOME/jars``; that
is most of the session start. :func:`get_spark` therefore launches the JVM
with a dynamic class-data-sharing archive (JDK AppCDS, JEP 310/350: ``-XX:
SharedArchiveFile``), which maps those classes already parsed from one file.

- **Where.** ``$XDG_CACHE_HOME/geomesa_spark/`` (default
  ``~/.cache/geomesa_spark/``), one ``classes-<key>.jsa`` per key. The key
  covers the JDK binary (path, size and mtime of ``libjvm.so``), the Spark
  jars (names, sizes, mtimes) and the heap's compressed-oops mode (on below
  32 GiB ``spark.driver.memory``, off above: the JVM silently ignores an
  archive dumped in the other mode).
- **First session per key** pays the build: a child process starts a session
  with ``-XX:ArchiveClassesAtExit``, runs a few small jobs and exits. Measured
  on a 4-core host: one child run of 30-36 s (a third of it the dump at JVM
  exit) writing a ~170 MB archive; later session starts fell from a median
  5.4 s to 2.8 s, and the first job after start got faster too. The archive
  is published with ``os.replace`` only after a clean exit; a failed build
  leaves a ``.failed`` marker (its output) so it is not retried every
  session.
- **Deleting the cache directory is always safe**: the next session rebuilds.
- **No archive is used** (the session starts exactly as without one) when
  the JVM is already running in this process, when ``SPARK_CONF_DIR``,
  ``HADOOP_CONF_DIR`` or ``YARN_CONF_DIR`` is set, when
  ``spark.driver.extraClassPath`` is set, when ``$SPARK_HOME/conf`` holds
  anything besides ``*.template`` files (CDS cannot share classes behind a
  non-empty directory on the classpath, so the archive runs with
  ``SPARK_CONF_DIR`` pointed at an empty cache directory instead), or when the
  cache directory cannot be written. If the JVM fails to start with the
  archive (e.g. a truncated file), the archive is moved aside to
  ``<name>.bad`` and the session is started once more without it.
"""

from __future__ import annotations

import fcntl
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# cds logging off so a rejected archive (other classpath, other heap mode)
# falls back to plain class loading without printing anything
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
_BUILD_TIMEOUT_S = 600
# the directory holding this package (a zip under --py-files works as well)
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    cpus: int | None = None,
    app: str = "geomesa-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # ~2x cores locally; on a real cluster this scales with executors
        shuffle_partitions = max(cpus * 2, 8)
    conf = {
        "spark.master": f"local[{cpus}]",
        "spark.app.name": app,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # multi-KB binary payloads x 4096-row columnar batches produce G1
        # humongous allocations in the JVM vectorized parquet reader and
        # degrade scans ~10-100x (measured); 1024-row batches keep buffers
        # under the humongous threshold. Binary-heavy tables should prefer
        # sources.parquet_scan.scan_parquet_arrow, which bypasses the JVM
        # reader entirely.
        "spark.sql.parquet.columnarReaderBatchSize": "1024",
    }
    # Python workers fork from a daemon process; preload the numpy/pandas/
    # pyarrow + engine import cascade there (then gc.freeze it) so forked
    # workers inherit it copy-on-write instead of each paying ~0.9 s on its
    # first task (idle workers are reaped between stages, so a warmup stage
    # cannot pre-pay this). Spark keys daemons by Python executable plus
    # worker environment, and the RDD runner's environment differs from the
    # SQL Arrow runners', so engine code builds driver-side frames from
    # pandas (Arrow, no Python worker): one daemon then serves every Python
    # stage of the session. The daemon resolves modules from its cwd and
    # PYTHONPATH only, not from this process's sys.path, so the directory
    # holding this package is merged into the executor PYTHONPATH below.
    # A multi-node deployment must ship the package to the executors
    # (--py-files / --archives) or leave the daemon unset: see
    # geomesa_spark/worker_daemon.py.
    if os.environ.get("SPARK_GRAFT_NO_DAEMON_PRELOAD") != "1":
        conf["spark.python.daemon.module"] = "geomesa_spark.worker_daemon"
    conf.update(extra_conf or {})
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (_PKG_PARENT, conf.get("spark.executorEnv.PYTHONPATH")) if p
    )
    spark = _start(conf)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _builder(conf: dict) -> SparkSession.Builder:
    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    return b


def _start(conf: dict) -> SparkSession:
    """getOrCreate, with the driver JVM mapping the class-data archive when
    one applies (module docstring); otherwise exactly the plain start."""
    archive = _class_archive(conf)
    if archive is None:
        return _builder(conf).getOrCreate()
    # defaultJavaOptions, before any caller value: callers keep
    # spark.driver.extraJavaOptions to themselves
    opts = f"-XX:SharedArchiveFile={archive} {_CDS_QUIET}"
    if conf.get("spark.driver.defaultJavaOptions"):
        opts += " " + conf["spark.driver.defaultJavaOptions"]
    os.environ["SPARK_CONF_DIR"] = _empty_conf_dir()
    try:
        return _builder({**conf, "spark.driver.defaultJavaOptions": opts}).getOrCreate()
    except PySparkRuntimeError:
        if SparkContext._gateway is not None:
            raise  # the JVM is up: not an archive problem
        # the JVM exited before its gateway came up (JAVA_GATEWAY_EXITED),
        # e.g. killed by SIGBUS mapping a truncated archive
        os.replace(archive, archive + ".bad")
    finally:
        os.environ.pop("SPARK_CONF_DIR", None)
    return _builder(conf).getOrCreate()


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "geomesa_spark")


def _empty_conf_dir() -> str:
    return os.path.join(_cache_dir(), "conf")


def _class_archive(conf: dict) -> str | None:
    """Path of the class-data archive for this session, building it first if
    needed; None when no archive applies."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None  # the driver JVM already runs
    if any(os.environ.get(v) for v in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR")):
        return None
    if conf.get("spark.driver.extraClassPath"):
        return None
    home = _find_spark_home()
    conf_dir = os.path.join(home, "conf")
    if os.path.isdir(conf_dir) and any(
        not n.endswith(".template") for n in os.listdir(conf_dir)
    ):
        return None
    try:
        key = archive_key(home, str(conf.get("spark.driver.memory", "1g")))
        if key is None:
            return None
        os.makedirs(_empty_conf_dir(), exist_ok=True)
        path = os.path.join(_cache_dir(), f"classes-{key}.jsa")
        with open(os.path.join(_cache_dir(), ".lock"), "w") as lock:
            # one build at a time; a waiter then finds the archive published
            fcntl.flock(lock, fcntl.LOCK_EX)
            if not os.path.exists(path) and not os.path.exists(path + ".failed"):
                _build(path, conf)
        return path if os.path.exists(path) else None
    except OSError:
        return None


def archive_key(spark_home: str, driver_memory: str) -> str | None:
    """Archive key: JDK binary + Spark jars + compressed-oops heap mode."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java or not os.path.exists(java):
        return None
    java = os.path.realpath(java)
    libjvm = os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server", "libjvm.so")
    h = hashlib.sha256()
    for p in (java, libjvm):
        if os.path.exists(p):
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    jars = os.path.join(spark_home, "jars")
    with os.scandir(jars) as it:
        for e in sorted(it, key=lambda e: e.name):
            st = e.stat()
            h.update(f"{e.name}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    coops = "coops" if _heap_bytes(driver_memory) < 32 * 2**30 else "nocoops"
    return f"{h.hexdigest()[:16]}-{coops}"


def _heap_bytes(mem: str) -> int:
    """Bytes of ``-Xmx<mem>``, which is how the launcher passes
    spark.driver.memory; 0 for a value the JVM would reject anyway."""
    m = re.fullmatch(r"(\d+)([kmgt]?)", mem.strip().lower())
    return int(m.group(1)) * 1024 ** " kmgt".index(m.group(2) or " ") if m else 0


def _build(path: str, conf: dict) -> None:
    """Dump the archive in a child process into a temp name; publish it only
    after a clean exit, else leave a ``.failed`` marker with the output."""
    tmp = f"{path}.{os.getpid()}.tmp"
    # the archive depends on the key only, never on the caller's conf (its
    # jars, extensions or JVM options); the heap size sets the oops mode
    child_conf = {
        "spark.master": "local[2]",
        "spark.app.name": "geomesa-spark-class-archive",
        "spark.driver.memory": str(conf.get("spark.driver.memory", "1g")),
        "spark.ui.enabled": "false",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.defaultJavaOptions": f"-XX:ArchiveClassesAtExit={tmp} {_CDS_QUIET}",
    }
    script = (
        f"import sys; sys.path.insert(0, {_PKG_PARENT!r}); "
        "from geomesa_spark.session import _dump_workload; _dump_workload(sys.argv[1])"
    )
    env = dict(os.environ, SPARK_CONF_DIR=_empty_conf_dir())
    with tempfile.TemporaryDirectory() as cwd:
        try:
            r = subprocess.run(
                [sys.executable, "-c", script, json.dumps(child_conf)],
                cwd=cwd, env=env, capture_output=True, text=True,
                timeout=_BUILD_TIMEOUT_S,
            )
            ok, out = r.returncode == 0 and os.path.exists(tmp), r.stdout + r.stderr
        except subprocess.TimeoutExpired as e:
            ok, out = False, f"timed out after {e.timeout} s"
    if ok:
        os.replace(tmp, path)
        return
    if os.path.exists(tmp):
        os.remove(tmp)
    with open(path + ".failed", "w") as fh:
        fh.write(out[-20000:])


def _dump_workload(conf_json: str) -> None:
    """Child side of :func:`_build`: start a session, run small jobs that
    touch the classes every session needs (SQL, aggregate, join, window,
    parquet, Arrow/Python), then stop and wait for the JVM, which writes
    the archive as it exits."""
    from pyspark.sql import functions as F

    spark = _builder(json.loads(conf_json)).getOrCreate()
    proc = spark.sparkContext._gateway.proc
    try:
        out = os.path.join(os.getcwd(), "t.parquet")
        df = spark.range(20_000).selectExpr(
            "id", "id % 97 AS k", "rand(1) AS x", "cast(id AS string) AS s"
        )
        df.write.parquet(out)
        t = spark.read.parquet(out).where("x > 0.1")
        agg = t.groupBy("k").agg(F.sum("x").alias("sx"), F.count("*").alias("n"))
        t.join(agg, "k").selectExpr(
            "k", "sx", "row_number() OVER (PARTITION BY k ORDER BY id) AS r"
        ).where("r <= 2").collect()
        t.createOrReplaceTempView("t")
        spark.sql("SELECT k, avg(x) FROM t GROUP BY k ORDER BY k LIMIT 5").toPandas()
        t.mapInArrow(lambda it: it, t.schema).count()
        spark.createDataFrame(agg.limit(10).toPandas()).collect()
    finally:
        spark.stop()
        proc.stdin.close()
        proc.wait()
