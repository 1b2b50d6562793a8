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
  ``<name>.bad`` and the session is started once more without it; when
  that start fails as well, the archive is put back and the error raised.

Classpath session extensions. Building a ``SparkSession`` ServiceLoader-loads
every ``SparkSessionExtensionsProvider`` on the classpath. Under
``$SPARK_HOME/jars`` the only one is spark-mllib's
``org.apache.spark.sql.ml.InternalFunctionRegistration``, whose object puts
``vector_to_array``, ``array_to_vector`` and ``aggregate_metrics`` into the
JVM-wide internal function registry through TypeTag-typed Scala ``udf``
calls: that starts Scala runtime reflection (about a thousand
``scala.reflect.runtime`` classes and their signature unpickling) and made
the JVM ``SparkSession`` constructor take 0.9-1.0 s of every session start
(4-core host). No engine query calls those functions, but classic
``pyspark.ml.functions.vector_to_array`` and ``array_to_vector`` resolve
through them. So where :func:`get_spark` puts the engine jar on the driver
(below), it also sets ``spark.sql.extensions.test.loadFromCp=false``
(Spark's own switch for the scan, labelled test-only; ``tests/
test_session.py`` fails if it stops working) and adds the jar's
``geomesaspark.ext.LazyMlFunctions`` to ``spark.sql.extensions``: it
registers the three names with builders that initialize MLlib's object on
their first use, so only a session that calls them pays the reflection, at
that first call. That cut the constructor to under 0.1 s. The class-data
archive is dumped with the scan off too. ``spark.sql.extensions`` entries
(the engine's Catalyst rule, ``extensions.py``, and a caller's own) are
applied before the scan would run and are kept. A caller that needs the
scan (another provider of its own on the classpath) passes
``extra_conf={"spark.sql.extensions.test.loadFromCp": "true"}``.

Engine jar and the ``file:`` filesystem. Without Hadoop's native library,
the stock local filesystem sets every permission by forking a ``chmod``
process: one per data file, ``.crc`` sidecar and directory a write creates
(165-187 forks for one 150-row ``write_partitioned`` day, 103 for a small
``build_pq_index``). The engine jar holds
``geomesaspark.fs.NoForkLocalFileSystem`` (``jvm/src/``), which sets the
mode with one ``chmod(2)`` and is otherwise Hadoop's checksummed
``LocalFileSystem``; :func:`get_spark` makes it ``fs.file.impl`` when it
launches a ``local[N]`` driver JVM.

- **Build.** :func:`engine_jar` compiles every class under ``jvm/src``
  (javac ``--release 17`` against the Spark jars, about 2.5 s) into
  ``<cache>/engine-<key>.jar``, next to the class-data archives; the key
  hashes the Java sources, the pyspark version and the release, so a fresh
  checkout or a ``git clean`` reuses the jar. ``jvm/build.sh`` copies the
  same jar to ``dist/`` for ``spark-submit --jars``. With no JDK compiler
  (or no ``jvm/src``, e.g. the package shipped as a zip) the session starts
  on the stock filesystem after a warning.
- **Loading.** The jar goes on ``spark.jars`` and every plain-path or
  ``file:`` entry there becomes ``local:<absolute path>``: SparkSubmit
  resolves ``file:`` entries through a Hadoop filesystem before the jar is
  on any class path, and would then fail to load the class it is told to
  use. ``local:`` needs no filesystem and is valid for ``local[N]``.
  ``spark.jars`` is not on the JVM's application class path, so the
  class-data archive still maps. A caller's own
  ``spark.hadoop.fs.file.impl`` is kept, and the stock filesystem stays
  when ``spark.files``, ``spark.submit.pyFiles``, ``spark.archives``,
  ``spark.jars.packages`` or ``PYSPARK_SUBMIT_ARGS`` is set: SparkSubmit
  resolves those through the filesystem too (the Ivy-resolved packages
  join the jar list as plain paths after this rewrite), and ``local:``
  would keep the files of the first three out of ``SparkFiles``.
- **Not covered.** Structured Streaming checkpoints go through Hadoop's
  ``FileContext`` (``LocalFs``), which does not read ``fs.file.impl``.
"""

from __future__ import annotations

import contextlib
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import warnings
import zipfile
from urllib.parse import urlparse

from pyspark import SparkContext
from pyspark import __version__ as _PYSPARK_VERSION
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# cds logging off so a rejected archive (other classpath, other heap mode)
# falls back to plain class loading without printing anything
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
_BUILD_TIMEOUT_S = 600
# the directory holding this package (a zip under --py-files works as well)
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the engine's JVM classes: the Catalyst rule (extensions.py), the file:
# filesystem and the lazy MLlib function registration
_JVM_SRC = os.path.join(_PKG_PARENT, "jvm", "src")
FS_IMPL = "geomesaspark.fs.NoForkLocalFileSystem"
# confs whose files SparkSubmit resolves through the file: filesystem at
# launch (spark.jars.packages: the Ivy-resolved jars, added as plain paths)
_SUBMIT_FILES = ("spark.files", "spark.submit.pyFiles", "spark.archives", "spark.jars.packages")
# class-file target of the engine jar: the oldest Java the bundled Spark
# runs on, so a jar compiled by a newer JDK still loads on any JVM sharing
# the cache
_JAVA_RELEASE = "17"
# Spark's switch for the ServiceLoader scan of SparkSessionExtensionsProvider
# classes on the classpath (StaticSQLConf.LOAD_SESSION_EXTENSIONS_FROM_CLASSPATH)
_LOAD_EXTENSIONS_FROM_CP = "spark.sql.extensions.test.loadFromCp"
_ML_FUNCTIONS = "geomesaspark.ext.LazyMlFunctions"


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
    if not _jvm_running() and conf["spark.master"].startswith("local"):
        _use_engine_jar(conf)
    spark = _start(conf)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _jvm_running() -> bool:
    return SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ


def _use_engine_jar(conf: dict) -> None:
    """Put the engine jar on ``spark.jars`` (all local entries as
    ``local:``), make its class the ``file:`` filesystem and skip the
    classpath extension scan; warn and leave ``conf`` alone when the jar
    cannot be built (module docstring)."""
    try:
        jar = engine_jar()
    except RuntimeError as e:
        warnings.warn(f"starting on the stock file: filesystem: {e}", RuntimeWarning, stacklevel=3)
        return
    jars = [jar] + [j.strip() for j in conf.get("spark.jars", "").split(",") if j.strip()]
    conf["spark.jars"] = ",".join(dict.fromkeys(u for j in jars for u in _local_uris(j)))
    if not os.environ.get("PYSPARK_SUBMIT_ARGS") and not any(conf.get(k) for k in _SUBMIT_FILES):
        conf.setdefault("spark.hadoop.fs.file.impl", FS_IMPL)
    # no classpath extension scan; MLlib's SQL functions register on first use
    if conf.setdefault(_LOAD_EXTENSIONS_FROM_CP, "false") == "false":
        conf["spark.sql.extensions"] = ",".join(
            e for e in (_ML_FUNCTIONS, conf.get("spark.sql.extensions")) if e)


def _local_uris(entry: str) -> list[str]:
    """A ``spark.jars`` entry as ``local:`` URIs: a plain path or ``file:``
    URI is globbed as SparkSubmit would; other schemes pass through."""
    u = urlparse(entry)
    if u.scheme not in ("", "file"):
        return [entry]
    path = os.path.abspath(u.path if u.scheme else entry)
    return ["local:" + p for p in sorted(filter(os.path.isfile, glob.glob(path))) or [path]]


def engine_jar() -> str:
    """Path of the engine jar (every class under ``jvm/src``) in the user
    cache, compiled first if this hash of the sources has none yet. Raises
    RuntimeError when it cannot be built."""
    srcs = sorted(
        os.path.join(root, f)
        for root, _, files in os.walk(_JVM_SRC) for f in files if f.endswith(".java")
    )
    if not srcs:
        raise RuntimeError(f"no Java sources under {_JVM_SRC}")
    h = hashlib.sha256(f"{_PYSPARK_VERSION}\0{_JAVA_RELEASE}".encode())
    for p in srcs:
        with open(p, "rb") as fh:
            h.update(f"\0{os.path.relpath(p, _JVM_SRC)}\0".encode() + fh.read())
    path = os.path.join(_cache_dir(), f"engine-{h.hexdigest()[:16]}.jar")
    if os.path.exists(path):
        return path
    javac = _jdk_tool("javac")
    if javac is None:
        raise RuntimeError("no JDK compiler (javac) found to build the engine jar")
    try:
        with _cache_lock():
            if not os.path.exists(path):
                _compile_jar(javac, srcs, path)
    except (OSError, subprocess.SubprocessError) as e:
        raise RuntimeError(f"cannot build the engine jar: {e}") from e
    return path


def _compile_jar(javac: str, srcs: list[str], path: str) -> None:
    """javac against the Spark jars into a temp dir, zipped to a temp name
    and published with ``os.replace``."""
    with tempfile.TemporaryDirectory(dir=_cache_dir()) as out:
        r = subprocess.run(
            [javac, "--release", _JAVA_RELEASE, "-proc:none", "-encoding", "UTF-8", "-d", out,
             "-cp", os.path.join(_find_spark_home(), "jars", "*"), *srcs],
            capture_output=True, text=True, timeout=_BUILD_TIMEOUT_S,
        )
        if r.returncode != 0:
            raise RuntimeError(f"javac failed: {(r.stdout + r.stderr)[-4000:]}")
        tmp = f"{path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
            z.writestr("META-INF/MANIFEST.MF", "Manifest-Version: 1.0\n")
            for root, _, files in sorted(os.walk(out)):
                for f in sorted(files):
                    z.write(os.path.join(root, f), os.path.relpath(os.path.join(root, f), out))
        os.replace(tmp, path)


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
    try:
        return _builder(conf).getOrCreate()
    except PySparkRuntimeError:
        if SparkContext._gateway is None:
            # fails without the archive too: the launch, not the archive,
            # is at fault, so the archive is kept
            os.replace(archive + ".bad", archive)
        raise


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "geomesa_spark")


def _empty_conf_dir() -> str:
    return os.path.join(_cache_dir(), "conf")


@contextlib.contextmanager
def _cache_lock():
    """One build at a time in the cache; a waiter then finds it
    published."""
    os.makedirs(_cache_dir(), exist_ok=True)
    with open(os.path.join(_cache_dir(), ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        yield


def _jdk_tool(name: str) -> str | None:
    java_home = os.environ.get("JAVA_HOME")
    tool = os.path.join(java_home, "bin", name) if java_home else shutil.which(name)
    return tool if tool and os.path.exists(tool) else None


def _class_archive(conf: dict) -> str | None:
    """Path of the class-data archive for this session, building it first if
    needed; None when no archive applies."""
    if _jvm_running():
        return None
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
        with _cache_lock():
            if not os.path.exists(path) and not os.path.exists(path + ".failed"):
                _build(path, conf)
        return path if os.path.exists(path) else None
    except OSError:
        return None


def archive_key(spark_home: str, driver_memory: str) -> str | None:
    """Archive key: JDK binary + Spark jars + compressed-oops heap mode."""
    java = _jdk_tool("java")
    if java is None:
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
        _LOAD_EXTENSIONS_FROM_CP: "false",
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
