"""get_spark session start: the class-data archive (built once into the user
cache, mapped by later sessions, never fatal), the Python worker daemon
(its import path, one daemon per session, the frozen preload, the lazy
zipimport directories), the engine jar's file: filesystem (no forked
chmod, same modes, checksums) and the skipped classpath scan for session
extensions.

Sessions that test the start run in their own subprocess with a temp
XDG_CACHE_HOME: the archive applies only where a process launches its
driver JVM, and this process's JVM may already be up. The subprocesses run
against a symlinked copy of SPARK_HOME whose conf dir the test controls."""

import gc
import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.find_spark_home import _find_spark_home

from geomesa_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one small driver per subprocess; prints the JVM's arguments, a job's
# answer and the session conf as the last stdout line
_PROBE = """
import json, sys
sys.path.insert(0, {repo!r})
{pre}
from geomesa_spark.session import get_spark
spark = get_spark(cpus=2, extra_conf=json.loads(sys.argv[1]))
mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
out = {{"args": list(mx.getInputArguments()),
        "sum": spark.range(100).selectExpr("sum(id) AS s").first().s,
        "conf": dict(spark.sparkContext.getConf().getAll())}}
{extra}
proc = spark.sparkContext._gateway.proc
spark.stop(); proc.stdin.close(); proc.wait()
print(json.dumps(out))
"""


def _spark_home(root, conf_files=None):
    """SPARK_HOME made of symlinks into the real one, with an own conf dir."""
    real = _find_spark_home()
    root.mkdir()
    for name in os.listdir(real):
        if name != "conf":
            (root / name).symlink_to(os.path.join(real, name))
    (root / "conf").mkdir()
    for name, text in (conf_files or {}).items():
        (root / "conf" / name).write_text(text)
    return root


def _session(home, cache, cwd, extra_conf=None, extra="", pre="", env=None, ok=True):
    env = {k: v for k, v in {**os.environ, **(env or {})}.items()
           if k not in ("PYTHONPATH", "SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR")}
    env.update(SPARK_HOME=str(home), XDG_CACHE_HOME=str(cache), SPARK_GRAFT_DRIVER_MEM="2g")
    r = subprocess.run(
        [sys.executable, "-c", _PROBE.format(repo=REPO, extra=extra, pre=pre),
         json.dumps(extra_conf or {})],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=900,
    )
    if not ok:
        assert r.returncode != 0, r.stdout[-2000:]
        return {"stderr": r.stderr}
    assert r.returncode == 0, r.stderr[-4000:]
    return {**json.loads(r.stdout.strip().splitlines()[-1]), "stderr": r.stderr}


def _archive_arg(out):
    return [a for a in out["args"] if a.startswith("-XX:SharedArchiveFile=")]


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """A Spark home with a template-only conf dir and a cache in which the
    first session has built the archive."""
    root = tmp_path_factory.mktemp("cds")
    home = _spark_home(root / "spark", {"spark-defaults.conf.template": "# template\n"})
    cache = root / "cache"
    out = _session(home, cache, root)
    assert out["sum"] == 4950
    archives = list((cache / "geomesa_spark").glob("classes-*.jsa"))
    assert len(archives) == 1, list((cache / "geomesa_spark").iterdir())
    # the session that built the archive already started from it
    assert _archive_arg(out) == [f"-XX:SharedArchiveFile={archives[0]}"]
    return home, cache, archives[0]


def test_second_session_loads_classes_from_archive(built, tmp_path):
    home, cache, archive = built
    log = tmp_path / "class-load.log"
    out = _session(home, cache, tmp_path, {
        "spark.driver.extraJavaOptions": f"-Xlog:class+load:file={log}",
    })
    assert out["sum"] == 4950
    assert _archive_arg(out) == [f"-XX:SharedArchiveFile={archive}"]
    # the caller's own driver options still reach the JVM
    assert f"-Xlog:class+load:file={log}" in out["args"]
    lines = log.read_text().splitlines()
    shared = sum("source: shared objects file (top)" in ln for ln in lines)
    from_jars = sum("source: jar:" in ln or "source: file:" in ln for ln in lines)
    assert shared > 5000 and shared > 10 * from_jars, (shared, from_jars)


def test_truncated_archive_is_moved_aside(built, tmp_path):
    home, _, archive = built
    cache = tmp_path / "cache"
    (cache / "geomesa_spark" / "conf").mkdir(parents=True)
    bad = cache / "geomesa_spark" / archive.name
    with open(archive, "rb") as src, open(bad, "wb") as dst:
        dst.write(src.read(archive.stat().st_size // 3))
    out = _session(home, cache, tmp_path)
    assert out["sum"] == 4950
    assert _archive_arg(out) == []  # the retry started without it
    assert not bad.exists()
    assert bad.with_name(bad.name + ".bad").exists()


def test_archive_kept_when_start_fails_without_it(built, tmp_path):
    """A launch that fails with and without the archive (here SparkSubmit
    cannot load the file: filesystem it must resolve spark.files with)
    raises and leaves the good archive in place."""
    home, _, archive = built
    cache = tmp_path / "cache"
    (cache / "geomesa_spark" / "conf").mkdir(parents=True)
    kept = cache / "geomesa_spark" / archive.name
    kept.write_bytes(archive.read_bytes())
    (tmp_path / "data.txt").write_text("x")
    out = _session(home, cache, tmp_path, {
        "spark.files": str(tmp_path / "data.txt"),
        "spark.hadoop.fs.file.impl": "geomesa.NoSuchFileSystem",
    }, ok=False)
    assert "geomesa.NoSuchFileSystem" in out["stderr"]
    assert kept.exists() and kept.stat().st_size == archive.stat().st_size
    assert not kept.with_name(kept.name + ".bad").exists()


def test_heap_modes_get_different_archive_keys():
    home = _find_spark_home()
    small, mid, big = (session.archive_key(home, m) for m in ("2g", "31g", "48g"))
    assert small == mid and small.endswith("-coops")
    assert big != small and big.endswith("-nocoops")


def test_conf_dir_with_settings_gets_no_archive(tmp_path):
    home = _spark_home(tmp_path / "spark", {
        "spark-defaults.conf": "spark.geomesa.test.marker  on\n",
    })
    cache = tmp_path / "cache"
    out = _session(home, cache, tmp_path)
    assert out["sum"] == 4950
    assert out["conf"].get("spark.geomesa.test.marker") == "on"  # conf dir read
    assert _archive_arg(out) == []
    assert not list(cache.glob("**/*.jsa"))  # and nothing was built


def test_start_skips_classpath_session_extensions(tmp_path):
    """Start plus one job loads no Scala runtime reflection and not MLlib's
    classpath-registered InternalFunctionRegistration; a caller's
    loadFromCp=true brings both back. (A non-template conf file keeps the
    class archive out of this test.)"""
    home = _spark_home(tmp_path / "spark", {"spark-defaults.conf": "# none\n"})

    def loaded(name, extra_conf):
        log = tmp_path / f"{name}.log"
        out = _session(home, tmp_path / "cache", tmp_path, {
            **extra_conf, "spark.driver.extraJavaOptions": f"-Xlog:class+load:file={log}",
        })
        assert out["sum"] == 4950
        lines = log.read_text().splitlines()
        assert len(lines) > 5000
        return (sum("] scala.reflect.runtime." in ln for ln in lines),
                any("] org.apache.spark.sql.ml.InternalFunctionRegistration " in ln
                    for ln in lines))

    assert loaded("default", {}) == (0, False)
    reflection, registration = loaded("scan", {session._LOAD_EXTENSIONS_FROM_CP: "true"})
    assert reflection > 100 and registration


def test_classic_ml_vector_functions_register_on_first_use(spark):
    """Classic pyspark.ml.functions resolve MLlib's internal SQL functions,
    which a session without the classpath scan registers on first use."""
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.ml.linalg import DenseVector

    df = spark.range(3).selectExpr("id", "array(id * 1.5D, -CAST(id AS DOUBLE)) AS a")
    vec = df.select("id", array_to_vector("a").alias("v"))
    rows = vec.select("id", "v", vector_to_array("v").alias("b")).orderBy("id").collect()
    assert [r.v for r in rows] == [DenseVector([i * 1.5, -i]) for i in range(3)]
    assert [r.b for r in rows] == [[i * 1.5, float(-i)] for i in range(3)]


def test_daemon_finds_package_reached_through_sys_path(tmp_path):
    """A script that puts the package on sys.path itself, run from another
    cwd with no PYTHONPATH: the worker daemon must still import it. (A
    non-template conf file keeps the class archive out of this test.)"""
    home = _spark_home(tmp_path / "spark", {"spark-defaults.conf": "# none\n"})
    udf = """
from pyspark.sql.functions import pandas_udf
plus_one = pandas_udf(lambda s: s + 1, "long")
out["udf"] = int(spark.range(10).select(plus_one("id")).toPandas().iloc[:, 0].sum())
"""
    out = _session(home, tmp_path / "cache", tmp_path, extra=udf)
    assert out["udf"] == 55
    assert REPO in out["conf"]["spark.executorEnv.PYTHONPATH"].split(os.pathsep)


def test_python_stages_share_one_worker_daemon(tmp_path):
    """An ANN build + indexed search with rerank, then a fused density scan:
    every Python stage forks from the same daemon. Spark keys daemons by
    worker environment, and a PythonRDD job (e.g. createDataFrame from a
    list of tuples) gets a different one than the SQL Arrow runners."""
    home = _spark_home(tmp_path / "spark", {"spark-defaults.conf": "# none\n"})
    ops = f"""
import numpy as np, pandas as pd
from pyspark.sql import functions as F
from geomesa_spark.operators.similarity import build_pq_index, pq_topk_indexed
from geomesa_spark.sources.images import images_df
from geomesa_spark.sources.parquet_scan import density_scan
rng = np.random.default_rng(5)
vecs = spark.createDataFrame(pd.DataFrame({{
    "vec_id": np.arange(200),
    "embedding": rng.normal(size=(200, 16)).astype(np.float32).tolist()}}))
queries = vecs.filter("vec_id < 4").select(
    F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
build_pq_index(vecs, {str(tmp_path / "pq")!r}, dim=16, m=4, ksub=16, n_centroids=4)
out["ann"] = pq_topk_indexed(spark, {str(tmp_path / "pq")!r}, queries, k=3,
                             n_probe=2, rerank=10, vectors=vecs).count()
images_df(spark, 100, partitions=2).write.parquet({str(tmp_path / "img")!r})
out["tiles"] = density_scan(spark, {str(tmp_path / "img")!r}, {{
    "nyc": "POLYGON((-74.6 40.2, -73.4 40.2, -73.4 41.2, -74.6 41.2, -74.6 40.2))",
}}).count()
import os
jvm = spark.sparkContext._gateway.proc.pid
out["daemons"] = 0
for p in filter(str.isdigit, os.listdir("/proc")):
    try:
        cmd = open(f"/proc/{{p}}/cmdline", "rb").read().split(b"\\0")
        stat = open(f"/proc/{{p}}/stat").read()
    except OSError:
        continue
    ppid = int(stat[stat.rindex(")") + 2:].split()[1])
    out["daemons"] += ppid == jvm and b"geomesa_spark.worker_daemon" in cmd
"""
    out = _session(home, tmp_path / "cache", tmp_path, extra=ops)
    assert out["ann"] == 4 * 3
    assert out["tiles"] > 0
    assert out["daemons"] == 1


def test_workers_fork_from_a_frozen_preload(spark):
    """The daemon freezes its preloaded objects before it forks workers, so
    a worker's collections leave those pages shared with the daemon."""
    from pyspark.sql.functions import pandas_udf

    freeze_count = pandas_udf(lambda s: s * 0 + gc.get_freeze_count(), "long")
    counts = spark.range(4).select(freeze_count("id").alias("n")).toPandas()["n"]
    assert (counts > 0).all(), counts.tolist()


# imports a module from each of three subpackages of one zip archive (an
# importer for the archive, the package and each subpackage), spies on the
# directory reads of the next invalidate_caches, import and archive
# rewrite, and prints them as JSON
_ZIP_PROBE = """
import gc, importlib, json, sys, zipfile, zipimport
from geomesa_spark.worker_daemon import _lazy_zip_directories
out = {"frozen": gc.get_freeze_count(), "preloaded": "pandas" in sys.modules}
archive = sys.argv[1]
def write(extra=()):
    with zipfile.ZipFile(archive, "w") as z:
        for name in ("zpkg/__init__.py", "zpkg/late.py", *extra):
            z.writestr(name, "")
        for i in range(3):
            z.writestr(f"zpkg/sub{i}/__init__.py", "")
            z.writestr(f"zpkg/sub{i}/mod.py", "")
write()
sys.path.insert(0, archive)
_lazy_zip_directories()
for i in range(3):
    importlib.import_module(f"zpkg.sub{i}.mod")
out["importers"] = sum(isinstance(i, zipimport.zipimporter) and i.archive == archive
                       for i in sys.path_importer_cache.values())
reads, read = [], zipimport._read_directory
zipimport._read_directory = lambda path: reads.append(path) or read(path)
importlib.invalidate_caches()
out["invalidate_reads"] = len(reads)
import zpkg.late
out["import_reads"] = len(reads)
write(("zpkg/sub1/fresh.py",))
importlib.invalidate_caches()
import zpkg.sub1.fresh
out["fresh"] = zpkg.sub1.fresh.__file__
print(json.dumps(out))
"""


def _run_python(code, *args):
    env = dict(os.environ, PYTHONPATH=REPO)
    res = subprocess.run([sys.executable, "-c", code, *map(str, args)], env=env,
                         capture_output=True, text=True, timeout=60)
    assert res.returncode == 0, res.stderr
    return json.loads(res.stdout.splitlines()[-1])


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="stock zipimport is lazy")
def test_invalidation_reads_zip_directories_lazily(tmp_path):
    """With the backport, invalidate_caches reads no zip directory, the
    next import reads its archive once for all five importers, and a
    rewritten archive's new module imports. Importing the function runs
    neither the daemon's preload nor its gc.freeze."""
    archive = tmp_path / "pkgs.zip"
    out = _run_python(_ZIP_PROBE, archive)
    assert out["frozen"] == 0 and not out["preloaded"]
    assert out["importers"] == 5
    assert out["invalidate_reads"] == 0
    assert out["import_reads"] == 1
    assert out["fresh"] == os.path.join(archive, "zpkg", "sub1", "fresh.py")


@pytest.mark.parametrize("stock", [
    "sys.version_info = (3, 13, 0, 'final', 0)",
    "del zipimport._zip_directory_cache",
])
def test_lazy_zip_directories_keeps_stock_zipimport(stock):
    """On Python >= 3.13, and on a zipimport without the directory cache,
    the backport changes nothing."""
    out = _run_python(f"""
import json, sys, zipimport
from geomesa_spark.worker_daemon import _lazy_zip_directories
before = dict(vars(zipimport.zipimporter))
{stock}
_lazy_zip_directories()
print(json.dumps(dict(vars(zipimport.zipimporter)) == before))
""")
    assert out is True


def test_workers_invalidate_zip_directories_lazily(spark):
    """Every task calls importlib.invalidate_caches
    (pyspark.worker_util.setup_spark_files). In a worker that imported
    pyspark from pyspark.zip, that call drops the archive's directory
    instead of re-reading it, in the first job's worker and in the reused
    one of the next job."""
    from pyspark.sql.functions import pandas_udf

    if os.environ.get("SPARK_GRAFT_NO_DAEMON_PRELOAD") == "1":
        pytest.skip("stock daemon")

    def dropped(s):
        import importlib
        import zipimport

        import pyspark

        loader = pyspark.__loader__
        if not isinstance(loader, zipimport.zipimporter):
            return s * 0 - 1
        importlib.invalidate_caches()
        return s * 0 + int(loader.archive not in zipimport._zip_directory_cache)

    lazy = pandas_udf(dropped, "long")
    for _ in range(2):
        flags = spark.range(4).select(lazy("id").alias("f")).toPandas()["f"]
        if (flags == -1).all():
            pytest.skip("workers import pyspark from a directory")
        assert (flags == 1).all(), flags.tolist()


def test_file_writes_fork_no_chmod(tmp_path):
    """write_partitioned and build_pq_index through the engine's file:
    filesystem: no chmod process, modes from the Hadoop umask (027 here,
    as the process umask), .crc sidecars, and a corrupted data file fails
    its checksum on read. A logging chmod first on PATH counts the forks."""
    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    log = tmp_path / "chmod.log"
    (bin_dir / "chmod").write_text(
        f"#!/bin/sh\necho \"$*\" >> {log}\nexec {shutil.which('chmod')} \"$@\"\n")
    (bin_dir / "chmod").chmod(0o755)
    home = _spark_home(tmp_path / "spark", {"spark-defaults.conf": "# none\n"})
    tbl, idx = tmp_path / "tbl", tmp_path / "idx"
    ops = f"""
import os, numpy as np, pandas as pd
from geomesa_spark.operators.similarity import build_pq_index
from geomesa_spark.sources.storage import write_partitioned
def forks():
    return len(open({str(log)!r}).readlines()) if os.path.exists({str(log)!r}) else 0
out["fs"] = spark._jsc.hadoopConfiguration().get("fs.file.impl")
rng = np.random.default_rng(3)
pts = spark.createDataFrame(pd.DataFrame({{
    "image_id": [f"img{{i}}" for i in range(150)],
    "lon": rng.uniform(-180, 180, 150), "lat": rng.uniform(-80, 80, 150),
    "ts": pd.to_datetime(1704067200 + rng.integers(0, 2 * 86400, 150), unit="s")}}))
vecs = spark.createDataFrame(pd.DataFrame({{
    "vec_id": np.arange(200),
    "embedding": rng.normal(size=(200, 16)).astype(np.float32).tolist()}}))
n0 = forks()
write_partitioned(pts, {str(tbl)!r}, mode="overwrite")
write_partitioned(pts, {str(tbl)!r}, mode="append")
out["write_forks"] = forks() - n0
n0 = forks()
build_pq_index(vecs, {str(idx)!r}, dim=16, m=4, ksub=16, n_centroids=4)
out["index_forks"] = forks() - n0
out["rows"] = spark.read.parquet({str(tbl)!r}).count()
jvm = spark._jvm
sticky = jvm.org.apache.hadoop.fs.Path({str(tmp_path / "sticky")!r})
fs = sticky.getFileSystem(spark._jsc.hadoopConfiguration())
fs.mkdirs(sticky)
fs.setPermission(sticky, jvm.org.apache.hadoop.fs.permission.FsPermission("1750"))
out["sticky_mode"] = os.stat({str(tmp_path / "sticky")!r}).st_mode & 0o7777
bad = next(os.path.join(d, f) for d, _, fs_ in os.walk({str(tbl)!r})
           for f in fs_ if f.endswith(".parquet"))
with open(bad, "r+b") as fh:
    fh.seek(os.path.getsize(bad) // 2)
    b = fh.read(1)
    fh.seek(-1, 1)
    fh.write(bytes([b[0] ^ 0xFF]))
try:
    spark.read.parquet(bad).collect()
    out["corrupt"] = "read"
except Exception as e:
    out["corrupt"] = "ChecksumException" if "ChecksumException" in str(e) else str(e)[:300]
"""
    out = _session(
        home, tmp_path / "cache", tmp_path,
        {"spark.hadoop.fs.permissions.umask-mode": "027"}, extra=ops,
        pre="import os; os.umask(0o027)",
        env={"PATH": f"{bin_dir}{os.pathsep}{os.environ['PATH']}"},
    )
    assert out["fs"] == session.FS_IMPL
    assert out["write_forks"] == 0 and out["index_forks"] == 0, log.read_text()
    assert out["rows"] == 300
    assert out["sticky_mode"] == 0o1750
    assert out["corrupt"] == "ChecksumException"
    n_files = 0
    for root in (tbl, idx):
        for d, dirs, files in os.walk(root):
            assert os.stat(d).st_mode & 0o777 == 0o777 & ~0o027, d
            for f in files:
                assert os.stat(os.path.join(d, f)).st_mode & 0o777 == 0o666 & ~0o027, f
                if f.endswith(".parquet"):
                    assert f".{f}.crc" in files
                    n_files += 1
    assert n_files > 10


def test_plain_caller_jar_still_starts(tmp_path):
    """A caller's plain-path spark.jars entry joins the engine jar as a
    local: URI and its resources load."""
    import zipfile

    jar = tmp_path / "own.jar"
    with zipfile.ZipFile(jar, "w") as z:
        z.writestr("geomesa-probe.txt", "probe")
    home = _spark_home(tmp_path / "spark", {"spark-defaults.conf": "# none\n"})
    probe = """
out["res"] = spark._jvm.java.lang.Thread.currentThread().getContextClassLoader().getResource(
    "geomesa-probe.txt") is not None
"""
    out = _session(home, tmp_path / "cache", tmp_path, {"spark.jars": str(jar)}, extra=probe)
    assert out["sum"] == 4950 and out["res"]
    jars = out["conf"]["spark.jars"].split(",")
    assert f"local:{jar}" in jars
    assert any(j.startswith("local:") and "/engine-" in j for j in jars)
    assert out["conf"]["spark.hadoop.fs.file.impl"] == session.FS_IMPL


def test_no_compiler_starts_on_stock_filesystem(tmp_path):
    """A JDK without javac: one warning, and the session starts without the
    engine jar or the file: filesystem swap."""
    jdk = tmp_path / "jdk" / "bin"
    jdk.mkdir(parents=True)
    (jdk / "java").symlink_to(os.path.realpath(shutil.which("java")))
    home = _spark_home(tmp_path / "spark", {"spark-defaults.conf": "# none\n"})
    out = _session(home, tmp_path / "cache", tmp_path, env={"JAVA_HOME": str(tmp_path / "jdk")})
    assert out["sum"] == 4950
    assert "spark.hadoop.fs.file.impl" not in out["conf"]
    assert "engine-" not in out["conf"].get("spark.jars", "")
    assert out["stderr"].count("starting on the stock file: filesystem") == 1


def test_engine_jar_conf(tmp_path, monkeypatch):
    """Local spark.jars entries become local: URIs (globs expanded, other
    schemes kept) next to the engine jar; the file: filesystem is left
    stock when SparkSubmit would resolve other file lists through it, and a
    caller's own fs.file.impl wins. The engine jar is a stand-in: the
    build is tested through build.sh and the subprocess sessions."""
    for name in ("a.jar", "b.jar", "engine.jar"):
        (tmp_path / name).write_bytes(b"")
    engine = tmp_path / "engine.jar"
    monkeypatch.setattr(session, "engine_jar", lambda: str(engine))
    monkeypatch.chdir(tmp_path / "..")
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)
    conf = {"spark.jars": f"{tmp_path.name}/a.jar, file:{tmp_path}/[ab].jar,hdfs://nn/c.jar"}
    session._use_engine_jar(conf)
    assert conf["spark.jars"].split(",") == [
        f"local:{engine}", f"local:{tmp_path}/a.jar", f"local:{tmp_path}/b.jar", "hdfs://nn/c.jar"]
    assert conf["spark.hadoop.fs.file.impl"] == session.FS_IMPL
    conf = {"spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem"}
    session._use_engine_jar(conf)
    assert conf["spark.hadoop.fs.file.impl"] == "org.apache.hadoop.fs.LocalFileSystem"
    for files in ("spark.files", "spark.submit.pyFiles", "spark.archives", "spark.jars.packages"):
        conf = {files: str(tmp_path / "a.jar")}
        session._use_engine_jar(conf)
        assert conf["spark.jars"] == f"local:{engine}"
        assert "spark.hadoop.fs.file.impl" not in conf
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", f"--files {tmp_path}/a.jar pyspark-shell")
    conf = {}
    session._use_engine_jar(conf)
    assert "spark.hadoop.fs.file.impl" not in conf
    # the classpath extension scan goes, MLlib's lazy registration joins a
    # caller's extensions; a caller's loadFromCp=true keeps the scan alone
    conf = {"spark.sql.extensions": "caller.Ext"}
    session._use_engine_jar(conf)
    assert conf[session._LOAD_EXTENSIONS_FROM_CP] == "false"
    assert conf["spark.sql.extensions"] == f"{session._ML_FUNCTIONS},caller.Ext"
    conf = {session._LOAD_EXTENSIONS_FROM_CP: "true"}
    session._use_engine_jar(conf)
    assert "spark.sql.extensions" not in conf


@pytest.mark.skipif(session._jdk_tool("javac") is None, reason="no JDK compiler")
def test_build_script_copies_the_engine_jar(tmp_path):
    """jvm/build.sh copies the one cached engine jar to dist/: both
    packages under jvm/src, class files for the oldest supported Java."""
    import zipfile

    tree = tmp_path / "tree"
    shutil.copytree(os.path.join(REPO, "jvm", "src"), tree / "jvm" / "src")
    shutil.copy(os.path.join(REPO, "jvm", "build.sh"), tree / "jvm" / "build.sh")
    shutil.copytree(os.path.join(REPO, "geomesa_spark"), tree / "geomesa_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["XDG_CACHE_HOME"] = str(tmp_path / "cache")
    r = subprocess.run(["/bin/sh", str(tree / "jvm" / "build.sh")], cwd=tmp_path, env=env,
                       capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-4000:]
    dist = tree / "dist" / "geomesa-spark-ext.jar"
    cached = list((tmp_path / "cache" / "geomesa_spark").glob("engine-*.jar"))
    assert len(cached) == 1 and dist.read_bytes() == cached[0].read_bytes()
    with zipfile.ZipFile(dist) as z:
        names = z.namelist()
        assert "geomesaspark/ext/SpatialExtensions.class" in names
        assert f"{session.FS_IMPL.replace('.', '/')}.class" in names
        major = int.from_bytes(z.read(f"{session.FS_IMPL.replace('.', '/')}.class")[6:8], "big")
    assert major == 44 + int(session._JAVA_RELEASE)
