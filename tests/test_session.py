"""get_spark session start: the class-data archive (built once into the user
cache, mapped by later sessions, never fatal) and the Python worker daemon
(its import path, one daemon per session, the frozen preload).

Sessions that test the start run in their own subprocess with a temp
XDG_CACHE_HOME: the archive applies only where a process launches its
driver JVM, and this process's JVM may already be up. The subprocesses run
against a symlinked copy of SPARK_HOME whose conf dir the test controls."""

import gc
import json
import os
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


def _session(home, cache, cwd, extra_conf=None, extra=""):
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR")}
    env.update(SPARK_HOME=str(home), XDG_CACHE_HOME=str(cache), SPARK_GRAFT_DRIVER_MEM="2g")
    r = subprocess.run(
        [sys.executable, "-c", _PROBE.format(repo=REPO, extra=extra), json.dumps(extra_conf or {})],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=900,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


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
