"""Planner decisions, stats DSL, route search, lineage + checkpoint-resume."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geomesa_spark.operators.stats import run_stats, z3_histogram
from geomesa_spark.operators.tracks import route_search
from geomesa_spark.plans.lineage import (
    checkpointed_write,
    completed_buckets,
    read_checkpointed,
    with_lineage,
)
from geomesa_spark.plans.planner import (
    FullTableScanBlocked,
    plan_query,
)

BOX = "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))"
PENT = "POLYGON((0 0, 8 -2, 12 6, 4 10, -3 5, 0 0))"


class TestPlanner:
    def test_attribute_beats_spatial(self):
        p = plan_query(geom=BOX, attr_equality=True)
        assert p.strategy == "attribute" and p.cost == 1

    def test_spatiotemporal_beats_spatial(self):
        p = plan_query(geom=BOX, time_range=("2024-01-01", "2024-01-02"))
        assert p.strategy == "z3" and p.cost == 200

    def test_spatial_only(self):
        p = plan_query(geom=BOX)
        assert p.strategy == "z2" and p.cost == 400
        assert p.join_exec == "broadcast"
        assert p.refine in ("native-box", "none")

    def test_pip_refine_for_non_box(self):
        p = plan_query(geom=PENT)
        assert p.refine == "arrow-pip"
        assert p.cover_overlapping > 0

    def test_full_scan_guard(self):
        with pytest.raises(FullTableScanBlocked):
            plan_query(est_rows=100_000)
        p = plan_query(est_rows=100_000, allow_full_scan=True)
        assert p.strategy == "full-scan"
        assert plan_query(est_rows=10).strategy == "full-scan"  # small is fine

    def test_explain_readable(self):
        s = plan_query(geom=BOX, time_range=("a", "b")).explain()
        assert "z3" in s and "cover" in s and "partition pruning" in s


class TestStatsDSL:
    @pytest.fixture(scope="class")
    def df(self, spark):
        pdf = pd.DataFrame(
            {
                "v": np.arange(100, dtype=np.float64),
                "cat": ["a", "b"] * 50,
                "lon": np.linspace(-10, 10, 100),
                "lat": np.linspace(-5, 5, 100),
                "ts": pd.to_datetime("2024-01-01")
                + pd.to_timedelta(np.arange(100) * 7200, unit="s"),
            }
        )
        return spark.createDataFrame(pdf)

    def test_full_spec(self, df):
        out = run_stats(
            df,
            "Count(); MinMax(v); Histogram(v,5,0,100); TopK(cat,1); "
            "Enumeration(cat); DescriptiveStats(v); Frequency(cat); "
            "IteratorStackCount()",
        )
        assert out["Count()"].collect()[0].cnt == 100
        mm = out["MinMax(v)"].collect()[0]
        assert mm.min_v == 0.0 and mm.max_v == 99.0
        hist = {r.bucket: r.n for r in out["Histogram(v,5,0,100)"].collect()}
        assert hist == {0: 20, 1: 20, 2: 20, 3: 20, 4: 20}
        freq = {r.value: r.n for r in out["Frequency(cat)"].collect()}
        assert freq == {"a": 50, "b": 50}
        pdf = df.toPandas()
        counts = pdf["cat"].value_counts()
        # TopK: highest count first, ties by value ascending
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:1]
        got = [(r.value, r.n, r.rnk) for r in out["TopK(cat,1)"].collect()]
        assert got == [(v, n, i + 1) for i, (v, n) in enumerate(top)]
        enum = {r.value: r.n for r in out["Enumeration(cat)"].collect()}
        assert enum == counts.to_dict()
        ds = out["DescriptiveStats(v)"].collect()[0]
        v = pdf["v"]
        assert ds.cnt == v.count()
        assert (ds.min_v, ds.max_v) == (v.min(), v.max())
        np.testing.assert_allclose(
            [ds.mean_v, ds.var_v, ds.std_v, ds.skew_v],
            [v.mean(), v.var(ddof=1), v.std(ddof=1), v.skew()],
            rtol=1e-9, atol=1e-12,
        )
        # Spark's kurtosis is the population excess kurtosis (Fisher, biased)
        z = (v - v.mean()) / v.std(ddof=0)
        assert ds.kurt_v == pytest.approx((z**4).mean() - 3.0, rel=1e-9)
        # no iterators: the stat counts the partitions that hold rows
        assert out["IteratorStackCount()"].collect()[0].cnt >= 1
        isc = run_stats(df.repartition(3), "IteratorStackCount()")
        assert isc["IteratorStackCount()"].collect()[0].cnt == 3

    def test_groupby_stat(self, df):
        mm, top, hist = (
            "GroupBy(cat, MinMax(v))", "GroupBy(cat, TopK(v,1))",
            "GroupBy(cat, Histogram(v,5,0,100))",
        )
        stats = run_stats(df, f"{mm}; {top}; {hist}")
        out = {spec: frame.toPandas() for spec, frame in stats.items()}
        pdf = df.toPandas()

        got = out[mm]
        rows = {r.cat: (r.min_v, r.max_v) for r in got.itertuples()}
        assert rows == {"a": (0.0, 98.0), "b": (1.0, 99.0)}
        # HLL++ at its default 5% relative standard deviation
        assert ((got["approx_distinct"] - 50).abs() <= 10).all()

        # every v is distinct, so each group's top value is its smallest
        got = out[top]
        assert sorted(got.columns) == ["cat", "n", "rnk", "value"]
        assert (got["n"] == 1).all() and (got["rnk"] == 1).all()
        want = pdf.groupby("cat")["v"].min()
        assert dict(zip(got["cat"], got["value"])) == want.to_dict()

        got = out[hist]
        bucket = np.clip(np.floor(pdf["v"] / 20.0), 0, 4).astype(np.int64)
        want = pdf.assign(bucket=bucket).groupby(["cat", "bucket"]).size()
        assert sorted(got.columns) == ["bucket", "cat", "n"]
        assert got.set_index(["cat", "bucket"])["n"].to_dict() == want.to_dict()

    def test_groupby_iterator_stack_count(self, df):
        spec = "GroupBy(cat, IteratorStackCount())"
        got = run_stats(df.coalesce(1), spec)[spec].toPandas()
        assert sorted(got.columns) == ["cat", "cnt"]
        assert sorted(got["cat"]) == ["a", "b"]
        assert (got["cnt"] == 1).all()

    def test_z3_histogram(self, df):
        out = z3_histogram(df, period="day", res=2).toPandas()
        assert out["n"].sum() == 100
        assert out["time_bin"].nunique() >= 8  # 100 * 2h ~ 8+ days


def test_route_search(spark):
    # route due east along the equator; points on/off route with headings
    route = pd.DataFrame({"lon": [0.0, 1.0, 2.0], "lat": [0.0, 0.0, 0.0]})
    pts = pd.DataFrame(
        {
            "pid": [1, 2, 3, 4],
            "lon": [0.5, 1.5, 0.5, 20.0],
            "lat": [0.05, -0.05, 0.05, 0.0],
            "heading": [92.0, 88.0, 180.0, 90.0],  # 3=wrong heading, 4=off route
        }
    )
    out = route_search(
        spark.createDataFrame(pts), route, buffer_m=20_000, heading_tol_deg=30
    )
    got = sorted(r.pid for r in out.select("pid").collect())
    assert got == [1, 2]


class TestLineage:
    def test_with_lineage_columns(self, spark):
        df = spark.range(10)
        out = with_lineage(df, "run42")
        rows = out.collect()
        assert all(r.lineage_run == "run42" for r in rows)
        assert {"lineage_part"} <= set(out.columns)

    def test_checkpoint_resume(self, spark, tmp_path):
        path = str(tmp_path / "ckpt")
        df = spark.range(100).withColumn("bucket", (F.col("id") % 4).cast("int"))

        m1 = checkpointed_write(df, path, bucket_col="bucket", n_buckets=4)
        assert len(m1["written"]) == 4 and m1["skipped"] == []
        assert completed_buckets(path) == {0, 1, 2, 3}
        # hash-sharding may leave a bucket empty; totals must be exact
        assert sum(e["rows"] for e in m1["written"]) == 100
        assert all("seconds" in e for e in m1["written"])

        # resume: nothing left to do
        m2 = checkpointed_write(df, path, bucket_col="bucket", n_buckets=4)
        assert m2["written"] == [] and m2["skipped"] == [0, 1, 2, 3]

        back = read_checkpointed(spark, path)
        assert back.count() == 100

    def test_single_scan_and_untouched_resume(self, spark, tmp_path):
        """One input scan per checkpointed_write call regardless of bucket
        count (proved by an accumulator counting row visits), and resume
        leaves completed bucket files byte-untouched."""
        import os

        import pandas as pd

        path = str(tmp_path / "ckpt2")
        acc = spark.sparkContext.accumulator(0)

        def counted(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf

        df = (
            spark.range(200)
            .withColumn("k", (F.col("id") % 7).cast("int"))
            .mapInPandas(counted, schema="id long, k int")
        )
        m1 = checkpointed_write(df, path, bucket_col="k", n_buckets=16)
        assert len(m1["written"]) == 16
        assert acc.value == 200, f"input scanned {acc.value / 200:.1f}x, want 1x"

        # simulate a crash: drop manifests for two buckets, then resume
        for b in (3, 5):
            os.remove(os.path.join(path, "_manifest", f"bucket_{b}.json"))
        snapshot = {}
        for d in os.listdir(path):
            if d.startswith("ckpt_bucket=") and d not in (
                "ckpt_bucket=3", "ckpt_bucket=5"
            ):
                for f in os.listdir(os.path.join(path, d)):
                    fp = os.path.join(path, d, f)
                    snapshot[fp] = os.stat(fp).st_mtime_ns
        m2 = checkpointed_write(df, path, bucket_col="k", n_buckets=16)
        assert sorted(e["bucket"] for e in m2["written"]) == [3, 5]
        for fp, mt in snapshot.items():
            assert os.stat(fp).st_mtime_ns == mt, f"completed bucket touched: {fp}"
        assert read_checkpointed(spark, path).count() == 200


def test_route_search_exact_corridor(spark):
    """Over-inclusion fix: a point laterally outside buffer_m but inside the
    old midpoint-disc (radius buffer + seg_len/2) must now be excluded; the
    exact point-to-segment refine keeps only true corridor members."""
    route = pd.DataFrame({"lon": [0.0, 4.0], "lat": [0.0, 0.0]})  # ~445 km seg
    pts = pd.DataFrame(
        {
            "pid": [1, 2, 3],
            "lon": [2.0, 2.0, 2.0],
            # 1: 10 km off-route (in); 2: 80 km off (out, though inside the
            # old disc of radius 50+222 km); 3: past the end cap
            "lat": [0.09, 0.72, 0.0],
            "heading": [90.0, 90.0, 90.0],
        }
    )
    pts.loc[2, "lon"] = 5.0  # 111 km beyond the segment end
    out = route_search(
        spark.createDataFrame(pts), route, buffer_m=50_000, heading_tol_deg=30
    )
    rows = {r.pid: r.route_dist_m for r in out.collect()}
    assert set(rows) == {1}
    assert abs(rows[1] - 0.09 * 111194.93) < 200


def test_tube_select_interpolated_refine(spark):
    """Exact tube semantics (TubeBuilder.scala:50-270 analog): membership is
    distance to the track position INTERPOLATED at the row's time, not to the
    bin centroid — same place at the wrong time must be excluded."""
    from geomesa_spark.operators.tracks import tube_select

    track = pd.DataFrame(
        {"lon": [0.0, 10.0], "lat": [0.0, 0.0], "ts_s": [0.0, 1000.0]}
    )
    pts = pd.DataFrame(
        {
            "pid": [1, 2, 3, 4],
            "lon": [5.0, 5.0, 0.1, 5.0],
            "lat": [0.1, 0.1, 0.0, 3.0],
            # 1: at the interp position at t=500 (in); 2: same place at t=50
            #   when the track is near lon 0.5 (out); 3: near start at t=0
            #   (in); 4: 330 km laterally off at the right time (out)
            "ts_s": [500.0, 50.0, 0.0, 500.0],
        }
    )
    out = tube_select(
        spark.createDataFrame(pts), track, buffer_m=100_000.0, ts="ts_s"
    )
    got = {r.pid for r in out.collect()}
    assert got == {1, 3}
