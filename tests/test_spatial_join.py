"""Spatial-join parity vs a brute-force numpy oracle (SURVEY §5 test plan d):
cell-cover join output rows must equal exact PIP over the cross product, with
no duplicates and no misses — the 'no match'/'invalid match' invariants of
XZ2SFCTest applied end-to-end through Spark."""

import numpy as np
import pandas as pd
import pytest

from geomesa_spark.core import cells
from geomesa_spark.core.geometry import from_wkt, points_in_polygon, polygon_edges
from geomesa_spark.operators.spatial_join import (
    add_cell_column,
    prepare_polygons,
    spatial_join,
)
from geomesa_spark.sources import images as src

POLYS = {
    "nyc_box": "POLYGON((-74.3 40.4, -73.7 40.4, -73.7 41.0, -74.3 41.0, -74.3 40.4))",
    "paris_hex": "POLYGON((2.1 48.7, 2.5 48.6, 2.7 48.9, 2.4 49.1, 2.0 49.0, 2.1 48.7))",
    "tokyo_skinny": "POLYGON((139.0 35.5, 140.4 35.6, 140.4 35.75, 139.0 35.65, 139.0 35.5))",
    "big_band": "POLYGON((-180 -10, 180 -10, 180 10, -180 10, -180 -10))",
    "concave": "POLYGON((150.8 -34.3, 151.6 -34.3, 151.6 -33.4, 150.8 -33.4, 150.8 -33.9, 151.3 -33.9, 151.3 -33.8, 150.8 -33.8, 150.8 -34.3))",
}

N = 4000


def oracle_pairs(pdf: pd.DataFrame) -> set:
    out = set()
    for pid, wkt in POLYS.items():
        g = from_wkt(wkt)
        edges = polygon_edges(g)
        hit = points_in_polygon(
            pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), edges, include_boundary=True
        )
        out |= {(img_id, pid) for img_id in pdf.loc[hit, "image_id"]}
    return out


@pytest.fixture(scope="module")
def points_pdf():
    return src.generate_batch(np.arange(N))


@pytest.fixture(scope="module")
def points_df(spark, points_pdf):
    df = spark.createDataFrame(points_pdf[["image_id", "lon", "lat"]])
    return df.cache()


def test_cell_expr_spark_matches_numpy(spark, points_pdf):
    df = spark.createDataFrame(points_pdf[["image_id", "lon", "lat"]])
    for res in (5, 14):
        got = (
            add_cell_column(df, res)
            .orderBy("image_id")
            .select("cell")
            .toPandas()["cell"]
            .to_numpy()
        )
        exp = cells.encode(
            points_pdf.sort_values("image_id")["lon"].to_numpy(),
            points_pdf.sort_values("image_id")["lat"].to_numpy(),
            res,
        )
        np.testing.assert_array_equal(got, exp)


@pytest.mark.parametrize("strategy", ["broadcast", "shuffle"])
def test_join_parity(spark, points_df, points_pdf, strategy):
    res = spatial_join(points_df, POLYS, strategy=strategy).select("image_id", "poly_id")
    got = {(r.image_id, r.poly_id) for r in res.collect()}
    expect = oracle_pairs(points_pdf)
    missing = expect - got
    extra = got - expect
    assert not missing, f"join missed {len(missing)} pairs, e.g. {list(missing)[:5]}"
    assert not extra, f"join produced {len(extra)} wrong pairs, e.g. {list(extra)[:5]}"
    # no duplicates (quadtree cover cells are disjoint by construction)
    assert res.count() == len(got)


def test_join_no_refine_for_rect_interior(spark, points_df):
    """Loose-bbox analog: for a fat rectangle, refine-free 'contained' cells
    must cover most of the polygon AREA, so the refine UDF only sees rows
    near the boundary."""
    from geomesa_spark.core.cells import cover_geometry
    from geomesa_spark.operators.spatial_join import pick_resolution

    g = from_wkt(POLYS["big_band"])
    cov = cover_geometry(g, pick_resolution(g), max_cells=2048)

    def area(cells_list):
        return sum(4.0 ** -r for r, _ in cells_list)  # relative cell area

    a_c, a_o = area(cov.contained), area(cov.overlapping)
    assert a_c / (a_c + a_o) > 0.8


def test_adaptive_resolution():
    from geomesa_spark.operators.spatial_join import pick_resolution

    tiny = from_wkt("POLYGON((0 0, 0.001 0, 0.001 0.001, 0 0.001, 0 0))")
    world = from_wkt("POLYGON((-170 -80, 170 -80, 170 80, -170 80, -170 -80))")
    assert pick_resolution(tiny) == 14  # clamped at max
    assert pick_resolution(world) <= 4


def test_cover_cache_evicts_least_recent(monkeypatch):
    import importlib
    from collections import OrderedDict

    # the package re-exports a function named spatial_join over the module
    sj = importlib.import_module("geomesa_spark.operators.spatial_join")
    monkeypatch.setattr(sj, "_COVER_CACHE", OrderedDict())
    monkeypatch.setattr(sj, "_COVER_CACHE_MAX", 3)
    boxes = [from_wkt(f"POLYGON(({i} 0, {i}.5 0, {i}.5 0.5, {i} 0.5, {i} 0))")
             for i in range(4)]
    first = [sj._cover_cached(g, 8, 64) for g in boxes[:3]]
    assert sj._cover_cached(boxes[0], 8, 64) is first[0]  # hit refreshes box 0
    sj._cover_cached(boxes[3], 8, 64)  # overflow: evicts box 1, the oldest
    kept = {k[0] for k in sj._COVER_CACHE}
    assert kept == {sj.to_wkb(boxes[i]) for i in (0, 2, 3)}
    assert sj._cover_cached(boxes[2], 8, 64) is first[2]


def test_salted_shuffle_splits_hot_cell(spark):
    """The salt must be a PER-ROW hash, not a function of the join key: every
    row of one hot cell must spread across >= salt_buckets/2 post-join
    partitions (ShardStrategy.scala:71-79 analog — the shard byte hashes the
    feature id, never the z-key)."""
    import pandas as pd
    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    n = 2000
    # all rows within ~100 m of one point -> one res-14 cell (hot cell)
    pdf = pd.DataFrame(
        {
            "image_id": [f"i{i}" for i in range(n)],
            "lon": -74.006 + rng.uniform(-5e-4, 5e-4, n),
            "lat": 40.713 + rng.uniform(-5e-4, 5e-4, n),
        }
    )
    df = spark.createDataFrame(pdf)
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")  # no coalescing
    try:
        out = spatial_join(
            df, {"nyc": POLYS["nyc_box"]}, strategy="shuffle", salt_buckets=8
        ).withColumn("pid", F.spark_partition_id())
        pids = out.select("pid").toPandas()["pid"]
        assert len(pids) == n  # parity: every row matches the box
        assert pids.nunique() >= 4, f"hot cell landed in {pids.nunique()} partitions"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_salt_splits_exact_duplicate_points(spark):
    """Exact-duplicate coordinates (default-geotag pathology) are the case a
    lon/lat-derived salt provably cannot split: every row hashes alike. The
    salt must hash the row's ID column (ShardStrategy.scala:71-79 hashes the
    feature id) so duplicate points still spread across reducers."""
    import pandas as pd
    from pyspark.sql import functions as F

    n = 2000
    pdf = pd.DataFrame(
        {
            "image_id": [f"i{i}" for i in range(n)],
            "lon": [-74.006] * n,   # all rows: the IDENTICAL coordinate
            "lat": [40.713] * n,
        }
    )
    df = spark.createDataFrame(pdf)
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")  # no coalescing
    try:
        out = spatial_join(
            df, {"nyc": POLYS["nyc_box"]}, strategy="shuffle", salt_buckets=8
        ).withColumn("pid", F.spark_partition_id())
        pids = out.select("pid").toPandas()["pid"]
        assert len(pids) == n
        assert pids.nunique() >= 4, f"duplicate points in {pids.nunique()} partitions"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


@pytest.mark.parametrize("strategy", ["broadcast", "shuffle"])
def test_join_parity_s2_scheme(spark, points_df, points_pdf, strategy):
    """scheme="s2" (VERDICT r4 next-round #5): the spherical S2 curve wired
    through the SAME cover/refine plan must produce the identical pair set
    as the Z2 default and the brute-force oracle — including the polygon
    set's antimeridian-adjacent band and concave shapes."""
    res = spatial_join(
        points_df, POLYS, strategy=strategy, scheme="s2"
    ).select("image_id", "poly_id")
    got = {(r.image_id, r.poly_id) for r in res.collect()}
    expect = oracle_pairs(points_pdf)
    assert got == expect
    # no duplicates (S2 BFS covers are disjoint by construction too)
    assert res.count() == len(got)


def test_s2_cover_polar_polygon_sound(spark):
    """A polar-cap polygon breaks a naive lon/lat quadtree assumption; the
    S2 cover must stay complete there (every inside point's ancestor hits
    a cover cell) — the scheme's raison d'etre."""
    from geomesa_spark.core import s2

    g = from_wkt("POLYGON ((-180 84, 180 84, 180 90, -180 90, -180 84))")
    cov = s2.cover_geometry(g, 8)
    covmap = {}
    for lv, c in cov.contained + cov.overlapping:
        covmap.setdefault(lv, set()).add(c)
    rng = np.random.RandomState(9)
    plon = rng.uniform(-180, 180, 2000)
    plat = rng.uniform(84.01, 89.99, 2000)
    leaf = s2.encode(plon, plat, 30)
    for k in range(len(plon)):
        hits = sum(
            int(s2.parent(np.array([leaf[k]]), lv)[0]) in cs
            for lv, cs in covmap.items()
        )
        assert hits == 1  # complete AND disjoint
