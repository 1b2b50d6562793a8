"""SQL surface tests for the st_* function catalog — golden semantics from
the reference's SparkSQLSpatialRelationshipsTest fixture (boxRef + interior/
edge/corner/exterior points) exercised END-TO-END through spark.sql."""

from __future__ import annotations

import json
import math

import pytest
from pyspark.sql import Row

from geomesa_spark.functions.st_funcs import (
    ST_FUNCTIONS,
    geohash_decode_bounds,
    geohash_encode,
    register_st_functions,
)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    n = register_st_functions(spark)
    assert n >= 60


BOX = "POLYGON((0 0, 0 10, 10 10, 10 0, 0 0))"


def _sql1(spark, expr):
    return spark.sql(f"SELECT {expr} AS v").collect()[0].v


def test_catalog_size():
    assert len(ST_FUNCTIONS) >= 60


def test_contains_fixture(spark):
    # interior / edge / corner / exterior — reference golden expectations
    cases = {
        "POINT(5 5)": True,     # interior
        "POINT(0 5)": False,    # edge (contains excludes boundary)
        "POINT(0 0)": False,    # corner
        "POINT(15 5)": False,   # exterior
    }
    for wkt, want in cases.items():
        got = _sql1(
            spark,
            f"st_contains(st_geomFromWKT('{BOX}'), st_geomFromWKT('{wkt}'))",
        )
        assert got == want, wkt


def test_covers_includes_boundary(spark):
    for wkt in ("POINT(5 5)", "POINT(0 5)", "POINT(0 0)"):
        assert _sql1(
            spark, f"st_covers(st_geomFromWKT('{BOX}'), st_geomFromWKT('{wkt}'))"
        )
    assert not _sql1(
        spark, f"st_covers(st_geomFromWKT('{BOX}'), st_geomFromWKT('POINT(11 5)'))"
    )


def test_intersects_within_disjoint(spark):
    a = "LINESTRING(-5 5, 15 5)"
    assert _sql1(spark, f"st_intersects(st_geomFromWKT('{BOX}'), st_geomFromWKT('{a}'))")
    assert _sql1(spark, f"st_within(st_geomFromWKT('POINT(3 3)'), st_geomFromWKT('{BOX}'))")
    assert _sql1(
        spark, f"st_disjoint(st_geomFromWKT('{BOX}'), st_geomFromWKT('POINT(20 20)'))"
    )


def test_constructors_accessors(spark):
    assert _sql1(spark, "st_x(st_makePoint(3.5, -7.25))") == 3.5
    assert _sql1(spark, "st_y(st_makePoint(3.5, -7.25))") == -7.25
    assert _sql1(spark, f"st_geometryType(st_geomFromWKT('{BOX}'))") == "Polygon"
    assert _sql1(spark, f"st_dimension(st_geomFromWKT('{BOX}'))") == 2
    assert _sql1(spark, f"st_numPoints(st_geomFromWKT('LINESTRING(0 0, 1 1, 2 2)'))") == 3
    assert _sql1(spark, "st_area(st_makeBBOX(0, 0, 10, 10))") == 100.0
    assert _sql1(spark, f"st_length(st_geomFromWKT('LINESTRING(0 0, 3 4)'))") == 5.0


def test_outputs_roundtrip(spark):
    wkt = _sql1(spark, "st_asText(st_makePoint(1, 2))")
    assert wkt.replace(" ", "").startswith("POINT(1")
    gj = json.loads(_sql1(spark, f"st_asGeoJSON(st_geomFromWKT('POINT(1 2)'))"))
    assert gj == {"type": "Point", "coordinates": [1.0, 2.0]}
    # WKB -> geom -> WKT round trip through two functions
    assert "POLYGON" in _sql1(
        spark, f"st_asText(st_geomFromWKB(st_asBinary(st_geomFromWKT('{BOX}'))))"
    )


def test_distance_sphere(spark):
    # Paris <-> London great-circle ~343.5 km
    d = _sql1(
        spark,
        "st_distanceSphere(st_makePoint(2.3522, 48.8566), st_makePoint(-0.1276, 51.5072))",
    )
    assert abs(d - 343_500) < 3_000


def test_distance_planar(spark):
    """st_distance is the distance between the geometries, not between
    their nearest vertices: 0 when one contains the other, and a point's
    offset from a segment's interior."""
    sq = "st_geomFromWKT('POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))')"
    assert _sql1(spark, f"st_distance({sq}, st_geomFromWKT('POINT(5 5)'))") == 0.0
    line = "st_geomFromWKT('LINESTRING(0 0, 10 0)')"
    assert _sql1(
        spark, f"st_distance({line}, st_geomFromWKT('POINT(5 1)'))"
    ) == pytest.approx(1.0)


def test_translate_and_centroid(spark):
    c = _sql1(
        spark,
        f"st_asText(st_centroid(st_translate(st_geomFromWKT('{BOX}'), 10, 0)))",
    )
    assert "15" in c and "5" in c


def test_geohash_roundtrip_sql(spark):
    gh = _sql1(spark, "st_geoHash(st_makePoint(2.3522, 48.8566), 35)")
    assert isinstance(gh, str) and len(gh) == 7
    x0, y0, x1, y1 = geohash_decode_bounds(gh)
    assert x0 <= 2.3522 <= x1 and y0 <= 48.8566 <= y1
    # center point of decoded bounds returns same hash
    assert geohash_encode((x0 + x1) / 2, (y0 + y1) / 2, 35) == gh


def test_antimeridian_safe(spark):
    wkt = _sql1(
        spark,
        "st_asText(st_antimeridianSafeGeom(st_geomFromWKT('POINT(190 10)')))",
    )
    assert "-170" in wkt


def test_buffer_point_contains_nearby(spark):
    got = _sql1(
        spark,
        "st_contains(st_bufferPoint(st_makePoint(0, 45), 10000), st_makePoint(0.05, 45))",
    )
    # 0.05 deg lon at 45N ~ 3.9 km < 10 km buffer
    assert got is True


def test_dataframe_api_usage(spark):
    """st_* callables usable directly on DataFrames (not only via SQL)."""
    from pyspark.sql import functions as F

    udf, _ = ST_FUNCTIONS["st_makePoint"]
    df = spark.range(3).select(
        F.col("id").cast("double").alias("x"), F.lit(1.0).alias("y")
    )
    out = df.select(ST_FUNCTIONS["st_asText"][0](udf(F.col("x"), F.col("y"))).alias("w"))
    rows = [r.w for r in out.collect()]
    assert rows[0].startswith("POINT")


def test_null_propagation(spark):
    assert _sql1(spark, "st_geomFromWKT(CAST(NULL AS STRING))") is None
    assert (
        _sql1(
            spark,
            "st_contains(CAST(NULL AS BINARY), st_geomFromWKT('POINT(0 0)'))",
        )
        is None
    )


# --- round-2 surface: overlay, relate matrix, constructors, ring accessors --


def test_st_relate_matrix(spark):
    """DE-9IM matrices pinned to JTS-golden values
    (SpatialRelationFunctions.scala:40 st_relate)."""
    box = "st_geomFromWKT('POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))')"
    cases = {
        "st_geomFromWKT('POLYGON((2 2, 5 2, 5 5, 2 5, 2 2))')": "212FF1FF2",
        "st_geomFromWKT('POLYGON((5 5, 15 5, 15 15, 5 15, 5 5))')": "212101212",
        "st_geomFromWKT('POLYGON((20 0, 25 0, 25 5, 20 5, 20 0))')": "FF2FF1212",
    }
    for other, exp in cases.items():
        assert _sql1(spark, f"st_relate({box}, {other})") == exp


def test_st_relate_bool_pattern(spark):
    box = "st_geomFromWKT('POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))')"
    inner = "st_geomFromWKT('POLYGON((2 2, 5 2, 5 5, 2 5, 2 2))')"
    # contains pattern
    assert _sql1(spark, f"st_relateBool({box}, {inner}, 'T*****FF*')") is True
    assert _sql1(spark, f"st_relateBool({inner}, {box}, 'T*****FF*')") is False


def test_st_intersection_and_difference(spark):
    a = "st_geomFromWKT('POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))')"
    b = "st_geomFromWKT('POLYGON((5 5, 15 5, 15 15, 5 15, 5 5))')"
    assert _sql1(spark, f"st_area(st_intersection({a}, {b}))") == pytest.approx(25.0)
    assert _sql1(spark, f"st_area(st_difference({a}, {b}))") == pytest.approx(75.0)
    # disjoint -> empty intersection (NULL), full difference
    c = "st_geomFromWKT('POLYGON((20 20, 21 20, 21 21, 20 21, 20 20))')"
    assert _sql1(spark, f"st_intersection({a}, {c})") is None
    assert _sql1(spark, f"st_area(st_difference({a}, {c}))") == pytest.approx(100.0)
    # contained clip -> polygon with hole
    d = "st_geomFromWKT('POLYGON((3 3, 4 3, 4 4, 3 4, 3 3))')"
    assert _sql1(spark, f"st_area(st_difference({a}, {d}))") == pytest.approx(99.0)


def test_st_closest_point(spark):
    a = "st_geomFromWKT('POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))')"
    p = "st_geomFromWKT('POINT(15 5)')"
    assert _sql1(spark, f"st_asText(st_closestPoint({a}, {p}))") == "POINT (10 5)"
    line = "st_geomFromWKT('LINESTRING(0 0, 10 0)')"
    assert _sql1(
        spark, f"st_asText(st_closestPoint({line}, st_geomFromWKT('POINT(3 4)')))"
    ) == "POINT (3 0)"
    # the nearest point is a vertex of the first geometry
    vee = "st_geomFromWKT('LINESTRING(0 1, 1 0.1, 2 1)')"
    axis = "st_geomFromWKT('LINESTRING(-10 0, 10 0)')"
    assert _sql1(spark, f"st_asText(st_closestPoint({vee}, {axis}))") == "POINT (1 0.1)"
    # a box containing a C-shape: the answer is a common point, C's first vertex
    big = "st_geomFromWKT('POLYGON((-1 -1, 4 -1, 4 4, -1 4, -1 -1))')"
    c = "st_geomFromWKT('POLYGON((0 0, 3 0, 3 1, 1 1, 1 2, 3 2, 3 3, 0 3, 0 0))')"
    assert _sql1(spark, f"st_asText(st_closestPoint({big}, {c}))") == "POINT (0 0)"


def test_make_line_polygon(spark):
    wkt = _sql1(
        spark,
        "st_asText(st_makeLine(array(st_makePoint(0, 0), st_makePoint(1, 1), "
        "st_makePoint(2, 0))))",
    )
    assert wkt == "LINESTRING (0 0, 1 1, 2 0)"
    area = _sql1(
        spark,
        "st_area(st_makePolygon(st_geomFromWKT('LINESTRING(0 0, 4 0, 4 4, 0 4, 0 0)')))",
    )
    assert area == pytest.approx(16.0)
    assert _sql1(
        spark,
        "st_polygon(st_geomFromWKT('LINESTRING(0 0, 4 0, 4 4)'))",  # not closed
    ) is None


def test_ring_accessors(spark):
    closed = "st_geomFromWKT('LINESTRING(0 0, 4 0, 4 4, 0 4, 0 0)')"
    open_ = "st_geomFromWKT('LINESTRING(0 0, 4 0, 4 4)')"
    bowtie = "st_geomFromWKT('LINESTRING(0 0, 10 10, 10 0, 0 10, 0 0)')"
    assert _sql1(spark, f"st_isClosed({closed})") is True
    assert _sql1(spark, f"st_isClosed({open_})") is False
    assert _sql1(spark, f"st_isRing({closed})") is True
    assert _sql1(spark, f"st_isRing({bowtie})") is False
    assert _sql1(spark, f"st_isSimple({open_})") is True
    assert _sql1(spark, f"st_isSimple({bowtie})") is False
    ring = _sql1(
        spark,
        "st_asText(st_interiorRingN(st_geomFromWKT("
        "'POLYGON((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 3 2, 3 3, 2 3, 2 2))'), 1))",
    )
    assert ring == "LINESTRING (2 2, 3 2, 3 3, 2 3, 2 2)"


def test_antimeridian_polygon_split(spark):
    """A shell written 170..190 must split into a MultiPolygon at the
    dateline (not wrap into a ring the wrong way around the globe)."""
    wkt = _sql1(
        spark,
        "st_asText(st_antimeridianSafeGeom(st_geomFromWKT("
        "'POLYGON((170 10, 190 10, 190 20, 170 20, 170 10))')))",
    )
    assert wkt.startswith("MULTIPOLYGON")
    area = _sql1(
        spark,
        "st_area(st_antimeridianSafeGeom(st_geomFromWKT("
        "'POLYGON((170 10, 190 10, 190 20, 170 20, 170 10))')))",
    )
    assert area == pytest.approx(200.0)

def test_antimeridian_preserves_holes(spark):
    """Holed polygons nowhere near the dateline pass through UNCHANGED
    (round-2 regression: split_antimeridian rebuilt from the shell only)."""
    wkt = (
        "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 3 2, 3 3, 2 3, 2 2))"
    )
    out = _sql1(
        spark,
        f"st_asText(st_antimeridianSafeGeom(st_geomFromWKT('{wkt}')))",
    )
    assert out.count("(") == 3, out  # shell + hole still present
    area = _sql1(
        spark, f"st_area(st_antimeridianSafeGeom(st_geomFromWKT('{wkt}')))"
    )
    assert area == pytest.approx(99.0)


def test_antimeridian_shifts_holes_with_shell(spark):
    """An out-of-range holed polygon translates ALL rings together."""
    wkt = (
        "POLYGON((200 0, 210 0, 210 10, 200 10, 200 0),"
        " (202 2, 203 2, 203 3, 202 3, 202 2))"
    )
    area = _sql1(
        spark, f"st_area(st_antimeridianSafeGeom(st_geomFromWKT('{wkt}')))"
    )
    assert area == pytest.approx(99.0)
    out = _sql1(
        spark, f"st_asText(st_antimeridianSafeGeom(st_geomFromWKT('{wkt}')))"
    )
    assert "-160 0" in out and "-158 2" in out, out


def test_antimeridian_split_clips_holes(spark):
    """A dateline-spanning polygon with a hole keeps the hole's area out of
    both split parts (hole clipped by the same half-plane)."""
    wkt = (
        "POLYGON((170 10, 190 10, 190 20, 170 20, 170 10),"
        " (178 12, 182 12, 182 14, 178 14, 178 12))"
    )
    out = _sql1(
        spark, f"st_asText(st_antimeridianSafeGeom(st_geomFromWKT('{wkt}')))"
    )
    assert out.startswith("MULTIPOLYGON")
    area = _sql1(
        spark, f"st_area(st_antimeridianSafeGeom(st_geomFromWKT('{wkt}')))"
    )
    assert area == pytest.approx(200.0 - 8.0)


def test_overlay_point_second_argument(spark):
    """st_intersection/st_difference with the Point as the SECOND argument
    mirror the point-first short-circuit (round-2 asymmetry fix)."""
    a = f"st_geomFromWKT('{BOX}')"
    p_in = "st_geomFromWKT('POINT(5 5)')"
    p_out = "st_geomFromWKT('POINT(15 5)')"
    assert _sql1(spark, f"st_asText(st_intersection({a}, {p_in}))") == "POINT (5 5)"
    assert _sql1(spark, f"st_intersection({a}, {p_out})") is None
    # difference(area, point): the area unchanged (zero-measure removal)
    assert _sql1(spark, f"st_area(st_difference({a}, {p_in}))") == pytest.approx(100.0)
    # and the symmetric point-first forms still agree
    assert _sql1(spark, f"st_asText(st_intersection({p_in}, {a}))") == "POINT (5 5)"
    assert _sql1(spark, f"st_difference({p_in}, {a})") is None
