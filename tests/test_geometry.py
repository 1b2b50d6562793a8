"""Geometry kernel tests, incl. the golden DE-9IM fixture copied from the
reference's SparkSQLSpatialRelationshipsTest.scala:50-140 (same WKTs, same
expected truth values)."""

import numpy as np
import pytest

from geomesa_spark.core import geometry as G

# --- golden fixture (WKTs from SparkSQLSpatialRelationshipsTest.scala) -------
BOX_REF = "POLYGON((0 0, 0 10, 10 10, 10 0, 0 0))"

POINTS = {
    "int": "POINT(5 5)",        # interior
    "edge": "POINT(0 5)",       # on edge
    "corner": "POINT(0 0)",     # on corner
    "ext": "POINT(-5 0)",       # exterior
}

BOXES = {
    "int": "POLYGON((1 1, 1 2, 2 2, 2 1, 1 1))",           # fully interior
    "intEdge": "POLYGON((0 1, 0 2, 1 2, 1 1, 0 1))",       # interior, shares edge
    "overlap": "POLYGON((-1 1, -1 2, 1 2, 1 1, -1 1))",    # straddles the edge
    "extEdge": "POLYGON((-1 1, -1 2, 0 2, 0 1, -1 1))",    # exterior, shares edge
    "ext": "POLYGON((-2 1, -2 2, -1 2, -1 1, -2 1))",      # fully exterior
    "corner": "POLYGON((-1 -1, -1 0, 0 0, 0 -1, -1 -1))",  # touches at corner
}


def rel(pred, a_wkt, b_wkt):
    return G.relate(G.from_wkt(a_wkt), G.from_wkt(b_wkt), pred)


class TestContains:
    def test_points(self):
        assert rel("contains", BOX_REF, POINTS["int"]) is True
        assert rel("contains", BOX_REF, POINTS["edge"]) is False
        assert rel("contains", BOX_REF, POINTS["corner"]) is False
        assert rel("contains", BOX_REF, POINTS["ext"]) is False

    def test_boxes(self):
        assert rel("contains", BOX_REF, BOXES["int"]) is True
        assert rel("contains", BOX_REF, BOXES["intEdge"]) is True
        assert rel("contains", BOX_REF, BOXES["overlap"]) is False
        assert rel("contains", BOX_REF, BOXES["extEdge"]) is False
        assert rel("contains", BOX_REF, BOXES["ext"]) is False
        assert rel("contains", BOX_REF, BOXES["corner"]) is False


class TestCovers:
    def test_points(self):
        assert rel("covers", BOX_REF, POINTS["int"]) is True
        assert rel("covers", BOX_REF, POINTS["edge"]) is True
        assert rel("covers", BOX_REF, POINTS["corner"]) is True
        assert rel("covers", BOX_REF, POINTS["ext"]) is False

    def test_boxes(self):
        assert rel("covers", BOX_REF, BOXES["int"]) is True
        assert rel("covers", BOX_REF, BOXES["intEdge"]) is True
        assert rel("covers", BOX_REF, BOXES["overlap"]) is False
        assert rel("covers", BOX_REF, BOXES["extEdge"]) is False
        assert rel("covers", BOX_REF, BOXES["ext"]) is False
        assert rel("covers", BOX_REF, BOXES["corner"]) is False


class TestWithinIntersectsDisjoint:
    def test_within(self):
        assert rel("within", POINTS["int"], BOX_REF) is True
        assert rel("within", POINTS["edge"], BOX_REF) is False
        assert rel("within", BOXES["int"], BOX_REF) is True
        assert rel("within", BOXES["overlap"], BOX_REF) is False

    def test_intersects(self):
        for k in ("int", "edge", "corner"):
            assert rel("intersects", BOX_REF, POINTS[k]) is True
        assert rel("intersects", BOX_REF, POINTS["ext"]) is False
        for k in ("int", "intEdge", "overlap", "extEdge", "corner"):
            assert rel("intersects", BOX_REF, BOXES[k]) is True
        assert rel("intersects", BOX_REF, BOXES["ext"]) is False

    def test_disjoint(self):
        assert rel("disjoint", BOX_REF, POINTS["ext"]) is True
        assert rel("disjoint", BOX_REF, BOXES["ext"]) is True
        assert rel("disjoint", BOX_REF, BOXES["corner"]) is False


class TestTouchesOverlapsCrossesEquals:
    def test_touches(self):
        assert rel("touches", BOX_REF, POINTS["edge"]) is True
        assert rel("touches", BOX_REF, POINTS["corner"]) is True
        assert rel("touches", BOX_REF, POINTS["int"]) is False
        assert rel("touches", BOX_REF, BOXES["extEdge"]) is True
        assert rel("touches", BOX_REF, BOXES["corner"]) is True
        assert rel("touches", BOX_REF, BOXES["overlap"]) is False
        assert rel("touches", BOX_REF, BOXES["intEdge"]) is False

    def test_overlaps(self):
        assert rel("overlaps", BOX_REF, BOXES["overlap"]) is True
        assert rel("overlaps", BOX_REF, BOXES["int"]) is False      # contained
        assert rel("overlaps", BOX_REF, BOXES["ext"]) is False
        assert rel("overlaps", BOX_REF, BOXES["extEdge"]) is False  # touches only

    def test_crosses(self):
        # line crossing the box
        assert rel("crosses", "LINESTRING(-5 5, 15 5)", BOX_REF) is True
        # line fully inside: within, not crosses
        assert rel("crosses", "LINESTRING(1 1, 2 2)", BOX_REF) is False
        # line touching the edge only
        assert rel("crosses", "LINESTRING(-5 0, 0 0)", BOX_REF) is False
        # line/line proper cross
        assert rel("crosses", "LINESTRING(0 -1, 0 1)", "LINESTRING(-1 0, 1 0)") is True
        # collinear overlap is not a cross
        assert rel("crosses", "LINESTRING(0 0, 2 0)", "LINESTRING(1 0, 3 0)") is False

    def test_equals(self):
        assert rel("equals", BOX_REF, "POLYGON((10 0, 0 0, 0 10, 10 10, 10 0))") is True
        assert rel("equals", BOX_REF, BOXES["int"]) is False
        assert rel("equals", "POINT(1 2)", "POINT(1 2)") is True


# --- WKT / WKB round trips ----------------------------------------------------

WKTS = [
    "POINT (1.5 -2.25)",
    "LINESTRING (0 0, 1 1, 2 0)",
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))",
    "MULTIPOINT (1 2, 3 4)",
    "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
    "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))",
]


@pytest.mark.parametrize("wkt", WKTS)
def test_wkt_roundtrip(wkt):
    g = G.from_wkt(wkt)
    g2 = G.from_wkt(G.to_wkt(g))
    assert g == g2


@pytest.mark.parametrize("wkt", WKTS)
def test_wkb_roundtrip(wkt):
    g = G.from_wkt(wkt)
    assert G.from_wkb(G.to_wkb(g)) == g


def test_boxes_wkb_matches_to_wkb():
    """The batched box builder writes exactly ``to_wkb(box(...))``'s bytes,
    NaN, infinite and negative-zero coordinates included."""
    rng = np.random.default_rng(3)
    c = rng.uniform(-180, 180, (40, 4))
    c[0] = [np.nan, 1.0, 2.0, np.nan]
    c[1] = [-0.0, np.inf, -np.inf, 0.0]
    got = G.boxes_wkb(c[:, 0], c[:, 1], c[:, 2], c[:, 3])
    assert got == [G.to_wkb(G.box(*map(float, row))) for row in c]
    assert G.boxes_wkb([], [], [], []) == []


def test_pip_vectorized_with_hole():
    g = G.from_wkt(WKTS[3])  # box with hole
    edges = G.polygon_edges(g)
    lon = np.array([5.0, 3.0, -1.0, 0.0])
    lat = np.array([5.0, 3.0, 5.0, 0.0])
    res = G.points_in_polygon(lon, lat, edges, include_boundary=True)
    assert list(res) == [True, False, False, True]
    res_open = G.points_in_polygon(lon, lat, edges, include_boundary=False)
    assert list(res_open) == [True, False, False, False]


def test_pip_matches_winding_oracle():
    """Independent check: even-odd ray cast vs a winding-number oracle."""
    rng = np.random.default_rng(7)
    poly = G.from_wkt("POLYGON((-5 -5, 5 -2, 8 7, -3 6, -5 -5))")
    edges = G.polygon_edges(poly)
    lon = rng.uniform(-10, 12, 5000)
    lat = rng.uniform(-10, 10, 5000)
    got = G.points_in_polygon(lon, lat, edges, include_boundary=True)

    # winding number oracle (separate algorithm)
    ring = np.asarray(poly.coords[0], dtype=np.float64)
    wn = np.zeros(lon.shape[0])
    for i in range(ring.shape[0] - 1):
        x0, y0 = ring[i]
        x1, y1 = ring[i + 1]
        side = (x1 - x0) * (lat - y0) - (y1 - y0) * (lon - x0)
        up = (y0 <= lat) & (y1 > lat) & (side > 0)
        dn = (y0 > lat) & (y1 <= lat) & (side < 0)
        wn += up.astype(int) - dn.astype(int)
    expect = wn != 0
    assert (got == expect).mean() > 0.999  # boundary-epsilon cases only


def test_haversine_known_values():
    # equator degree ~ 111.19 km for R=6371008.8
    d = G.haversine_m(0.0, 0.0, 1.0, 0.0)
    assert abs(d - 111195.0) < 100
    # symmetric, zero at same point
    assert G.haversine_m(10, 20, 10, 20) == 0.0
    assert abs(G.haversine_m(1, 2, 3, 4) - G.haversine_m(3, 4, 1, 2)) < 1e-9


def test_buffer_point():
    g = G.buffer_point_deg(10.0, 45.0, 10_000.0)
    assert g.kind == "Polygon"
    lon0, lat0, lon1, lat1 = g.bounds()
    # ~0.09 deg lat radius; lon radius larger at 45N
    assert 0.08 < (lat1 - lat0) / 2 < 0.1
    assert (lon1 - lon0) > (lat1 - lat0)


def test_is_simple_fold_back():
    """A line whose edge folds back onto its previous edge overlaps itself
    past their shared vertex (JTS: not simple); collinear edges running on
    stay simple."""
    assert not G.is_simple(G.from_wkt("LINESTRING(3 0, 3 2, 3 1)"))
    assert not G.is_simple(G.from_wkt("LINESTRING(0 0, 4 0, 0 0)"))
    assert G.is_simple(G.from_wkt("LINESTRING(0 0, 1 0, 2 0)"))


def test_rect_relation():
    poly = G.from_wkt("POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))")
    assert G.rect_relation(poly, 2, 2, 3, 3) == "contained"
    assert G.rect_relation(poly, -5, -5, -1, -1) == "disjoint"
    assert G.rect_relation(poly, -1, -1, 1, 1) == "overlapping"
    assert G.rect_relation(poly, -5, -5, 15, 15) == "overlapping"  # rect ⊃ poly
    # a hole wholly inside the rect: the rect is not contained
    holed = G.from_wkt(WKTS[3])
    assert G.rect_relation(holed, 1, 1, 5, 5) == "overlapping"
    assert G.rect_relation(holed, 5, 5, 9, 9) == "contained"
    # a later part wholly inside the rect: the rect is not disjoint
    multi = G.from_wkt(WKTS[6])
    assert G.rect_relation(multi, 4, 4, 7, 7) == "overlapping"
    assert G.rect_relation(multi, 2, 2, 4, 4) == "disjoint"


# --- the exact DE-9IM kernel: hand-derived matrices --------------------------

NOTCH = "POLYGON((0 0, 10 0, 10 1, 0.6 1, 0.6 0.2, 0.5 0.2, 0.5 1, 0 1, 0 0))"
CONCAVE = "POLYGON((0 0, 3 0, 3 1, 1 1, 1 2, 3 2, 3 3, 0 3, 0 0))"  # C-shape
HOLED = "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))"
BIG_BOX = "POLYGON((-1 -1, 4 -1, 4 4, -1 4, -1 -1))"
UNIT = "POLYGON((0 0, 1 0, 1 1, 0 1, 0 0))"

# (a, b, de9im(a, b), the named predicates that hold for (a, b))
KERNEL_CASES = {
    # the line runs through the notch: its piece over the gap is exterior
    "notch_line": (NOTCH, "LINESTRING(0.1 0.5, 9.9 0.5)", "1020F11F2",
                   {"crosses", "intersects"}),
    "notch_rect": (NOTCH, "POLYGON((0.1 0.4, 9.9 0.4, 9.9 0.6, 0.1 0.6, 0.1 0.4))",
                   "212101212", {"overlaps", "intersects"}),
    # the C's vertex mean (1.5, 1.5) lies in its own gap
    "box_contains_c": (BIG_BOX, CONCAVE, "212FF1FF2",
                       {"contains", "covers", "intersects"}),
    "c_within_box": (CONCAVE, BIG_BOX, "2FF1FF212",
                     {"within", "coveredby", "intersects"}),
    # the box's centre lies in the hole
    "box_spans_hole": (HOLED, "POLYGON((3 3, 7 3, 7 7, 3 7, 3 3))", "2121F12F2",
                       {"overlaps", "intersects"}),
    "box_in_hole": (HOLED, "POLYGON((4.5 4.5, 5.5 4.5, 5.5 5.5, 4.5 5.5, 4.5 4.5))",
                    "FF2FF1212", {"disjoint"}),
    "shared_edge": (UNIT, "POLYGON((1 0, 2 0, 2 1, 1 1, 1 0))", "FF2F11212",
                    {"touches", "intersects"}),
    # other start vertex, clockwise
    "equal_boxes": (UNIT, "POLYGON((1 1, 1 0, 0 0, 0 1, 1 1))", "2FFF1FFF2",
                    {"contains", "covers", "within", "coveredby", "equals", "intersects"}),
}
NAMED = ("contains", "covers", "within", "coveredby", "overlaps", "crosses",
         "touches", "equals", "intersects", "disjoint")


@pytest.mark.parametrize("case", sorted(KERNEL_CASES))
def test_de9im_kernel(case):
    a_wkt, b_wkt, matrix, holds = KERNEL_CASES[case]
    a, b = G.from_wkt(a_wkt), G.from_wkt(b_wkt)
    assert G.de9im(a, b) == matrix
    transposed = "".join(matrix[3 * c + r] for r in range(3) for c in range(3))
    assert G.de9im(b, a) == transposed
    assert {p for p in NAMED if G.relate(a, b, p)} == holds


def test_intersects_fast_path_agrees_with_kernel():
    geoms = [BOX_REF, *POINTS.values(), *BOXES.values()]
    geoms += [w for a, b, _, _ in KERNEL_CASES.values() for w in (a, b)]
    geoms = [G.from_wkt(w) for w in geoms]
    patterns = ("T********", "*T*******", "***T*****", "****T****")
    for a in geoms:
        for b in geoms:
            m = G.de9im(a, b)
            want = any(G.de9im_matches(m, p) for p in patterns)
            assert G.relate(a, b, "intersects") is want, (a.wkt(), b.wkt(), m)



def test_de9im_matches_grid_oracle():
    """Random integer rectilinear points, lines and polygons (holes and
    multi-parts included), rotated by 30 degrees, against an independent
    oracle: every face, edge and vertex of such an arrangement holds a point
    of the half-unit grid, whose cell centres, edge midpoints and integer
    points are located one by one (dimension 2, 1 and 0)."""
    rng = np.random.default_rng(11)
    c, s = np.cos(np.pi / 6), np.sin(np.pi / 6)

    def rot(t):
        if isinstance(t[0], float):
            return (c * t[0] - s * t[1], s * t[0] + c * t[1])
        return tuple(rot(u) for u in t)

    def steps():  # rectilinear polygon: a histogram of 1-4 columns
        n, (x0, y0) = rng.integers(1, 5), rng.integers(-3, 4, 2)
        ring = [(0, 0), (n, 0)]
        for i, h in reversed(list(enumerate(rng.integers(1, 5, n)))):
            ring += [(i + 1, h), (i, h)]
        ring = [p for k, p in enumerate(ring + [(0, 0)]) if k == 0 or p != ring[k - 1]]
        return ((tuple((float(x + x0), float(y + y0)) for x, y in ring),),)

    def gen():
        kind = rng.integers(0, 5)
        if kind == 0:
            return "Polygon", steps()[0]
        if kind == 1:  # box with a hole
            x0, y0 = rng.integers(-3, 3, 2)
            w, h = rng.integers(3, 7, 2)
            hx, hy = x0 + rng.integers(1, w - 1), y0 + rng.integers(1, h - 1)
            hole = G.box(hx, hy, hx + rng.integers(1, x0 + w - hx), hy + rng.integers(1, y0 + h - hy))
            rings = (G.box(x0, y0, x0 + w, y0 + h).coords[0], hole.coords[0][::-1])
            return "Polygon", tuple(tuple((float(x), float(y)) for x, y in r) for r in rings)
        if kind == 2:  # rectilinear path turning at every vertex
            p, axis, path = rng.integers(-3, 5, 2), rng.integers(0, 2), []
            path.append(tuple(map(float, p)))
            for _ in range(rng.integers(1, 4)):
                axis = 1 - axis
                p = p.copy()
                p[axis] += rng.choice([-1, 1]) * rng.integers(1, 4)
                path.append(tuple(map(float, p)))
            return "LineString", tuple(path)
        if kind == 3:
            return "MultiPoint", tuple(tuple(map(float, rng.integers(-3, 6, 2))) for _ in range(2))
        a, b = steps(), steps()
        if G.relate(G.Geometry("Polygon", a[0]), G.Geometry("Polygon", b[0]), "intersects"):
            return "Polygon", a[0]
        return "MultiPolygon", a + b

    for _ in range(300):
        a, b = (G.Geometry(*gen()) for _ in range(2))
        if not (G.is_simple(a) and G.is_simple(b)):
            continue
        x0, y0, x1, y1 = np.r_[np.minimum(a.bounds()[:2], b.bounds()[:2]) - 1,
                               np.maximum(a.bounds()[2:], b.bounds()[2:]) + 1]
        gx, gy = np.meshgrid(np.arange(x0, x1 + 0.25, 0.5), np.arange(y0, y1 + 0.25, 0.5))
        grid = np.stack([gx.ravel(), gy.ravel()], axis=1)
        a, b = G.Geometry(a.kind, rot(a.coords)), G.Geometry(b.kind, rot(b.coords))
        pts = np.stack([c * grid[:, 0] - s * grid[:, 1], s * grid[:, 0] + c * grid[:, 1]], axis=1)
        want = np.full((3, 3), -1)
        np.maximum.at(
            want,
            (G._locate(pts, G._prepare(a)), G._locate(pts, G._prepare(b))),
            (grid % 1 != 0).sum(axis=1),
        )
        want = "".join("F" if v < 0 else str(v) for v in want.ravel())
        assert G.de9im(a, b) == want, (a.wkt(), b.wkt())
