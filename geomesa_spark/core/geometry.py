"""Minimal planar geometry kernel (numpy, from scratch — no shapely/JTS).

Provides exactly what the engine needs:

- WKT/WKB parse + write for Point / LineString / Polygon / Multi* (the
  geometry types of the reference's UDT surface,
  ``geomesa-spark-jts/.../sql/jts/JTSTypes.scala:15-44``; WKB wire format is
  the OGC standard, same bytes the reference's UDTs serialize,
  ``AbstractGeometryUDT.scala:29-42``).
- vectorized point-in-polygon ray cast (the row-level refine of
  ``SpatialRelationFunctions.scala:29-39``, re-expressed for Arrow batches).
- rectangle-vs-geometry relation (drives the quad-tree cover in
  ``cells.cover_geometry``, analog of ``XZ2SFC.scala:146-252``).
- named spatial predicates (contains/covers/crosses/disjoint/equals/
  intersects/overlaps/touches/within) over simple geometries — the golden
  DE-9IM semantics pinned by the reference's
  ``SparkSQLSpatialRelationshipsTest.scala:50-140``.
- spherical distance (haversine; analog of ``st_distanceSphere``,
  ``SpatialRelationFunctions.scala:137-141``).

All coordinates are EPSG:4326 lon/lat degrees. Geometries are simple
(non-self-intersecting); polygons may carry holes for parsing/PIP but the
predicate engine assumes hole-free shells (all reference fixtures are).
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass

import numpy as np

EARTH_RADIUS_M = 6371008.8  # mean earth radius; spherical model
M_PER_DEG = EARTH_RADIUS_M * math.pi / 180  # meters per degree of latitude

_EPS = 1e-12


# ---------------------------------------------------------------------------
# Geometry model
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Geometry:
    kind: str                    # Point | LineString | Polygon | MultiPoint | ...
    coords: tuple                # kind-specific nested tuples of (x, y)

    # --- structure accessors -------------------------------------------------
    def bounds(self) -> tuple[float, float, float, float]:
        pts = np.asarray(list(_iter_points(self)), dtype=np.float64)
        return (
            float(pts[:, 0].min()),
            float(pts[:, 1].min()),
            float(pts[:, 0].max()),
            float(pts[:, 1].max()),
        )

    @property
    def dim(self) -> int:
        k = self.kind
        if k in ("Point", "MultiPoint"):
            return 0
        if k in ("LineString", "MultiLineString"):
            return 1
        return 2

    def rings(self):
        """Yield all rings/paths as (N,2) float arrays (closed for polygons)."""
        if self.kind == "Point":
            yield np.asarray([self.coords], dtype=np.float64)
        elif self.kind == "LineString":
            yield np.asarray(self.coords, dtype=np.float64)
        elif self.kind == "Polygon":
            for ring in self.coords:
                yield np.asarray(ring, dtype=np.float64)
        elif self.kind.startswith("Multi") or self.kind == "GeometryCollection":
            for part in self.parts():
                yield from part.rings()

    def parts(self):
        if self.kind == "MultiPoint":
            return [Geometry("Point", c) for c in self.coords]
        if self.kind == "MultiLineString":
            return [Geometry("LineString", c) for c in self.coords]
        if self.kind == "MultiPolygon":
            return [Geometry("Polygon", c) for c in self.coords]
        if self.kind == "GeometryCollection":
            return list(self.coords)
        return [self]

    def shell(self) -> np.ndarray:
        assert self.kind == "Polygon"
        return np.asarray(self.coords[0], dtype=np.float64)

    def wkt(self) -> str:
        return to_wkt(self)


def _iter_points(g: Geometry):
    if g.kind == "Point":
        yield g.coords
    elif g.kind in ("LineString", "MultiPoint"):
        yield from g.coords
    elif g.kind in ("Polygon", "MultiLineString"):
        for ring in g.coords:
            yield from ring
    elif g.kind == "MultiPolygon":
        for poly in g.coords:
            for ring in poly:
                yield from ring
    elif g.kind == "GeometryCollection":
        for part in g.coords:
            yield from _iter_points(part)


def point(x: float, y: float) -> Geometry:
    return Geometry("Point", (float(x), float(y)))


def box(lon0: float, lat0: float, lon1: float, lat1: float) -> Geometry:
    """Axis-aligned rectangle polygon (ccw), st_makeBBOX analog."""
    return Geometry(
        "Polygon",
        (
            (
                (lon0, lat0),
                (lon1, lat0),
                (lon1, lat1),
                (lon0, lat1),
                (lon0, lat0),
            ),
        ),
    )


# ---------------------------------------------------------------------------
# WKT
# ---------------------------------------------------------------------------

def from_wkt(text: str) -> Geometry:
    s = text.strip()
    i = 0
    while i < len(s) and (s[i].isalpha() or s[i].isspace()):
        i += 1
    kind_raw = s[:i].strip().upper()
    body = s[i:].strip()
    kinds = {
        "POINT": "Point",
        "LINESTRING": "LineString",
        "POLYGON": "Polygon",
        "MULTIPOINT": "MultiPoint",
        "MULTILINESTRING": "MultiLineString",
        "MULTIPOLYGON": "MultiPolygon",
    }
    if kind_raw not in kinds:
        raise ValueError(f"unsupported WKT type: {kind_raw!r}")
    kind = kinds[kind_raw]
    if body.upper() == "EMPTY":
        return Geometry(kind, ())
    nested = _parse_nested(body)
    if kind == "Point":
        return Geometry(kind, nested[0])
    if kind in ("LineString", "MultiPoint"):
        # MULTIPOINT may be written with or without per-point parens
        flat = tuple(p if isinstance(p[0], float) else p[0] for p in nested)
        return Geometry(kind, flat)
    if kind in ("Polygon", "MultiLineString"):
        return Geometry(kind, tuple(tuple(r) for r in nested))
    # MultiPolygon
    return Geometry(kind, tuple(tuple(tuple(r) for r in poly) for poly in nested))


def _parse_nested(body: str):
    """Parse WKT parenthesized coordinate structure into nested tuples."""
    pos = 0

    def parse_group():
        nonlocal pos
        assert body[pos] == "(", f"expected ( at {pos}"
        pos += 1
        items = []
        while True:
            while pos < len(body) and body[pos].isspace():
                pos += 1
            if body[pos] == "(":
                items.append(parse_group())
            else:
                # coordinate list: x y, x y, ...
                end = pos
                depth = 0
                while end < len(body):
                    ch = body[end]
                    if ch == "(":
                        depth += 1
                    elif ch == ")":
                        if depth == 0:
                            break
                        depth -= 1
                    end += 1
                coord_text = body[pos:end]
                for pair in coord_text.split(","):
                    vals = pair.split()
                    items.append((float(vals[0]), float(vals[1])))
                pos = end
            while pos < len(body) and body[pos].isspace():
                pos += 1
            if body[pos] == ",":
                pos += 1
                continue
            if body[pos] == ")":
                pos += 1
                return items

    return parse_group()


def to_wkt(g: Geometry) -> str:
    def fmt_pt(p):
        return f"{p[0]:.10g} {p[1]:.10g}"

    def fmt_seq(seq):
        return "(" + ", ".join(fmt_pt(p) for p in seq) + ")"

    k = g.kind.upper()
    if g.kind == "Point":
        return f"POINT ({fmt_pt(g.coords)})"
    if g.kind in ("LineString", "MultiPoint"):
        return f"{k} {fmt_seq(g.coords)}"
    if g.kind in ("Polygon", "MultiLineString"):
        return f"{k} (" + ", ".join(fmt_seq(r) for r in g.coords) + ")"
    if g.kind == "MultiPolygon":
        return (
            f"{k} ("
            + ", ".join("(" + ", ".join(fmt_seq(r) for r in poly) + ")" for poly in g.coords)
            + ")"
        )
    raise ValueError(g.kind)


# ---------------------------------------------------------------------------
# WKB (OGC, little-endian) — the byte format of the reference's geometry UDTs
# ---------------------------------------------------------------------------

_WKB_CODES = {
    "Point": 1,
    "LineString": 2,
    "Polygon": 3,
    "MultiPoint": 4,
    "MultiLineString": 5,
    "MultiPolygon": 6,
}
_WKB_KINDS = {v: k for k, v in _WKB_CODES.items()}


def to_wkb(g: Geometry) -> bytes:
    out = [b"\x01", struct.pack("<I", _WKB_CODES[g.kind])]
    if g.kind == "Point":
        out.append(struct.pack("<2d", *g.coords))
    elif g.kind == "LineString":
        out.append(struct.pack("<I", len(g.coords)))
        for p in g.coords:
            out.append(struct.pack("<2d", *p))
    elif g.kind == "Polygon":
        out.append(struct.pack("<I", len(g.coords)))
        for ring in g.coords:
            out.append(struct.pack("<I", len(ring)))
            for p in ring:
                out.append(struct.pack("<2d", *p))
    else:  # Multi*
        parts = g.parts()
        out.append(struct.pack("<I", len(parts)))
        for part in parts:
            out.append(to_wkb(part))
    return b"".join(out)


def from_wkb(buf: bytes) -> Geometry:
    geom, _ = _read_wkb(memoryview(buf), 0)
    return geom


def _read_wkb(mv, off: int):
    little = mv[off] == 1
    bo = "<" if little else ">"
    (code,) = struct.unpack_from(f"{bo}I", mv, off + 1)
    kind = _WKB_KINDS[code & 0xFF]
    off += 5
    if kind == "Point":
        x, y = struct.unpack_from(f"{bo}2d", mv, off)
        return Geometry("Point", (x, y)), off + 16
    if kind == "LineString":
        (n,) = struct.unpack_from(f"{bo}I", mv, off)
        off += 4
        pts = struct.unpack_from(f"{bo}{2 * n}d", mv, off)
        off += 16 * n
        return Geometry("LineString", tuple(zip(pts[0::2], pts[1::2]))), off
    if kind == "Polygon":
        (nr,) = struct.unpack_from(f"{bo}I", mv, off)
        off += 4
        rings = []
        for _ in range(nr):
            (n,) = struct.unpack_from(f"{bo}I", mv, off)
            off += 4
            pts = struct.unpack_from(f"{bo}{2 * n}d", mv, off)
            off += 16 * n
            rings.append(tuple(zip(pts[0::2], pts[1::2])))
        return Geometry("Polygon", tuple(rings)), off
    # Multi*
    (n,) = struct.unpack_from(f"{bo}I", mv, off)
    off += 4
    parts = []
    for _ in range(n):
        part, off = _read_wkb(mv, off)
        parts.append(part)
    if kind == "MultiPoint":
        return Geometry(kind, tuple(p.coords for p in parts)), off
    if kind == "MultiLineString":
        return Geometry(kind, tuple(p.coords for p in parts)), off
    return Geometry(kind, tuple(p.coords for p in parts)), off


# ---------------------------------------------------------------------------
# Vectorized kernels (the Arrow-batch hot path)
# ---------------------------------------------------------------------------

def polygon_edges(g: Geometry) -> np.ndarray:
    """All polygon edges as an (E, 4) array [x0, y0, x1, y1] (shell + holes).

    The 'prepared geometry' of our engine: precomputed once per polygon on the
    driver, broadcast, and reused across Arrow batches.
    """
    segs = []
    for part in g.parts():
        assert part.kind == "Polygon", part.kind
        for ring in part.coords:
            r = np.asarray(ring, dtype=np.float64)
            segs.append(np.concatenate([r[:-1], r[1:]], axis=1))
    return np.concatenate(segs, axis=0)


def points_in_polygon(
    lon: np.ndarray, lat: np.ndarray, edges: np.ndarray, include_boundary: bool = True
) -> np.ndarray:
    """Vectorized even-odd ray cast of N points against one polygon's edges.

    O(N*E) with numpy broadcasting, chunked to bound memory. Half-open vertex
    rule avoids double counting; boundary points handled explicitly so the
    result matches the closed (``covers``) or open (``contains``) convention.
    """
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    n = lon.shape[0]
    inside = np.zeros(n, dtype=bool)
    on_edge = np.zeros(n, dtype=bool)
    if n == 0 or edges.shape[0] == 0:
        return inside
    x0, y0, x1, y1 = edges[:, 0], edges[:, 1], edges[:, 2], edges[:, 3]
    chunk = max(1, int(4_000_000 // max(1, edges.shape[0])))
    for s in range(0, n, chunk):
        px = lon[s : s + chunk, None]
        py = lat[s : s + chunk, None]
        # half-open rule: edge counts if exactly one endpoint is strictly above
        cond = (y0[None, :] > py) != (y1[None, :] > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x0[None, :] + (py - y0[None, :]) * (x1[None, :] - x0[None, :]) / (
                y1[None, :] - y0[None, :]
            )
        crossings = (cond & (px < xint)).sum(axis=1)
        inside[s : s + chunk] = (crossings % 2) == 1
        # boundary test: point collinear with edge and within its bbox
        dx = x1[None, :] - x0[None, :]
        dy = y1[None, :] - y0[None, :]
        cross = (px - x0[None, :]) * dy - (py - y0[None, :]) * dx
        within_x = (px >= np.minimum(x0, x1)[None, :] - _EPS) & (
            px <= np.maximum(x0, x1)[None, :] + _EPS
        )
        within_y = (py >= np.minimum(y0, y1)[None, :] - _EPS) & (
            py <= np.maximum(y0, y1)[None, :] + _EPS
        )
        on_edge[s : s + chunk] = (
            (np.abs(cross) <= _EPS * np.maximum(1.0, np.abs(dx) + np.abs(dy)))
            & within_x
            & within_y
        ).any(axis=1)
    if include_boundary:
        return inside | on_edge
    return inside & ~on_edge


def haversine_m(lon1, lat1, lon2, lat2) -> np.ndarray:
    """Great-circle distance in meters (vectorized). st_distanceSphere analog."""
    lon1, lat1, lon2, lat2 = (np.radians(np.asarray(a, dtype=np.float64)) for a in (lon1, lat1, lon2, lat2))
    dlon = lon2 - lon1
    dlat = lat2 - lat1
    a = np.sin(dlat / 2) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2) ** 2
    return 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


# ---------------------------------------------------------------------------
# Rectangle relation (cover classification)
# ---------------------------------------------------------------------------

def rect_relation(g: Geometry, lon0: float, lat0: float, lon1: float, lat1: float) -> str:
    """Classify an axis-aligned rectangle against ``g``:
    'contained' (rect fully inside g), 'disjoint', or 'overlapping'.

    Drives the quad-decomposition in ``cells.cover_geometry`` — the
    contained/overlapping distinction mirrors ``XZ2SFC.scala:146-252``.
    Conservative: ambiguity degrades to 'overlapping' (sound for covers).
    """
    glon0, glat0, glon1, glat1 = g.bounds()
    if lon1 < glon0 or lon0 > glon1 or lat1 < glat0 or lat0 > glat1:
        return "disjoint"
    if g.dim < 2:
        return "overlapping" if _rect_intersects_lowdim(g, lon0, lat0, lon1, lat1) else "disjoint"

    edges = polygon_edges(g)
    corners_x = np.array([lon0, lon1, lon1, lon0])
    corners_y = np.array([lat0, lat0, lat1, lat1])
    corners_in = points_in_polygon(corners_x, corners_y, edges, include_boundary=True)
    rect_edges = np.array(
        [
            [lon0, lat0, lon1, lat0],
            [lon1, lat0, lon1, lat1],
            [lon1, lat1, lon0, lat1],
            [lon0, lat1, lon0, lat0],
        ]
    )
    crossing = _any_segment_intersection(rect_edges, edges)
    if corners_in.all() and not crossing:
        return "contained"
    if corners_in.any() or crossing:
        return "overlapping"
    # no corner inside, no edge crossing: either disjoint, or g inside rect
    p0 = next(_iter_points(g))
    if lon0 <= p0[0] <= lon1 and lat0 <= p0[1] <= lat1:
        return "overlapping"  # geometry inside rect
    return "disjoint"


def _rect_intersects_lowdim(g: Geometry, lon0, lat0, lon1, lat1) -> bool:
    if g.kind in ("Point", "MultiPoint"):
        for p in _iter_points(g):
            if lon0 <= p[0] <= lon1 and lat0 <= p[1] <= lat1:
                return True
        return False
    rect_edges = np.array(
        [
            [lon0, lat0, lon1, lat0],
            [lon1, lat0, lon1, lat1],
            [lon1, lat1, lon0, lat1],
            [lon0, lat1, lon0, lat0],
        ]
    )
    for path in g.rings():
        segs = np.concatenate([path[:-1], path[1:]], axis=1)
        if _any_segment_intersection(segs, rect_edges):
            return True
        # fully inside rect?
        if (
            (path[:, 0] >= lon0).all()
            and (path[:, 0] <= lon1).all()
            and (path[:, 1] >= lat0).all()
            and (path[:, 1] <= lat1).all()
        ):
            return True
    return False


def _orient(ax, ay, bx, by, cx, cy):
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def _any_segment_intersection(segs_a: np.ndarray, segs_b: np.ndarray) -> bool:
    """True if any segment of A intersects any segment of B (incl. touching)."""
    ax0, ay0, ax1, ay1 = (segs_a[:, i][:, None] for i in range(4))
    bx0, by0, bx1, by1 = (segs_b[:, i][None, :] for i in range(4))
    d1 = _orient(ax0, ay0, ax1, ay1, bx0, by0)
    d2 = _orient(ax0, ay0, ax1, ay1, bx1, by1)
    d3 = _orient(bx0, by0, bx1, by1, ax0, ay0)
    d4 = _orient(bx0, by0, bx1, by1, ax1, ay1)
    proper = ((d1 * d2) < 0) & ((d3 * d4) < 0)
    if proper.any():
        return True
    # collinear / endpoint touch
    def on_seg(px, py, sx0, sy0, sx1, sy1, d):
        return (
            (np.abs(d) <= _EPS)
            & (px >= np.minimum(sx0, sx1) - _EPS)
            & (px <= np.maximum(sx0, sx1) + _EPS)
            & (py >= np.minimum(sy0, sy1) - _EPS)
            & (py <= np.maximum(sy0, sy1) + _EPS)
        )

    touch = (
        on_seg(bx0, by0, ax0, ay0, ax1, ay1, d1)
        | on_seg(bx1, by1, ax0, ay0, ax1, ay1, d2)
        | on_seg(ax0, ay0, bx0, by0, bx1, by1, d3)
        | on_seg(ax1, ay1, bx0, by0, bx1, by1, d4)
    )
    return bool(touch.any())


# ---------------------------------------------------------------------------
# Named predicates (golden DE-9IM semantics)
# ---------------------------------------------------------------------------

def _classify_point(p, g: Geometry) -> str:
    """'interior' | 'boundary' | 'exterior' of point p w.r.t. geometry g."""
    px, py = float(p[0]), float(p[1])
    if g.kind in ("Point", "MultiPoint"):
        for q in _iter_points(g):
            if abs(px - q[0]) <= _EPS and abs(py - q[1]) <= _EPS:
                return "interior"
        return "exterior"
    if g.kind in ("LineString", "MultiLineString"):
        for part in g.parts():
            pts = np.asarray(part.coords, dtype=np.float64)
            segs = np.concatenate([pts[:-1], pts[1:]], axis=1)
            for x0, y0, x1, y1 in segs:
                d = _orient(x0, y0, x1, y1, px, py)
                if (
                    abs(d) <= _EPS * max(1.0, abs(x1 - x0) + abs(y1 - y0))
                    and min(x0, x1) - _EPS <= px <= max(x0, x1) + _EPS
                    and min(y0, y1) - _EPS <= py <= max(y0, y1) + _EPS
                ):
                    # endpoints of a non-closed line are the boundary
                    ends = [part.coords[0], part.coords[-1]]
                    closed = part.coords[0] == part.coords[-1]
                    if not closed and any(
                        abs(px - e[0]) <= _EPS and abs(py - e[1]) <= _EPS for e in ends
                    ):
                        return "boundary"
                    return "interior"
        return "exterior"
    edges = polygon_edges(g)
    on = points_in_polygon(np.array([px]), np.array([py]), edges, include_boundary=True)[0]
    strict = points_in_polygon(np.array([px]), np.array([py]), edges, include_boundary=False)[0]
    if strict:
        return "interior"
    if on:
        return "boundary"
    return "exterior"


def _edge_array(g: Geometry) -> np.ndarray:
    segs = []
    for path in g.rings():
        if path.shape[0] >= 2:
            segs.append(np.concatenate([path[:-1], path[1:]], axis=1))
    if not segs:
        return np.zeros((0, 4))
    return np.concatenate(segs, axis=0)


def _sample_points(g: Geometry, per_edge: int = 7):
    """Representative points on g (vertices + edge subdivisions + centroids)."""
    pts = list(_iter_points(g))
    for path in g.rings():
        for i in range(path.shape[0] - 1):
            for t in np.linspace(0, 1, per_edge + 2)[1:-1]:
                pts.append(tuple(path[i] * (1 - t) + path[i + 1] * t))
    if g.dim == 2:
        for part in g.parts():
            sh = part.shell()
            pts.append((float(sh[:-1, 0].mean()), float(sh[:-1, 1].mean())))
    return pts


def _interior_probe(g: Geometry):
    """A point in the interior of g (for simple convex-ish fixtures)."""
    if g.dim == 2:
        for part in g.parts():
            sh = part.shell()
            c = (float(sh[:-1, 0].mean()), float(sh[:-1, 1].mean()))
            if _classify_point(c, part) == "interior":
                return c
        return None
    if g.dim == 1:
        for path in g.rings():
            mid = tuple((path[0] + path[1]) / 2.0)
            return mid
    return next(_iter_points(g), None)


def relate(a: Geometry, b: Geometry, predicate: str) -> bool:
    """Evaluate a named spatial predicate with DE-9IM semantics.

    Implemented from the published predicate definitions (OGC SFS), validated
    against the reference's golden fixture
    (``SparkSQLSpatialRelationshipsTest.scala``). Sound for simple
    points/lines/polygons without holes — the engine's refine path for joins
    uses the vectorized :func:`points_in_polygon` instead.
    """
    predicate = predicate.lower()
    if predicate == "disjoint":
        return not relate(a, b, "intersects")
    if predicate == "within":
        return relate(b, a, "contains")
    if predicate == "coveredby":
        return relate(b, a, "covers")
    if predicate == "equals":
        return relate(a, b, "covers") and relate(b, a, "covers")

    if predicate == "intersects":
        return _intersects(a, b)
    if predicate in ("contains", "covers"):
        # every sample point of b must be non-exterior to a
        cls = [_classify_point(p, a) for p in _sample_points(b)]
        if any(c == "exterior" for c in cls):
            return False
        # no edge of b may properly cross out of a (sampled densely above)
        if predicate == "covers":
            return True
        # contains additionally needs interior∩interior ≠ ∅
        return _interiors_intersect(a, b)
    if predicate == "touches":
        if not _intersects(a, b):
            return False
        return not _interiors_intersect(a, b)
    if predicate == "crosses":
        if a.dim == b.dim and a.dim != 1:
            return False
        if not _interiors_intersect(a, b):
            return False
        if a.dim == b.dim == 1:
            # line/line cross: intersection must be 0-dimensional (a point)
            return not _collinear_overlap(a, b) and _has_proper_crossing(a, b)
        lo, hi = (a, b) if a.dim < b.dim else (b, a)
        # part of lo's interior must lie outside hi
        cls = [_classify_point(p, hi) for p in _sample_points(lo)]
        return any(c == "exterior" for c in cls)
    if predicate == "overlaps":
        if a.dim != b.dim:
            return False
        if not _interiors_intersect(a, b):
            return False
        if relate(a, b, "covers") or relate(b, a, "covers"):
            return False
        return True
    raise ValueError(f"unknown predicate: {predicate}")


def _intersects(a: Geometry, b: Geometry) -> bool:
    abounds, bbounds = a.bounds(), b.bounds()
    if (
        abounds[2] < bbounds[0] - _EPS
        or abounds[0] > bbounds[2] + _EPS
        or abounds[3] < bbounds[1] - _EPS
        or abounds[1] > bbounds[3] + _EPS
    ):
        return False
    if a.dim == 0:
        return any(_classify_point(p, b) != "exterior" for p in _iter_points(a))
    if b.dim == 0:
        return any(_classify_point(p, a) != "exterior" for p in _iter_points(b))
    ea, eb = _edge_array(a), _edge_array(b)
    if ea.shape[0] and eb.shape[0] and _any_segment_intersection(ea, eb):
        return True
    # containment without boundary contact
    pa = _interior_probe(a)
    pb = _interior_probe(b)
    if pb is not None and _classify_point(pb, a) != "exterior":
        return True
    if pa is not None and _classify_point(pa, b) != "exterior":
        return True
    return False


def _interiors_intersect(a: Geometry, b: Geometry) -> bool:
    if a.dim == 0:
        return any(_classify_point(p, b) == "interior" for p in _iter_points(a))
    if b.dim == 0:
        return any(_classify_point(p, a) == "interior" for p in _iter_points(b))
    if a.dim == 2 and b.dim == 2:
        # proper edge crossing, or a sample interior point of one inside the other
        if _has_proper_crossing(a, b):
            return True
        pb = _interior_probe(b)
        pa = _interior_probe(a)
        return (pb is not None and _classify_point(pb, a) == "interior") or (
            pa is not None and _classify_point(pa, b) == "interior"
        )
    # line vs area / line vs line: sample line interior points
    lo, hi = (a, b) if a.dim <= b.dim else (b, a)
    if _has_proper_crossing(a, b):
        return True
    samples = _sample_points(lo)
    # exclude line endpoints (they are boundary, not interior)
    if lo.dim == 1:
        eps_pts = set()
        for part in lo.parts():
            if part.coords[0] != part.coords[-1]:
                eps_pts.add(part.coords[0])
                eps_pts.add(part.coords[-1])
        samples = [p for p in samples if tuple(p) not in eps_pts]
    for p in samples:
        if _classify_point(p, hi) == "interior" and _classify_point(p, lo) == "interior":
            return True
    return False


def _has_proper_crossing(a: Geometry, b: Geometry) -> bool:
    ea, eb = _edge_array(a), _edge_array(b)
    if not (ea.shape[0] and eb.shape[0]):
        return False
    ax0, ay0, ax1, ay1 = (ea[:, i][:, None] for i in range(4))
    bx0, by0, bx1, by1 = (eb[:, i][None, :] for i in range(4))
    d1 = _orient(ax0, ay0, ax1, ay1, bx0, by0)
    d2 = _orient(ax0, ay0, ax1, ay1, bx1, by1)
    d3 = _orient(bx0, by0, bx1, by1, ax0, ay0)
    d4 = _orient(bx0, by0, bx1, by1, ax1, ay1)
    return bool((((d1 * d2) < -_EPS) & ((d3 * d4) < -_EPS)).any())


def _collinear_overlap(a: Geometry, b: Geometry) -> bool:
    ea, eb = _edge_array(a), _edge_array(b)
    for x0, y0, x1, y1 in ea:
        for u0, v0, u1, v1 in eb:
            if (
                abs(_orient(x0, y0, x1, y1, u0, v0)) <= _EPS
                and abs(_orient(x0, y0, x1, y1, u1, v1)) <= _EPS
            ):
                # collinear: check 1D overlap of projections
                if abs(x1 - x0) >= abs(y1 - y0):
                    lo1, hi1 = sorted((x0, x1))
                    lo2, hi2 = sorted((u0, u1))
                else:
                    lo1, hi1 = sorted((y0, y1))
                    lo2, hi2 = sorted((v0, v1))
                if min(hi1, hi2) - max(lo1, lo2) > _EPS:
                    return True
    return False


# ---------------------------------------------------------------------------
# DE-9IM matrix, simplicity, closest point (st_relate / st_isSimple /
# st_closestPoint analogs — SpatialRelationFunctions.scala:40-46,
# GeometricAccessorFunctions.scala:55-70)
# ---------------------------------------------------------------------------

_PART_DIM = {"I": None, "B": None, "E": 2}  # I/B depend on the geometry


def _region_dim(g: Geometry, part: str) -> int:
    """Topological dimension of I/B/E of g (-1 = empty set)."""
    if part == "E":
        return 2
    if part == "I":
        return g.dim
    # boundary
    if g.dim == 2:
        return 1
    if g.dim == 1:
        closed = all(p.coords[0] == p.coords[-1] for p in g.parts())
        return -1 if closed else 0
    return -1  # points have empty boundary


def _de9im_candidates(a: Geometry, b: Geometry):
    """Candidate probe points: vertices, dense edge samples, pairwise edge
    intersections, interior probes, and far-exterior points. Returns
    (points, adjacency) where adjacency marks consecutive samples along one
    edge (used to promote dimension 0 -> 1)."""
    pts: list[tuple[float, float]] = []
    runs: list[tuple[int, int]] = []  # [start, end) index ranges of edge runs
    for g in (a, b):
        for path in g.rings():
            for i in range(path.shape[0] - 1):
                s = len(pts)
                for t in np.linspace(0.0, 1.0, 17):
                    p = path[i] * (1 - t) + path[i + 1] * t
                    pts.append((float(p[0]), float(p[1])))
                runs.append((s, len(pts)))
        if g.kind in ("Point", "MultiPoint"):
            pts.extend((float(p[0]), float(p[1])) for p in _iter_points(g))
    ea, eb = _edge_array(a), _edge_array(b)
    for x0, y0, x1, y1 in ea:
        for u0, v0, u1, v1 in eb:
            d1 = (x1 - x0, y1 - y0)
            d2 = (u1 - u0, v1 - v0)
            den = d1[0] * d2[1] - d1[1] * d2[0]
            if abs(den) < _EPS:
                continue
            ta = ((u0 - x0) * d2[1] - (v0 - y0) * d2[0]) / den
            tb = ((u0 - x0) * d1[1] - (v0 - y0) * d1[0]) / den
            if -_EPS <= ta <= 1 + _EPS and -_EPS <= tb <= 1 + _EPS:
                pts.append((x0 + ta * d1[0], y0 + ta * d1[1]))
    for g in (a, b):
        p = _interior_probe(g)
        if p is not None:
            pts.append((float(p[0]), float(p[1])))
    # offset probes around every vertex/crossing: populate the interior/
    # exterior classes on both sides of boundaries
    delta = 1e-6
    base = list(pts)
    for px, py in base:
        for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1), (1, 1), (-1, -1), (1, -1), (-1, 1)):
            pts.append((px + dx * delta, py + dy * delta))
    # coarse grid over the expanded union bbox: area-class coverage (IE/EI/EE)
    ab = a.bounds()
    bb = b.bounds()
    x0, y0 = min(ab[0], bb[0]) - 1.0, min(ab[1], bb[1]) - 1.0
    x1, y1 = max(ab[2], bb[2]) + 1.0, max(ab[3], bb[3]) + 1.0
    for gx in np.linspace(x0, x1, 7):
        for gy in np.linspace(y0, y1, 7):
            pts.append((float(gx), float(gy)))
    return pts, runs


def de9im(a: Geometry, b: Geometry) -> str:
    """DE-9IM matrix string (row-major II IB IE / BI BB BE / EI EB EE).

    Probe-based: classifies a dense candidate set (vertices, edge samples,
    edge crossings, interior probes) against both geometries and infers each
    entry's dimension — exact for the simple point/line/polygon fixtures the
    reference's relate tests cover (SparkSQLSpatialRelationshipsTest), with
    dimension promoted to 1 when a whole edge-sample run matches and to 2
    for polygon interior overlaps.
    """
    pts, runs = _de9im_candidates(a, b)
    cls_a = [_classify_point(p, a) for p in pts]
    cls_b = [_classify_point(p, b) for p in pts]
    code = {"interior": "I", "boundary": "B", "exterior": "E"}
    cls_a = [code[c] for c in cls_a]
    cls_b = [code[c] for c in cls_b]

    out = []
    for pa in "IBE":
        for pb in "IBE":
            da, db = _region_dim(a, pa), _region_dim(b, pb)
            if da < 0 or db < 0:
                out.append("F")
                continue
            matches = [
                i for i in range(len(pts)) if cls_a[i] == pa and cls_b[i] == pb
            ]
            if not matches:
                out.append("F")
                continue
            cap = min(da, db)
            if pa == "E" and pb == "E":
                out.append("2")  # exteriors of bounded geometries
                continue
            if cap == 0:
                out.append("0")
                continue
            if pa == "I" and pb == "I" and a.dim == 2 and b.dim == 2:
                out.append("2")
                continue
            if (pa, pb) in (("I", "E"), ("E", "I")) and max(
                (a.dim if pa == "I" else b.dim), 0
            ) == 2:
                out.append(str(cap))
                continue
            # promote to 1 when >= 3 consecutive samples of one edge match
            mset = set(matches)
            dim1 = False
            for s, e in runs:
                row = [i in mset for i in range(s, e)]
                if any(row[i] and row[i + 1] and row[i + 2] for i in range(len(row) - 2)):
                    dim1 = True
                    break
            out.append("1" if dim1 and cap >= 1 else "0")
    return "".join(out)


def de9im_matches(matrix: str, pattern: str) -> bool:
    """OGC relate pattern match: T = non-F, * = any, 0/1/2/F exact."""
    if len(pattern) != 9:
        raise ValueError(f"pattern must have 9 chars, got {pattern!r}")
    for m, p in zip(matrix, pattern.upper()):
        if p == "*":
            continue
        if p == "T":
            if m == "F":
                return False
        elif m != p:
            return False
    return True


def is_simple(g: Geometry) -> bool:
    """OGC isSimple: no self-intersections (anchored at non-adjacent
    segments); MultiPoint simple iff no duplicate points."""
    if g.kind in ("Point",):
        return True
    if g.kind == "MultiPoint":
        seen = set()
        for p in _iter_points(g):
            key = (round(p[0], 12), round(p[1], 12))
            if key in seen:
                return False
            seen.add(key)
        return True
    for part in g.parts():
        segs = []
        for path in part.rings():
            arr = np.asarray(path, dtype=np.float64)
            closed = np.allclose(arr[0], arr[-1])
            n = arr.shape[0] - 1
            for i in range(n):
                segs.append((arr[i], arr[i + 1], i, n, closed))
        for i in range(len(segs)):
            for j in range(i + 1, len(segs)):
                a0, a1, ia, na, ca = segs[i]
                b0, b1, ib, nb, cb = segs[j]
                adjacent = abs(ia - ib) == 1 or (
                    ca and {ia, ib} == {0, na - 1}
                )
                sa = np.array([[a0[0], a0[1], a1[0], a1[1]]])
                sb = np.array([[b0[0], b0[1], b1[0], b1[1]]])
                if adjacent:
                    # only a proper (interior) crossing counts for neighbours
                    d1 = _orient(a0[0], a0[1], a1[0], a1[1], b0[0], b0[1])
                    d2 = _orient(a0[0], a0[1], a1[0], a1[1], b1[0], b1[1])
                    d3 = _orient(b0[0], b0[1], b1[0], b1[1], a0[0], a0[1])
                    d4 = _orient(b0[0], b0[1], b1[0], b1[1], a1[0], a1[1])
                    if (d1 * d2) < -_EPS and (d3 * d4) < -_EPS:
                        return False
                elif _any_segment_intersection(sa, sb):
                    return False
    return True


def closest_point_on(a: Geometry, b: Geometry) -> tuple[float, float]:
    """Point ON geometry ``a`` nearest to geometry ``b`` (planar), the JTS
    closestPoints[0] analog behind st_closestPoint."""
    if a.kind == "Point":
        return (float(a.coords[0]), float(a.coords[1]))
    ea = _edge_array(a)
    if a.kind == "MultiPoint" or ea.shape[0] == 0:
        best, bd = None, np.inf
        eb = _edge_array(b)
        for p in _iter_points(a):
            d = _point_to_geom_dist(p, b, eb)
            if d < bd:
                best, bd = (float(p[0]), float(p[1])), d
        return best
    if _intersects(a, b) and a.dim == 2:
        p = _interior_probe(b) or next(_iter_points(b))
        if _classify_point(p, a) != "exterior":
            return (float(p[0]), float(p[1]))
    best, bd = None, np.inf
    # candidates: projections of b's sample points onto a's edges
    for p in _sample_points(b) + list(_iter_points(b)):
        px, py = float(p[0]), float(p[1])
        x0, y0, x1, y1 = ea[:, 0], ea[:, 1], ea[:, 2], ea[:, 3]
        dx, dy = x1 - x0, y1 - y0
        L2 = np.maximum(dx * dx + dy * dy, _EPS)
        t = np.clip(((px - x0) * dx + (py - y0) * dy) / L2, 0.0, 1.0)
        qx, qy = x0 + t * dx, y0 + t * dy
        d = np.hypot(qx - px, qy - py)
        i = int(np.argmin(d))
        if d[i] < bd:
            best, bd = (float(qx[i]), float(qy[i])), float(d[i])
    return best


def _point_to_geom_dist(p, g: Geometry, eg: np.ndarray) -> float:
    px, py = float(p[0]), float(p[1])
    if eg.shape[0] == 0:
        pts = np.asarray(list(_iter_points(g)), dtype=np.float64)
        return float(np.hypot(pts[:, 0] - px, pts[:, 1] - py).min())
    x0, y0, x1, y1 = eg[:, 0], eg[:, 1], eg[:, 2], eg[:, 3]
    dx, dy = x1 - x0, y1 - y0
    L2 = np.maximum(dx * dx + dy * dy, _EPS)
    t = np.clip(((px - x0) * dx + (py - y0) * dy) / L2, 0.0, 1.0)
    return float(np.hypot(x0 + t * dx - px, y0 + t * dy - py).min())


def buffer_point_deg(lon: float, lat: float, meters: float, n: int = 100) -> Geometry:
    """Geodesic-approximate circular buffer of a point, in degrees.

    st_bufferPoint analog (``GeometricProcessingFunctions.scala:59-62``):
    meters -> degrees via latitude-corrected scale, n-point circle.

    Conservative by construction: the longitude scale uses the WORST-CASE
    latitude inside the buffered band (``|lat| + dlat``, i.e. the smallest
    cosine any point of the true geodesic disc can see), so the polygon always
    contains the true disc — at high latitudes a center-latitude cosine
    under-covers by up to ~30% (lat 80, 600 km), silently dropping rows before
    any exact refine. Over-coverage is safe everywhere this is used: callers
    (proximity/tube/route joins) treat the polygon as an index prefilter and
    apply an exact distance refine afterwards.
    """
    dlat = math.degrees(meters / EARTH_RADIUS_M)
    worst_lat = min(abs(lat) + dlat, 89.999999)
    dlon = dlat / max(math.cos(math.radians(worst_lat)), 1e-6)
    angles = np.linspace(0, 2 * math.pi, n, endpoint=False)
    xs = lon + dlon * np.cos(angles)
    ys = np.clip(lat + dlat * np.sin(angles), -90.0, 90.0)
    ring = tuple(zip(xs.tolist(), ys.tolist())) + ((float(xs[0]), float(ys[0])),)
    return Geometry("Polygon", (ring,))
