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
- one exact DE-9IM kernel (``de9im``) on mutually noded edges, behind
  ``st_relate`` and every named predicate (contains/covers/coveredby/
  crosses/equals/overlaps/touches/within as OGC patterns; intersects/
  disjoint on an exact fast path) — the golden DE-9IM semantics pinned by
  the reference's ``SparkSQLSpatialRelationshipsTest.scala:50-140``.
- spherical distance (haversine; analog of ``st_distanceSphere``,
  ``SpatialRelationFunctions.scala:137-141``).

All coordinates are EPSG:4326 lon/lat degrees. Geometries are simple
(non-self-intersecting); polygons may carry holes and multi-parts, in the
predicates as in point-in-polygon.
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass
from functools import cached_property
from typing import NamedTuple

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
        return self._bounds

    # computed once per object: a driver polygon is refined against every
    # row of a join (cached_property writes the instance __dict__, which a
    # frozen dataclass allows; neither enters eq or hash)
    @cached_property
    def _bounds(self) -> tuple[float, float, float, float]:
        xs, ys = zip(*((p[0], p[1]) for p in _iter_points(self)))
        return (float(min(xs)), float(min(ys)), float(max(xs)), float(max(ys)))

    @cached_property
    def _prepared(self) -> _Prepared:
        p = _prepare(self)
        for a in p[1:]:
            a.flags.writeable = False  # shared by every later caller
        return p

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


_BOX_WKB_HEADER = np.frombuffer(b"\x01" + struct.pack("<III", 3, 1, 5), dtype=np.uint8)


def boxes_wkb(x0, y0, x1, y1) -> list[bytes]:
    """Batched ``to_wkb(box(x0, y0, x1, y1))`` over equal-length arrays:
    the same 93-byte little-endian polygon (one 5-point ring), header bytes
    tiled and every coordinate written through one (n, 10) float64 view."""
    x0, y0, x1, y1 = (np.asarray(v, dtype=np.float64) for v in (x0, y0, x1, y1))
    coords = np.empty((len(x0), 10), dtype="<f8")
    coords[:, 0::2] = np.column_stack([x0, x1, x1, x0, x0])
    coords[:, 1::2] = np.column_stack([y0, y0, y1, y1, y0])
    buf = np.empty((len(x0), 13 + 80), dtype=np.uint8)
    buf[:, :13] = _BOX_WKB_HEADER
    buf[:, 13:] = coords.view(np.uint8)
    return [row.tobytes() for row in buf]


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


def _orient(ax, ay, bx, by, cx, cy):
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def _on_line(d, px, py, x0, y0, x1, y1):
    """Point p, at orientation ``d`` against segment (x0, y0)-(x1, y1), lies
    on the closed segment: collinear within tolerance and inside the
    tolerance-widened bbox (tested only once some point is collinear)."""
    on = np.abs(d) <= _EPS * np.maximum(1.0, np.abs(x1 - x0) + np.abs(y1 - y0))
    if on.any():
        on &= (
            (px >= np.minimum(x0, x1) - _EPS)
            & (px <= np.maximum(x0, x1) + _EPS)
            & (py >= np.minimum(y0, y1) - _EPS)
            & (py <= np.maximum(y0, y1) + _EPS)
        )
    return on


def _on_segments(px, py, segs: np.ndarray) -> np.ndarray:
    """(N, E) mask: point i lies on closed segment j (within tolerance)."""
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    x0, y0, x1, y1 = (segs[:, i] for i in range(4))
    return _on_line(_orient(x0, y0, x1, y1, px, py), px, py, x0, y0, x1, y1)


def _pip(lon, lat, edges: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(inside by the even-odd ray cast, on an edge) per point; O(N*E) with
    numpy broadcasting, chunked to bound memory."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    n = lon.shape[0]
    inside = np.zeros(n, dtype=bool)
    on_edge = np.zeros(n, dtype=bool)
    if n == 0 or edges.shape[0] == 0:
        return inside, on_edge
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
        on_edge[s : s + chunk] = _on_segments(px[:, 0], py[:, 0], edges).any(axis=1)
    return inside, on_edge


def points_in_polygon(
    lon: np.ndarray, lat: np.ndarray, edges: np.ndarray, include_boundary: bool = True
) -> np.ndarray:
    """Vectorized even-odd ray cast of N points against one polygon's edges.

    Half-open vertex rule avoids double counting; boundary points handled
    explicitly so the result matches the closed (``covers``) or open
    (``contains``) convention.
    """
    inside, on_edge = _pip(lon, lat, edges)
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


def _segment_pairs(sa: np.ndarray, sb: np.ndarray):
    """The one pairwise segment primitive: (N, M) arrays ``(cross, touch,
    ta, tb)`` for segments ``sa`` (N, 4) and ``sb`` (M, 4), rows
    [x0, y0, x1, y1].

    ``touch`` marks an endpoint of one segment lying on the other (every
    collinear overlap is one). ``cross`` marks a proper crossing, a single
    point interior to both segments, at parameter ``ta`` along ``sa`` and
    ``tb`` along ``sb``.
    """
    ax0, ay0, ax1, ay1 = a = tuple(sa[:, i, None] for i in range(4))
    bx0, by0, bx1, by1 = b = tuple(sb[None, :, i] for i in range(4))
    d1 = _orient(*a, bx0, by0)
    d2 = _orient(*a, bx1, by1)
    d3 = _orient(*b, ax0, ay0)
    d4 = _orient(*b, ax1, ay1)
    touch = (
        _on_line(d1, bx0, by0, *a)
        | _on_line(d2, bx1, by1, *a)
        | _on_line(d3, ax0, ay0, *b)
        | _on_line(d4, ax1, ay1, *b)
    )
    cross = ((d1 * d2) < 0) & ((d3 * d4) < 0) & ~touch
    with np.errstate(divide="ignore", invalid="ignore"):
        return cross, touch, d3 / (d3 - d4), d1 / (d1 - d2)


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
    paths = list(g.rings())
    edges = np.concatenate([np.concatenate([p[:-1], p[1:]], axis=1) for p in paths])
    if g.dim == 2:
        corners_in = points_in_polygon(
            np.array([lon0, lon1, lon1, lon0]), np.array([lat0, lat0, lat1, lat1]), edges
        )
        if corners_in.any() != corners_in.all():
            return "overlapping"
    if edges.size:
        rect_edges = np.array(
            [
                [lon0, lat0, lon1, lat0],
                [lon1, lat0, lon1, lat1],
                [lon1, lat1, lon0, lat1],
                [lon0, lat1, lon0, lat0],
            ]
        )
        cross, touch, _, _ = _segment_pairs(rect_edges, edges)
        if cross.any() or touch.any():
            return "overlapping"
    # no boundary contact: every point, path and ring of g lies wholly inside
    # or outside the rect, so one vertex of each says whether it is inside
    heads = np.array([p[0] for p in paths])
    if (
        (heads[:, 0] >= lon0) & (heads[:, 0] <= lon1) & (heads[:, 1] >= lat0) & (heads[:, 1] <= lat1)
    ).any():
        return "overlapping"
    return "contained" if g.dim == 2 and corners_in.all() else "disjoint"


# ---------------------------------------------------------------------------
# The DE-9IM kernel: named predicates, st_relate (golden DE-9IM semantics)
# ---------------------------------------------------------------------------

_I, _B, _E = 0, 1, 2  # interior / boundary / exterior: DE-9IM row and column


class _Prepared(NamedTuple):
    dim: int
    pts: np.ndarray    # (V, 2) vertices
    own: np.ndarray    # (V,) location code of each vertex on the geometry itself
    heads: np.ndarray  # (R, 2) first vertex of every point, path and ring
    segs: np.ndarray   # (E, 4) non-degenerate edges [x0, y0, x1, y1]
    left: np.ndarray   # (E,) polygons: the interior lies left of the edge
    bnd: np.ndarray    # (K, 2) lines: boundary points (mod-2 rule over path ends)


def _coincide(pts: np.ndarray, q: np.ndarray) -> np.ndarray:
    """(N,) mask: point i equals some row of ``q`` (within tolerance)."""
    return (
        (np.abs(pts[:, :1] - q[:, 0]) <= _EPS) & (np.abs(pts[:, 1:] - q[:, 1]) <= _EPS)
    ).any(axis=1)


def _prepare(g: Geometry) -> _Prepared:
    """The arrays the DE-9IM kernel reads from ``g``."""
    paths = list(g.rings())
    heads = np.array([p[0] for p in paths])
    if g.dim == 0:
        pts = np.concatenate(paths)
        no_edges = np.zeros((0, 4))
        return _Prepared(0, pts, np.full(len(pts), _I), heads, no_edges, np.zeros(0, dtype=bool), pts[:0])
    segs = np.concatenate([np.concatenate([p[:-1], p[1:]], axis=1) for p in paths])
    if g.dim == 2:
        pts = np.concatenate([p[:-1] for p in paths])
        own, bnd = np.full(len(pts), _B), np.zeros((0, 2))
        # the interior is left of a ccw shell's edges and right of a ccw hole's
        shell = [k == 0 for part in g.parts() for k in range(len(part.coords))]
        left = np.concatenate([
            np.full(len(p) - 1, (np.sum(p[:-1, 0] * p[1:, 1] - p[1:, 0] * p[:-1, 1]) > 0) == s)
            for p, s in zip(paths, shell)
        ])
    else:
        pts = np.concatenate(paths)
        ends, cnt = np.unique(
            np.concatenate([p[[0, -1]] for p in paths]), axis=0, return_counts=True
        )
        bnd = ends[cnt % 2 == 1]
        own = np.where(_coincide(pts, bnd), _B, _I)
        left = np.zeros(len(segs), dtype=bool)
    keep = (segs[:, 0] != segs[:, 2]) | (segs[:, 1] != segs[:, 3])
    return _Prepared(g.dim, pts, own, heads, segs[keep], left[keep], bnd)


def _locate(pts: np.ndarray, p: _Prepared) -> np.ndarray:
    """Location code (_I, _B or _E) on ``p`` of each point of ``pts`` (N, 2)."""
    if p.dim == 2:
        inside, on_edge = _pip(pts[:, 0], pts[:, 1], p.segs)
        return np.where(on_edge, _B, np.where(inside, _I, _E))
    if p.dim == 1:
        on = _on_segments(pts[:, 0], pts[:, 1], p.segs).any(axis=1)
        return np.where(_coincide(pts, p.bnd), _B, np.where(on, _I, _E))
    return np.where(_coincide(pts, p.pts), _I, _E)


def _param(px, py, x0, y0, x1, y1):
    """Projection parameter of point(s) along non-degenerate segment(s)."""
    dx, dy = x1 - x0, y1 - y0
    return ((px - x0) * dx + (py - y0) * dy) / (dx * dx + dy * dy)


def _sub_edges(p: _Prepared, ei, t, other: np.ndarray):
    """Midpoints and edge indices of ``p``'s sub-edges: its edges noded at the
    crossing parameters ``t`` of edges ``ei`` and at every point of
    ``other`` (N, 2) that lies on an edge (collinear-overlap ends included)."""
    n = p.segs.shape[0]
    vi, vj = np.nonzero(_on_segments(other[:, 0], other[:, 1], p.segs))
    s = p.segs[vj]
    tv = np.clip(_param(other[vi, 0], other[vi, 1], s[:, 0], s[:, 1], s[:, 2], s[:, 3]), 0.0, 1.0)
    e = np.concatenate([np.arange(n), np.arange(n), ei, vj])
    t = np.concatenate([np.zeros(n), np.ones(n), t, tv])
    order = np.lexsort((t, e))
    e, t = e[order], t[order]
    keep = (e[1:] == e[:-1]) & (t[1:] - t[:-1] > _EPS)
    e, tm = e[1:][keep], (t[1:][keep] + t[:-1][keep]) / 2
    s = p.segs[e]
    return s[:, :2] + tm[:, None] * (s[:, 2:] - s[:, :2]), e


def _faces(loc, mid, e, p: _Prepared, q: _Prepared):
    """Location on polygon ``q`` of the two faces beside each boundary
    sub-edge of polygon ``p`` (midpoints ``mid`` on edges ``e``, located at
    ``loc`` on q): (face on p's interior side, face on p's exterior side).
    Off q's boundary both faces share the sub-edge's location; on a shared
    sub-edge they are read from the two rings' interior sides."""
    fi, fe = loc.copy(), loc.copy()
    sh = np.nonzero(loc == _B)[0]
    if sh.size:
        j = _on_segments(mid[sh, 0], mid[sh, 1], q.segs).argmax(axis=1)
        ps, qs = p.segs[e[sh]], q.segs[j]
        along = (ps[:, 2] - ps[:, 0]) * (qs[:, 2] - qs[:, 0]) + (ps[:, 3] - ps[:, 1]) * (
            qs[:, 3] - qs[:, 1]
        ) > 0
        same = p.left[e[sh]] == (q.left[j] == along)
        fi[sh] = np.where(same, _I, _E)
        fe[sh] = np.where(same, _E, _I)
    return fi, fe


def de9im(a: Geometry, b: Geometry) -> str:
    """DE-9IM matrix string (row-major II IB IE / BI BB BE / EI EB EE) of two
    simple points, lines or polygons, holes and multi-parts included.

    Exact on noded edges: both geometries' edges are split at their mutual
    intersections (proper crossings and every vertex of one lying on an edge
    of the other). Each vertex and crossing node marks its (location on a,
    location on b) entry with dimension 0, and each sub-edge, located by its
    midpoint, with dimension 1. The area entries come from the faces on
    either side of every polygon boundary sub-edge (:func:`_faces`): a
    bounded component of ``I(a) ∩ I(b)``, ``I(a) ∩ E(b)`` or ``E(a) ∩ I(b)``
    is fenced by such sub-edges.
    """
    pa, pb = a._prepared, b._prepared
    m = np.full((3, 3), -1)
    m[_E, _E] = 2
    # where an edge's own points lie: interior of a line, boundary of an area
    la, lb = (_I if p.dim == 1 else _B for p in (pa, pb))
    cross, _, ta, tb = _segment_pairs(pa.segs, pb.segs)
    ia, ib = np.nonzero(cross)
    if ia.size:
        m[la, lb] = max(m[la, lb], 0)
    np.maximum.at(m, (pa.own, _locate(pa.pts, pb)), 0)
    np.maximum.at(m, (_locate(pb.pts, pa), pb.own), 0)
    mid_a, ea = _sub_edges(pa, ia, ta[ia, ib], pb.pts)
    mid_b, eb = _sub_edges(pb, ib, tb[ia, ib], pa.pts)
    loc_a, loc_b = _locate(mid_a, pb), _locate(mid_b, pa)
    np.maximum.at(m, (la, loc_a), 1)
    np.maximum.at(m, (loc_b, lb), 1)
    if pa.dim == 2 and pb.dim == 2:
        fi, fe = _faces(loc_a, mid_a, ea, pa, pb)
        m[_I, fi] = 2
        m[_E, fe] = 2
        fi, fe = _faces(loc_b, mid_b, eb, pb, pa)
        m[fi, _I] = 2
        m[fe, _E] = 2
    elif pa.dim == 2:
        m[_I, _E] = 2  # a line or point cannot cover an open area
    elif pb.dim == 2:
        m[_E, _I] = 2
    return "".join("F" if v < 0 else str(v) for v in m.ravel())


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


# OGC SFS definitions of the named predicates (any pattern matching suffices)
_PATTERNS = {
    "contains": ("T*****FF*",),
    "within": ("T*F**F***",),
    "covers": ("T*****FF*", "*T****FF*", "***T**FF*", "****T*FF*"),
    "coveredby": ("T*F**F***", "*TF**F***", "**FT*F***", "**F*TF***"),
    "equals": ("T*F**FFF*",),
    "touches": ("FT*******", "F**T*****", "F***T****"),
}


def relate(a: Geometry, b: Geometry, predicate: str) -> bool:
    """Evaluate a named spatial predicate with DE-9IM semantics.

    ``intersects``/``disjoint`` take the exact fast path
    (:func:`_intersects`); every other predicate is its OGC SFS pattern
    matched against :func:`de9im`, validated against the reference's golden
    fixture (``SparkSQLSpatialRelationshipsTest.scala``). ``crosses`` and
    ``overlaps`` depend on the two dimensions, and are False without
    computing the matrix where the definition excludes the pair.
    """
    predicate = predicate.lower()
    if predicate in ("intersects", "disjoint"):
        return _intersects(a, b) == (predicate == "intersects")
    if predicate == "crosses":
        if a.dim == b.dim:
            patterns = ("0********",) if a.dim == 1 else ()
        else:
            patterns = ("T*T******",) if a.dim < b.dim else ("T*****T**",)
    elif predicate == "overlaps":
        if a.dim != b.dim:
            patterns = ()
        else:
            patterns = ("1*T***T**",) if a.dim == 1 else ("T*T***T**",)
    elif predicate in _PATTERNS:
        patterns = _PATTERNS[predicate]
    else:
        raise ValueError(f"unknown predicate: {predicate}")
    if not patterns:
        return False
    matrix = de9im(a, b)
    return any(de9im_matches(matrix, p) for p in patterns)


def _intersects(a: Geometry, b: Geometry) -> bool:
    """Exact intersects: bbox reject, then any edge contact by the segment
    primitive; without one, every path and ring lies wholly inside or
    outside the other geometry, so one vertex of each settles it."""
    abounds, bbounds = a.bounds(), b.bounds()
    if (
        abounds[2] < bbounds[0] - _EPS
        or abounds[0] > bbounds[2] + _EPS
        or abounds[3] < bbounds[1] - _EPS
        or abounds[1] > bbounds[3] + _EPS
    ):
        return False
    pa, pb = a._prepared, b._prepared
    if pa.segs.size and pb.segs.size:
        cross, touch, _, _ = _segment_pairs(pa.segs, pb.segs)
        if cross.any() or touch.any():
            return True
    return bool((_locate(pa.heads, pb) != _E).any() or (_locate(pb.heads, pa) != _E).any())


# ---------------------------------------------------------------------------
# Simplicity, closest point, distance (st_isSimple / st_closestPoint /
# st_distance analogs —
# GeometricAccessorFunctions.scala:55-70)
# ---------------------------------------------------------------------------

def is_simple(g: Geometry) -> bool:
    """OGC isSimple: no path or ring intersects itself other than where
    consecutive edges share their vertex (rings are tested one by one, as
    JTS does); MultiPoint simple iff no duplicate points."""
    if g.dim == 0:
        pts = np.round(np.asarray(list(_iter_points(g)), dtype=np.float64), 12)
        return len(np.unique(pts, axis=0)) == len(pts)
    for path in g.rings():
        segs = np.concatenate([path[:-1], path[1:]], axis=1)
        n = segs.shape[0]
        i, j = np.triu_indices(n, 1)
        closed = bool(np.allclose(path[0], path[-1]))
        adjacent = (j - i == 1) | (closed & (i == 0) & (j == n - 1))
        cross, touch, _, _ = _segment_pairs(segs, segs)
        # consecutive edges may share only their vertex: antiparallel ones
        # fold back and overlap past it (the pair wraps round on a ring)
        d = segs[:, 2:] - segs[:, :2]
        nxt = np.roll(d, -1, axis=0)
        fold = (
            np.abs(d[:, 0] * nxt[:, 1] - d[:, 1] * nxt[:, 0])
            <= _EPS * np.hypot(*d.T) * np.hypot(*nxt.T)
        ) & ((d * nxt).sum(axis=1) < 0)
        if (cross[i, j] | (touch[i, j] & ~adjacent)).any():
            return False
        if fold[: n if closed else n - 1].any():
            return False
    return True


def _nearest(pts: np.ndarray, segs: np.ndarray):
    """(N, E) coordinates of the point on each segment nearest each point."""
    x0, y0, x1, y1 = (segs[:, i] for i in range(4))
    t = np.clip(_param(pts[:, :1], pts[:, 1:], x0, y0, x1, y1), 0.0, 1.0)
    return x0 + t * (x1 - x0), y0 + t * (y1 - y0)


def closest_point_on(a: Geometry, b: Geometry) -> tuple[float, float]:
    """Point ON geometry ``a`` nearest to geometry ``b`` (planar), the JTS
    closestPoints[0] analog behind st_closestPoint.

    If they intersect, a common point: a vertex of one covered by the other,
    else a crossing node. Otherwise a closest pair has a vertex on one side,
    so the answer is a vertex of ``a`` or the projection onto ``a`` of a
    vertex of ``b``, whichever lies nearest ``b``'s edges or points.
    """
    if a.kind == "Point":
        return (float(a.coords[0]), float(a.coords[1]))
    pa, pb = a._prepared, b._prepared
    if _intersects(a, b):
        cross, _, ta, _ = _segment_pairs(pa.segs, pb.segs)
        ia, ib = np.nonzero(cross)
        s, t = pa.segs[ia], ta[ia, ib][:, None]
        common = np.concatenate([
            pb.pts[_locate(pb.pts, pa) != _E],
            pa.pts[_locate(pa.pts, pb) != _E],
            s[:, :2] + t * (s[:, 2:] - s[:, :2]),
        ])
        return (float(common[0, 0]), float(common[0, 1]))
    cands, d = _disjoint_candidates(pa, pb)
    p = cands[d.argmin()]
    return (float(p[0]), float(p[1]))


def _disjoint_candidates(pa: _Prepared, pb: _Prepared):
    """Where a closest pair of two disjoint geometries lies on ``pa``: a
    closest pair has a vertex on one side, so it is a vertex of ``pa`` or
    the projection onto ``pa`` of a vertex of ``pb``. -> (candidate points
    (N, 2), the distance of each to ``pb``'s edges or points)."""
    cands = pa.pts
    if pa.segs.size:
        qx, qy = _nearest(pb.pts, pa.segs)
        k = np.hypot(qx - pb.pts[:, :1], qy - pb.pts[:, 1:]).argmin(axis=1)
        r = np.arange(len(k))
        cands = np.concatenate([cands, np.stack([qx[r, k], qy[r, k]], axis=1)])
    if pb.segs.size:
        qx, qy = _nearest(cands, pb.segs)
        return cands, np.hypot(qx - cands[:, :1], qy - cands[:, 1:]).min(axis=1)
    return cands, np.hypot(cands[:, :1] - pb.pts[:, 0], cands[:, 1:] - pb.pts[:, 1]).min(axis=1)


def distance(a: Geometry, b: Geometry) -> float:
    """Planar distance between two geometries (st_distance): 0 when they
    intersect, else the nearest of :func:`_disjoint_candidates`."""
    if _intersects(a, b):
        return 0.0
    return float(_disjoint_candidates(a._prepared, b._prepared)[1].min())


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
