"""Seeded inputs and the independent numpy reference answers.

Every generated input is a pure function of the seed: the row-id offset into
the ``sources.images`` splitmix generator, the polygon pools, the kNN query
points, the ingest days and the ANN corpus. The references below never call
engine code; they recompute each answer from the generated coordinates.
"""

from __future__ import annotations

import numpy as np

from geomesa_spark.sources.images import CITIES

EARTH_R_M = 6371008.8


def row_offset(seed: int) -> int:
    """Row-id offset into the splitmix image generator for this seed."""
    return (seed * 1_000_003 + 17) % (1 << 40)


# ---------------------------------------------------------------- polygons

def hexagon(cx: float, cy: float, r: float, rot: float) -> np.ndarray:
    a = rot + np.arange(6) * np.pi / 3
    ring = np.stack([cx + r * np.cos(a), cy + r * np.sin(a)], axis=1)
    return np.vstack([ring, ring[:1]])


def box(cx: float, cy: float, hw: float, hh: float) -> np.ndarray:
    x0, x1, y0, y1 = cx - hw, cx + hw, cy - hh, cy + hh
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])


def wkt(ring: np.ndarray) -> str:
    pts = ", ".join(f"{x:.6f} {y:.6f}" for x, y in ring)
    return f"POLYGON(({pts}))"


def parse_ring(text: str) -> np.ndarray:
    """The ring back from :func:`wkt`, so references use the exact vertices
    the engine receives."""
    body = text[text.index("((") + 2:text.rindex("))")]
    return np.array([[float(v) for v in p.split()] for p in body.split(",")])


def city_polygons(rng: np.random.Generator, n: int, size: tuple[float, float],
                  jitter: float = 0.05, one_per_city: bool = False) -> dict[str, str]:
    """``n`` polygons near the city clusters, alternating box and hexagon;
    city ``i`` for polygon ``i`` when ``one_per_city``, else a seeded draw."""
    out = {}
    for i in range(n):
        cx, cy = CITIES[i if one_per_city else int(rng.integers(len(CITIES)))]
        cx += rng.uniform(-jitter, jitter)
        cy += rng.uniform(-jitter, jitter)
        r = rng.uniform(*size)
        ring = (
            box(cx, cy, r, r * rng.uniform(0.6, 1.0)) if i % 2 == 0
            else hexagon(cx, cy, r, rng.uniform(0, np.pi / 3))
        )
        out[f"p{i}"] = wkt(ring)
    return out


# -------------------------------------------------------------- references

def pip_mask(lon: np.ndarray, lat: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray cast over one closed ring (boundary hits have measure
    zero for the generated float coordinates)."""
    inside = np.zeros(len(lon), dtype=bool)
    x0, y0, x1, y1 = ring.min(0)[0], ring.min(0)[1], ring.max(0)[0], ring.max(0)[1]
    cand = np.flatnonzero((lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1))
    px, py = lon[cand], lat[cand]
    hit = np.zeros(len(cand), dtype=bool)
    for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
        crosses = (ay > py) != (by > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = ax + (py - ay) * (bx - ax) / (by - ay)
        hit ^= crosses & (px < xint)
    inside[cand] = hit
    return inside


def haversine_m(lon, lat, qlon: float, qlat: float) -> np.ndarray:
    la, qa = np.radians(lat), np.radians(qlat)
    dlat = la - qa
    dlon = np.radians(lon) - np.radians(qlon)
    h = np.sin(dlat / 2) ** 2 + np.cos(qa) * np.cos(la) * np.sin(dlon / 2) ** 2
    return 2 * EARTH_R_M * np.arcsin(np.sqrt(h))


def knn_ref(lon, lat, qlon: float, qlat: float, k: int) -> np.ndarray:
    """Sorted k smallest haversine distances from the query."""
    d = haversine_m(lon, lat, qlon, qlat)
    return np.sort(np.partition(d, k - 1)[:k])


def grid_xy(lon, lat, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Integer world-grid coordinates at ``res`` (2^res bins per axis)."""
    n = 1 << res
    x = np.clip(np.floor((lon + 180.0) / 360.0 * n).astype(np.int64), 0, n - 1)
    y = np.clip(np.floor((lat + 90.0) / 180.0 * n).astype(np.int64), 0, n - 1)
    return x, y


def pyramid_ref(lon, lat, max_res: int, levels: int) -> dict[int, np.ndarray]:
    """Per level: the sorted point counts of its non-empty cells."""
    x, y = grid_xy(lon, lat, max_res)
    out = {}
    for r in range(max_res - levels + 1, max_res + 1):
        s = max_res - r
        key = (x >> s) * (1 << 31) + (y >> s)
        out[r] = np.sort(np.unique(key, return_counts=True)[1])
    return out


def tiles_per_image(lon, lat, w, h, res: int, pitch: float) -> np.ndarray:
    """Distinct raster tiles each image's pixel grid touches."""
    n = np.int64(1) << np.int64(res)
    out = np.empty(len(lon), dtype=np.int64)
    for i in range(len(lon)):
        xi = np.floor((lon[i] + np.arange(w[i]) * pitch + 180.0) * n / 360.0)
        yi = np.floor((lat[i] - np.arange(h[i]) * pitch + 90.0) * n / 180.0)
        out[i] = len(np.unique(np.clip(xi, 0, n - 1))) * len(np.unique(np.clip(yi, 0, n - 1)))
    return out


def cosine_topk(X: np.ndarray, Q: np.ndarray, k: int) -> np.ndarray:
    """Brute-force cosine top-k ids per query row (ties by lower id)."""
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    S = Qn @ Xn.T
    return np.argsort(-S, axis=1, kind="stable")[:, :k]
