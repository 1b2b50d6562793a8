"""Deterministic synthetic image+caption table (the BASELINE input shape).

Schema exactly per BASELINE.json input_hint:
``(image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
caption:string, phash:int64)`` plus derived ``lon/lat/ts`` used by every
spatial operator (FIXTURES.md F1).

Everything is a pure function of the row index (splitmix64 seeding), so the
table can be generated *distributed* on executors via
``spark.range(n).mapInPandas`` — no driver-side materialization, no external
data — and regenerating any partition yields identical rows (which is what
makes checkpoint/resume and the PSNR/caption invariants testable).

Location model: hot-spot mixture — 80% of points drawn from 5 city clusters
(sigma ~0.1 deg), 20% uniform — so skew handling (salting, AQE) is exercised,
mirroring the reference's shard-byte hot-spot mitigation
(``ShardStrategy.scala:71-79``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..functions import image as img

SEED = 42

CITIES = [  # (lon, lat) cluster centers
    (-74.006, 40.713),   # NYC
    (2.352, 48.857),     # Paris
    (139.692, 35.690),   # Tokyo
    (-118.244, 34.052),  # LA
    (151.209, -33.868),  # Sydney
]
CLUSTER_FRAC = 0.8
CLUSTER_SIGMA = 0.1

TS_EPOCH = 1704067200  # 2024-01-01T00:00:00Z
TS_SPAN = 60 * 86400   # 60 days

_ADJECTIVES = ["red", "blue", "ancient", "tiny", "vast", "quiet", "bright", "rusty"]
_NOUNS = ["harbor", "market", "bridge", "garden", "tower", "alley", "plaza", "station"]
_PLACES = ["dawn", "dusk", "noon", "midnight", "spring", "autumn", "rain", "fog"]

# FROZEN fixture recipe: the driver-gate oracles replay fmt = FMTS[i % 3]
# in SQL and the parquet fixture caches are keyed only by n — do NOT change
# this list (bump fixtures.IMAGES_FIXTURE_VERSION if you ever must).
FMTS = ["raw", "png", "qjz"]
# full codec surface incl. the real baseline-JFIF codec (functions/jpeg.py);
# pass fmts=FMTS_ALL to images_df for jpeg-bearing tables
FMTS_ALL = ["raw", "png", "qjz", "jpeg"]

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, lon double, lat double, ts timestamp"
)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Deterministic 64-bit mix (public splitmix64 constants)."""
    x = (x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    return x ^ (x >> np.uint64(31))


def _u01(ids: np.ndarray, salt: int) -> np.ndarray:
    """Uniform [0,1) derived from row ids + a salt (vectorized, stateless)."""
    h = _splitmix64(ids.astype(np.uint64) ^ np.uint64(_splitmix64(np.array([salt + SEED], dtype=np.uint64))[0]))
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _gauss(ids: np.ndarray, salt: int) -> np.ndarray:
    """Standard normal via Box-Muller on two stateless uniforms."""
    u1 = np.clip(_u01(ids, salt), 1e-12, 1.0)
    u2 = _u01(ids, salt + 1)
    return np.sqrt(-2.0 * np.log(u1)) * np.cos(2 * np.pi * u2)


def lonlat_of(ids: np.ndarray, hot_city: int | None = None, hot_frac: float = 0.0,
              hot_sigma: float | None = None):
    """Hot-spot mixture locations. ``hot_city``/``hot_frac`` force extra skew
    (the salting test variant: one cluster holding ``hot_frac`` of rows);
    ``hot_sigma`` overrides the forced-hot cluster's spread — 0.0 puts every
    hot row at the EXACT city-center coordinate (the default-geotag
    pathology: one Z2 cell key, exact-duplicate lon/lat)."""
    ids = np.asarray(ids, dtype=np.int64)
    u_pick = _u01(ids, 1)
    city_idx = (_u01(ids, 2) * len(CITIES)).astype(np.int64)
    clustered = u_pick < CLUSTER_FRAC
    force_hot = np.zeros(len(ids), dtype=bool)
    if hot_city is not None:
        force_hot = _u01(ids, 9) < hot_frac
        city_idx = np.where(force_hot, hot_city, city_idx)
        clustered = clustered | force_hot
    sigma = np.full(len(ids), CLUSTER_SIGMA)
    if hot_sigma is not None:
        sigma = np.where(force_hot, hot_sigma, sigma)
    centers = np.array(CITIES)
    lon = np.where(
        clustered,
        centers[city_idx, 0] + _gauss(ids, 3) * sigma,
        _u01(ids, 5) * 360.0 - 180.0,
    )
    lat = np.where(
        clustered,
        centers[city_idx, 1] + _gauss(ids, 4) * sigma,
        _u01(ids, 6) * 180.0 - 90.0,
    )
    return np.clip(lon, -180.0, 179.999999), np.clip(lat, -90.0, 89.999999)


def _patterns(ids: np.ndarray):
    """Per-row pattern scalars of :func:`pixels_of`, one ``_u01`` call per
    salt for the whole batch: (h, w, fx, fy, phase, 8x8 noise grids)."""
    h = 8 + (_u01(ids, 10) * 57).astype(np.int64)  # 8..64
    w = 8 + (_u01(ids, 11) * 57).astype(np.int64)
    fx = 1.0 + _u01(ids, 12) * 7.0
    fy = 1.0 + _u01(ids, 13) * 7.0
    ph = _u01(ids, 14) * 2 * np.pi
    # per-image 8x8 structured noise (seeded, deterministic) upsampled to
    # full size: gives each image a distinct block signature so perceptual
    # hashes separate, with amplitude >> lossy quantization noise
    cell_ids = ids[:, None] * np.int64(64) + np.arange(64, dtype=np.int64)
    noise8 = (_u01(cell_ids.ravel(), 15).reshape(len(ids), 8, 8) - 0.5) * 160.0
    return h, w, fx, fy, ph, noise8


def _render(h: int, w: int, fx, fy, ph, noise8: np.ndarray) -> np.ndarray:
    """(h, w, 3) uint8 gradient + waves + upsampled block noise."""
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    base = (
        127.5
        + 60.0 * np.sin(2 * np.pi * fx * xx / w + ph)
        + 60.0 * np.cos(2 * np.pi * fy * yy / h)
    )
    ri = np.minimum((yy * 8 / h).astype(np.int64), 7)
    ci = np.minimum((xx * 8 / w).astype(np.int64), 7)
    noise = noise8[ri, ci]
    arr = np.stack(
        [
            base + noise,
            255.0 * xx / max(w - 1, 1) + noise,
            255.0 * yy / max(h - 1, 1) + noise,
        ],
        axis=2,
    )
    return np.clip(arr, 0, 255).astype(np.uint8)


def pixels_of(i: int) -> np.ndarray:
    """Deterministic (h, w, 3) uint8 pattern for row ``i`` (gradient + waves)."""
    h, w, fx, fy, ph, noise8 = _patterns(np.array([i], dtype=np.int64))
    return _render(int(h[0]), int(w[0]), fx[0], fy[0], ph[0], noise8[0])


def _captions(ids: np.ndarray) -> list[str]:
    words = [
        np.array(vocab)[(_u01(ids, salt) * len(vocab)).astype(np.int64)]
        for salt, vocab in ((20, _ADJECTIVES), (21, _NOUNS), (22, _PLACES))
    ]
    return [f"{a} {n} at {p}" for a, n, p in zip(*words)]


def caption_of(i: int) -> str:
    return _captions(np.array([i], dtype=np.int64))[0]


def generate_batch(ids: np.ndarray, hot_city: int | None = None, hot_frac: float = 0.0,
                   fmts: list[str] | None = None) -> pd.DataFrame:
    """Generate the image table rows for the given int64 row ids: every
    per-row scalar in one vectorized pass, then the per-row render, encode
    and hash over small arrays. Row ``i`` equals ``pixels_of(i)`` and
    ``caption_of(i)``."""
    ids = np.asarray(ids, dtype=np.int64)
    fmts = fmts or FMTS
    lon, lat = lonlat_of(ids, hot_city=hot_city, hot_frac=hot_frac)
    ts = TS_EPOCH + (_u01(ids, 7) * TS_SPAN).astype(np.int64)
    h, w, fx, fy, ph, noise8 = _patterns(ids)
    fmt = [fmts[i % len(fmts)] for i in ids.tolist()]
    bufs, phash = [], []
    for f, *pattern in zip(fmt, h.tolist(), w.tolist(), fx, fy, ph, noise8):
        arr = _render(*pattern)  # one image alive at a time
        bufs.append(img.encode_image(arr, f))
        phash.append(img.phash64(arr))
    pdf = pd.DataFrame({
        "image_id": [f"img{i:010d}" for i in ids.tolist()],
        "bytes": bufs,
        "w": w.astype("int32"),
        "h": h.astype("int32"),
        "fmt": fmt,
        "caption": _captions(ids),
        "phash": np.array(phash, dtype=np.int64),
    })
    pdf["lon"] = lon
    pdf["lat"] = lat
    pdf["ts"] = pd.to_datetime(ts, unit="s")
    return pdf


def images_meta_df(spark, n: int, partitions: int | None = None,
                   hot_city: int | None = None, hot_frac: float = 0.0,
                   hot_sigma: float | None = None):
    """Metadata-only variant of :func:`images_df` — (image_id, lon, lat, ts)
    with NO pixel/byte generation. For join/skew benches where the payload
    never participates: generating pixels to immediately drop them would
    dominate the measurement."""
    rng = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            lon, lat = lonlat_of(ids, hot_city=hot_city, hot_frac=hot_frac,
                                 hot_sigma=hot_sigma)
            ts = TS_EPOCH + (_u01(ids, 7) * TS_SPAN).astype(np.int64)
            yield pd.DataFrame(
                {
                    "image_id": [f"img{int(i):010d}" for i in ids],
                    "lon": lon,
                    "lat": lat,
                    "ts": pd.to_datetime(ts, unit="s"),
                }
            )

    return rng.mapInPandas(
        gen, schema="image_id string, lon double, lat double, ts timestamp"
    )


def images_df(spark, n: int, partitions: int | None = None,
              hot_city: int | None = None, hot_frac: float = 0.0,
              fmts: list[str] | None = None):
    """Distributed deterministic image table: generated ON EXECUTORS via
    mapInPandas over spark.range — scales to any n without driver memory."""
    rng = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)

    def gen(batches):
        for pdf in batches:
            yield generate_batch(pdf["id"].to_numpy(), hot_city=hot_city,
                                 hot_frac=hot_frac, fmts=fmts)

    return rng.mapInPandas(gen, schema=IMAGES_SCHEMA)
