"""Z2-style space-filling-curve cell codec (numpy-vectorized, no Spark).

Re-creates the *what* of the reference's curve modules from scratch:

- point -> sortable scalar cell key at a resolution (analog of
  ``geomesa-z3/.../curve/Z2SFC.scala:27-35`` ``index``; normalization analog of
  ``NormalizedDimension.scala:56-72`` ``floor((x-min)*bins/(max-max))``).
- query geometry -> cell cover with a budget and contained/overlapping
  distinction via recursive quad decomposition (analog of
  ``XZ2SFC.scala:146-252`` and the range budget
  ``geomesa-index-api/.../conf/QueryProperties.scala:22`` = 2000 ranges).
- ring expansion around a cell for kNN (analog of the expanding query window in
  ``geomesa-process/.../KNearestNeighborSearchProcess.scala:278-300``).
- time binning (analog of ``BinnedTime.scala:21-65`` day/week/month bins).

Design notes (Spark-first, not a port):

- A cell at resolution ``r`` is a Morton/Z-order interleave of the r-bit
  normalized lon (x) and lat (y): ``z = interleave(x, y)`` with x on even bits.
  Max resolution 30 -> 60-bit keys, always valid int64.
- The exact same bit math is emitted as a *pure Spark SQL / DuckDB SQL
  expression* by :func:`cell_sql_expr` so the hot encode path runs JVM-side
  under whole-stage codegen (see ``geomesa_spark.functions.st_funcs``), and the
  DuckDB correctness oracle computes bit-identical keys.
- Mixed-resolution covers join against a single point encoding at ``r`` via
  ancestor derivation (``z >> 2k``), so a budgeted cover never forces a
  point-side re-encode.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

MAX_RES = 30

LON_MIN, LON_MAX = -180.0, 180.0
LAT_MIN, LAT_MAX = -90.0, 90.0

# Morton spreading masks (classic magic numbers, public domain bit trick).
_MASKS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _spread(v: np.ndarray) -> np.ndarray:
    """Spread the low 30 bits of ``v`` onto even bit positions (uint64)."""
    v = v.astype(np.uint64)
    for shift, mask in _MASKS:
        v = (v | (v << np.uint64(shift))) & np.uint64(mask)
    return v


def _compact(v: np.ndarray) -> np.ndarray:
    """Inverse of :func:`_spread`: gather even bits into the low 30 bits."""
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def xy_of(lon, lat, res: int):
    """Normalized integer grid coords at resolution ``res`` (vectorized).

    Mirrors BitNormalizedDimension: ``floor((v - min) * bins / extent)`` with
    the max value clamped into the last bin (``NormalizedDimension.scala:56-72``).
    """
    n = np.int64(1) << np.int64(res)
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x = np.floor((lon - LON_MIN) / (LON_MAX - LON_MIN) * n).astype(np.int64)
    y = np.floor((lat - LAT_MIN) / (LAT_MAX - LAT_MIN) * n).astype(np.int64)
    np.clip(x, 0, n - 1, out=x)
    np.clip(y, 0, n - 1, out=y)
    return x, y


def encode(lon, lat, res: int) -> np.ndarray:
    """(lon, lat) -> Z2 morton cell id at ``res``. Vectorized, int64."""
    if not (0 <= res <= MAX_RES):
        raise ValueError(f"resolution must be in [0, {MAX_RES}], got {res}")
    x, y = xy_of(lon, lat, res)
    return encode_xy(x, y)


def encode_xy(x, y) -> np.ndarray:
    x = np.asarray(x, dtype=np.int64)
    y = np.asarray(y, dtype=np.int64)
    return (_spread(x) | (_spread(y) << np.uint64(1))).astype(np.int64)


def decode_xy(cell) -> tuple[np.ndarray, np.ndarray]:
    cell = np.asarray(cell, dtype=np.int64)
    x = _compact(cell.astype(np.uint64))
    y = _compact(cell.astype(np.uint64) >> np.uint64(1))
    return x.astype(np.int64), y.astype(np.int64)


def cell_bounds(cell, res: int):
    """(lon_min, lat_min, lon_max, lat_max) arrays for cells at ``res``."""
    x, y = decode_xy(cell)
    n = float(1 << res)
    dlon = (LON_MAX - LON_MIN) / n
    dlat = (LAT_MAX - LAT_MIN) / n
    lon0 = LON_MIN + x * dlon
    lat0 = LAT_MIN + y * dlat
    return lon0, lat0, lon0 + dlon, lat0 + dlat


def parent(cell, res: int, parent_res: int) -> np.ndarray:
    """Ancestor cell at a coarser resolution: drop 2 bits per level."""
    if parent_res > res:
        raise ValueError("parent_res must be <= res")
    shift = np.uint64(2 * (res - parent_res))
    return (np.asarray(cell, dtype=np.int64).astype(np.uint64) >> shift).astype(np.int64)


def children(cell: int, res: int, child_res: int) -> np.ndarray:
    """All descendant cells of one cell at a finer resolution."""
    if child_res < res:
        raise ValueError("child_res must be >= res")
    k = 2 * (child_res - res)
    base = np.int64(cell) << np.int64(k)
    return base + np.arange(1 << k, dtype=np.int64)


def ring(cell: int, res: int, radius: int) -> np.ndarray:
    """Cells at exactly Chebyshev distance ``radius`` (the kNN expansion ring).

    Analog of the hole-punched expanding window in
    ``KNearestNeighborSearchProcess.scala:263-300``: ring(r) covers exactly the
    new area when the search window grows from r-1 to r. Longitude wraps at the
    antimeridian; latitude is clamped at the poles (cf. the reference's special
    pole/IDL envelope handling at :524-544).
    """
    n = 1 << res
    x, y = decode_xy(np.array([cell]))
    x0, y0 = int(x[0]), int(y[0])
    if radius == 0:
        return np.array([cell], dtype=np.int64)
    xs, ys = [], []
    r = radius
    for dx in range(-r, r + 1):
        for dy in (-r, r):
            xs.append(x0 + dx)
            ys.append(y0 + dy)
    for dy in range(-r + 1, r):
        for dx in (-r, r):
            xs.append(x0 + dx)
            ys.append(y0 + dy)
    xs = np.asarray(xs, dtype=np.int64) % n  # lon wrap
    ys = np.asarray(ys, dtype=np.int64)
    ok = (ys >= 0) & (ys < n)  # lat clamp
    return np.unique(encode_xy(xs[ok], ys[ok]))


def disk(cell: int, res: int, radius: int) -> np.ndarray:
    """All cells within Chebyshev distance ``radius`` (grid_disk analog)."""
    out = [ring(cell, res, r) for r in range(radius + 1)]
    return np.unique(np.concatenate(out))


def cell_size_deg(res: int) -> tuple[float, float]:
    n = float(1 << res)
    return (LON_MAX - LON_MIN) / n, (LAT_MAX - LAT_MIN) / n


# ---------------------------------------------------------------------------
# Covers (query geometry -> cell set)
# ---------------------------------------------------------------------------

@dataclass
class Cover:
    """A budgeted cell cover of a geometry.

    ``contained``: cells fully inside the geometry (no refine needed — the
    loose-bbox analog of ``Z2IndexKeySpace.useFullFilter:126-138``).
    ``overlapping``: cells intersecting the boundary (rows need an exact
    point-in-polygon refine).
    Cells may sit at mixed resolutions (``res`` per entry) because the quad
    decomposition stops early under budget pressure, exactly like
    ``XZ2SFC.scala:146-252`` emits coarser ranges when the budget is hit.
    """

    res: int                          # target (finest) resolution
    contained: list[tuple[int, int]] = field(default_factory=list)  # (res, cell)
    overlapping: list[tuple[int, int]] = field(default_factory=list)

    @property
    def cells(self) -> list[tuple[int, int]]:
        return self.contained + self.overlapping

    def resolutions(self) -> list[int]:
        return sorted({r for r, _ in self.cells})


def cover_geometry(geom, res: int, max_cells: int = 2048) -> Cover:
    """Quad-decompose ``geom`` (a ``geomesa_spark.core.geometry`` Geometry)
    into a budgeted cell cover at resolutions <= ``res``.

    Algorithm (from-scratch analog of ``XZ2SFC.ranges``): BFS from resolution 0;
    a cell fully inside the geometry is emitted as *contained*; a cell
    intersecting the boundary is split until ``res`` or until splitting would
    exceed ``max_cells``, at which point it is emitted as *overlapping* at its
    current (coarser) resolution. Budget analog: ``QueryProperties.scala:22``
    (2000 scan ranges target).
    """
    from .geometry import rect_relation  # local import to keep cells.py numpy-only

    lon0, lat0, lon1, lat1 = geom.bounds()
    cov = Cover(res=res)
    # BFS from the coarsest grid: res 0 is the single world cell, res 1 the 2x2.
    if res == 0:
        frontier: list[tuple[int, int]] = [(0, 0)]
    else:
        frontier = [(1, c) for c in range(4)]

    while frontier:
        nxt: list[tuple[int, int]] = []
        for r, c in frontier:
            b = cell_bounds(np.array([c]), r)
            cb = (float(b[0][0]), float(b[1][0]), float(b[2][0]), float(b[3][0]))
            # quick bbox reject
            if cb[2] < lon0 or cb[0] > lon1 or cb[3] < lat0 or cb[1] > lat1:
                continue
            rel = rect_relation(geom, *cb)
            if rel == "disjoint":
                continue
            if rel == "contained":
                cov.contained.append((r, c))
            elif r >= res:
                cov.overlapping.append((r, c))
            else:
                nxt.append((r, c))
        if not nxt:
            break
        # budget check: splitting every frontier cell adds 4x cells
        projected = len(cov.cells) + len(nxt) * 4
        if projected > max_cells:
            # stop splitting; emit the frontier as overlapping at current res
            cov.overlapping.extend(nxt)
            break
        frontier = [(r + 1, (c << 2) + q) for r, c in nxt for q in range(4)]

    return cov


# ---------------------------------------------------------------------------
# Portable SQL expression builders (identical math in Spark SQL and DuckDB)
# ---------------------------------------------------------------------------

def _spread_sql(v: str) -> str:
    """Emit the morton spread as portable SQL using only * (shift), & and |.

    ``x << k`` is written ``x * 2^k`` so the same string parses in Spark SQL
    and DuckDB; inputs are <= 30 bits so no intermediate exceeds int64.
    """
    expr = v
    for shift, mask in _MASKS:
        expr = f"(({expr}) | (({expr}) * {1 << shift})) & {mask}"
    return expr


def xy_sql_expr(lon_col: str, lat_col: str, res: int) -> tuple[str, str]:
    n = 1 << res
    x = (
        f"least(greatest(cast(floor((({lon_col}) - ({LON_MIN})) * {n} / 360.0) as bigint), 0), {n - 1})"
    )
    y = (
        f"least(greatest(cast(floor((({lat_col}) - ({LAT_MIN})) * {n} / 180.0) as bigint), 0), {n - 1})"
    )
    return x, y


def cell_sql_expr(lon_col: str, lat_col: str, res: int) -> str:
    """Z2 morton cell id as a portable SQL scalar expression.

    Runs JVM-side under whole-stage codegen in Spark (no Python), and
    bit-identically in DuckDB for the correctness oracle.
    """
    return encode_xy_sql(*xy_sql_expr(lon_col, lat_col, res))


def encode_xy_sql(x: str, y: str) -> str:
    """SQL twin of :func:`encode_xy`: morton-interleave integer grid coords."""
    return f"(({_spread_sql(x)}) | (({_spread_sql(y)}) * 2))"


def cell_stage_exprs(lon_col: str, lat_col: str, res: int, out: str = "cell"):
    """Staged (column-materialized) form of :func:`cell_sql_expr` for Spark.

    ``cell_sql_expr`` textually duplicates its input at every spread level, so
    the single-expression form is ~2^5 times the base size — legal but slow to
    analyze/codegen. This emits a list of (col_name, sql_expr) stages where
    each stage references the PREVIOUS COLUMN, keeping every expression tiny
    while computing bit-identical results. Apply in order with withColumn and
    drop the intermediates (add_cell_column in operators.spatial_join does).
    """
    x, y = xy_sql_expr(lon_col, lat_col, res)
    stages: list[tuple[str, str]] = [(f"__sx0_{out}", x), (f"__sy0_{out}", y)]
    px, py = f"__sx0_{out}", f"__sy0_{out}"
    for i, (shift, mask) in enumerate(_MASKS, start=1):
        nx, ny = f"__sx{i}_{out}", f"__sy{i}_{out}"
        stages.append((nx, f"(({px}) | (({px}) * {1 << shift})) & {mask}"))
        stages.append((ny, f"(({py}) | (({py}) * {1 << shift})) & {mask}"))
        px, py = nx, ny
    stages.append((out, f"({px}) | (({py}) * 2)"))
    return stages


def parent_sql_expr(cell_col: str, res: int, parent_res: int) -> str:
    """Ancestor derivation as portable SQL: drop 2 bits per level.

    A ``floor(cell / 4^k)`` form goes through DOUBLE division in both Spark
    and DuckDB and silently corrupts cell ids above 2^53 (res >= 27 uses up
    to 60 bits); the ``>>`` operator stays integer in both engines and
    cells are non-negative, so the arithmetic shift IS the floor division.
    """
    k = res - parent_res
    if k < 0:
        raise ValueError("parent_res must be <= res")
    if k == 0:
        return cell_col
    return f"(({cell_col}) >> {2 * k})"


# ---------------------------------------------------------------------------
# Z3: true 3-way (lon, lat, time-offset) interleave (Z3SFC.scala:22-47)
#
# The reference's spatio-temporal key is [epoch-bin(short)][z3(8B)] where z3
# interleaves 21-bit lon/lat/time-offset. The engine's default composite
# (week_bin, z2) prunes equivalently, but the true interleave is provided
# for full parity: sortable single-long keys whose prefix ranges bound all
# three dimensions simultaneously.
# ---------------------------------------------------------------------------

Z3_MAX_BITS = 21  # bits per dimension (Z3SFC.scala:22); 3*21 = 63 bits

# 3-way morton spreading masks (classic public magic numbers)
_MASKS3 = (
    (32, 0x1F00000000FFFF),
    (16, 0x1F0000FF0000FF),
    (8, 0x100F00F00F00F00F),
    (4, 0x10C30C30C30C30C3),
    (2, 0x1249249249249249),
)


def _spread3(v: np.ndarray) -> np.ndarray:
    """Spread the low 21 bits onto every 3rd bit position (uint64)."""
    v = v.astype(np.uint64) & np.uint64(0x1FFFFF)
    for shift, mask in _MASKS3:
        v = (v | (v << np.uint64(shift))) & np.uint64(mask)
    return v


def _compact3(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0x1249249249249249)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x10C30C30C30C30C3)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x100F00F00F00F00F)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x1F0000FF0000FF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x1F00000000FFFF)
    v = (v | (v >> np.uint64(32))) & np.uint64(0x1FFFFF)
    return v


def z3_encode(lon, lat, ts_s, nbits: int = Z3_MAX_BITS, period: str = "week"):
    """-> (epoch_bin, z3) int64 arrays: the reference's Z3 key, vectorized.

    ``ts_s``: epoch seconds. The time dimension is the offset WITHIN the
    period bin normalized to ``nbits`` (BinnedTime.scala:148-155 max-offset
    analog); lon/lat normalize as in :func:`xy_of`.
    """
    if not 1 <= nbits <= Z3_MAX_BITS:
        raise ValueError(f"nbits must be 1..{Z3_MAX_BITS}")
    secs = _PERIOD_SECONDS[period]
    ts_s = np.asarray(ts_s, dtype=np.int64)
    ebin = ts_s // secs
    off = (ts_s % secs).astype(np.float64)
    n = np.int64(1) << np.int64(nbits)
    x, y = xy_of(lon, lat, nbits)
    t = np.clip(np.floor(off * n / secs).astype(np.int64), 0, n - 1)
    z3 = (
        _spread3(x) | (_spread3(y) << np.uint64(1)) | (_spread3(t) << np.uint64(2))
    ).astype(np.int64)
    return ebin.astype(np.int64), z3


def z3_decode(z3, nbits: int = Z3_MAX_BITS):
    """-> (x, y, t) integer grid coordinates."""
    z = np.asarray(z3, dtype=np.int64).astype(np.uint64)
    return (
        _compact3(z).astype(np.int64),
        _compact3(z >> np.uint64(1)).astype(np.int64),
        _compact3(z >> np.uint64(2)).astype(np.int64),
    )


def _spread3_sql(v: str) -> str:
    """Portable 3-way spread (Spark SQL + DuckDB): shifts as * powers of 2.

    Unlike the 2-way spread, ``(e | e<<s) & m`` intermediates exceed 63 bits
    here (ANSI Spark throws on int64 overflow), so each stage uses the
    equivalent mask-before-shift form ``(e & m) | ((e & (m >> s)) * 2^s)``
    whose terms never leave int64 range.
    """
    expr = f"(({v}) & 2097151)"
    for shift, mask in _MASKS3:
        expr = (
            f"((({expr}) & {mask}) | ((({expr}) & {mask >> shift}) * {1 << shift}))"
        )
    return expr


def z3_sql_expr(lon_col: str, lat_col: str, ts_s_col: str, nbits: int,
                period: str = "week") -> tuple[str, str]:
    """(epoch_bin_sql, z3_sql) — identical math to :func:`z3_encode`,
    evaluated natively by Spark codegen and bit-identically by DuckDB."""
    secs = _PERIOD_SECONDS[period]
    n = 1 << nbits
    x, y = xy_sql_expr(lon_col, lat_col, nbits)
    t = (
        f"least(greatest(cast(floor(cast(({ts_s_col}) % {secs} as double) * {n} / {secs}.0) "
        f"as bigint), 0), {n - 1})"
    )
    ebin = f"cast(floor(({ts_s_col}) / {secs}) as bigint)"
    z3 = (
        f"(({_spread3_sql(x)}) | (({_spread3_sql(y)}) * 2) | (({_spread3_sql(t)}) * 4))"
    )
    return ebin, z3


def z3_stage_exprs(lon_col: str, lat_col: str, ts_s_col: str, nbits: int,
                   period: str = "week", out: str = "z3"):
    """Staged-column form of :func:`z3_sql_expr` for Spark (small plan)."""
    secs = _PERIOD_SECONDS[period]
    n = 1 << nbits
    x, y = xy_sql_expr(lon_col, lat_col, nbits)
    t = (
        f"least(greatest(cast(floor(cast(({ts_s_col}) % {secs} as double) * {n} / {secs}.0) "
        f"as bigint), 0), {n - 1})"
    )
    stages = [(f"__zx0_{out}", f"({x}) & 2097151"),
              (f"__zy0_{out}", f"({y}) & 2097151"),
              (f"__zt0_{out}", f"({t}) & 2097151")]
    prev = [s[0] for s in stages]
    for i, (shift, mask) in enumerate(_MASKS3, start=1):
        nxt = [f"__zx{i}_{out}", f"__zy{i}_{out}", f"__zt{i}_{out}"]
        for p, q in zip(prev, nxt):
            # mask-before-shift keeps every term inside int64 (ANSI-safe)
            stages.append(
                (q, f"(({p}) & {mask}) | ((({p}) & {mask >> shift}) * {1 << shift})")
            )
        prev = nxt
    stages.append((out, f"({prev[0]}) | (({prev[1]}) * 2) | (({prev[2]}) * 4)"))
    return stages


# ---------------------------------------------------------------------------
# Time binning (BinnedTime analog)
# ---------------------------------------------------------------------------

_PERIOD_SECONDS = {"day": 86400, "week": 7 * 86400}


def time_bin_sql_expr(ts_col: str, period: str = "week") -> str:
    """Epoch bin of a timestamp column, portable across Spark SQL and DuckDB.

    Analog of ``BinnedTime.scala:21-65`` (short epoch bin prepended to Z3 keys).
    Spark's ``unix_timestamp`` vs DuckDB's ``epoch`` differ, so we use
    ``epoch``-style extraction that exists in both: Spark 3.1+ and DuckDB both
    accept ``cast(floor(<epoch seconds> / N) as bigint)`` with
    ``unix_timestamp`` spelled portably via ``epoch``... Spark lacks
    ``epoch()``; callers on the Spark side should use
    ``F.unix_timestamp(col)`` and oracle SQL uses ``epoch(ts)`` — this helper
    returns the *division* template given an epoch-seconds expression.
    """
    secs = _PERIOD_SECONDS[period]
    return f"cast(floor(({ts_col}) / {secs}) as bigint)"
