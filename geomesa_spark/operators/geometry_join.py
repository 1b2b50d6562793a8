"""Geometry-to-polygon joins for NON-POINT rows (the XZ-ordering analog).

Reference parity: point rows use Z2 (operators.spatial_join); rows carrying
lines/polygons use XZ-ordering — index the geometry's BOUNDING BOX with a
sequence length chosen from its extent (``geomesa-z3/.../curve/
XZ2SFC.scala:54-77``), query-window decomposition with contained/overlapping
cells (:146-252). The index is only a scan prefilter: the reference tests
each feature against the query geometry in the same pass that reads it.

Polygon-dict joins (:func:`geometry_join`, :func:`geometry_join_time`) do
the same inside the row, with the polygon side a driver dict:

    polygons --driver cover--> {cell @ res_j: poly ids}   (UDF closure)
    rows --spread_small--> one geom_match pandas UDF -> array<poly_id>
        (WKB parsed once: bbox cells -> distinct candidate ids -> exact
         [t0, t1) test -> exact DE-9IM relate)
        --native explode--> rows x poly_id

A row meeting a polygon through several cells gets it once (the candidate
ids are a set), and a row with no match drops out in the explode: no
candidate leaves its row. One fixed join resolution covers every polygon:
its cover's finer cells collapse to res_j ancestors and coarser cells
expand to res_j children, both bounded by the cover budget.

:func:`geometry_join_tables` joins two DataFrames of geometries; there the
shuffle is inherent. Each side's box is its ``{geom}_xmin/_xmax/_ymin/
_ymax`` columns — read as written when the table carries them
(``extensions.with_bbox_columns``, the write-time envelope of
XZ2SFC.scala:54-77), else derived per query by that same function. Both
sides explode their bbox cells natively with the geometry in the row and
meet in one equi-join on the cell that keeps each pair only in its lowest
shared cell, so each pair reaches the refine once (the two-relation join
of RelationUtils.scala:39-53).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..core import cells
from ..core.geometry import Geometry, from_wkb, from_wkt, relate
from ..extensions import _BBOX, with_bbox_columns

DEFAULT_JOIN_RES = 8       # 256x256 world grid (~1.4 deg cells)


# re-spread rationale (shared impl: operators/util.spread_small): small-SF
# parquet arrives as ONE split and AQE coalesces small exchanges to ~1
# partition, either of which serializes a Python stage on one core
# (measured: 13 s and ~14 s single-task at sf0.1). The table join spreads
# only a side that must derive its bbox in Python, gated on that NARROW
# input's probe — probing the shuffle-rooted join would run its stages twice.
from .util import narrow_is_small, spread_small


def _poly_cells_at(prepared_cover_rows, res_j: int) -> dict[int, tuple[str, ...]]:
    """Expand/coarsen a prepared polygon cover onto one fixed resolution:
    cell @ res_j -> the ids of the polygons covering it. The cover's refine
    flags are not kept — XZ is a loose index, so every candidate is
    refined."""
    keys: dict[int, set[str]] = {}
    for r, c, pid, _ in prepared_cover_rows:
        if r == res_j:
            cs = [c]
        elif r < res_j:
            cs = cells.children(c, r, res_j).tolist()
        else:
            cs = cells.parent(np.array([c]), r, res_j).tolist()
        for k in cs:
            keys.setdefault(int(k), set()).add(pid)
    return {k: tuple(sorted(v)) for k, v in keys.items()}


def _geom_match(geoms, ts, cell_polys, polys, predicate, res_j, windows=None):
    """The batch body of the ``geom_match`` UDF -> per row, the sorted
    distinct ids of the polygons it matches: the polygon's cover shares a
    res_j cell (``cell_polys``) with the row's bbox, the row's ``ts`` lies
    in the polygon's half-open [t0, t1) window when ``windows`` is given (a
    polygon with no window never matches), and ``relate(row, polygon,
    predicate)`` holds. A null geometry, or a null ts under ``windows``,
    matches nothing. Each WKB is parsed once; the time test runs before the
    relate, on the distinct candidates only."""
    ts = list(ts)
    live = [
        (i, from_wkb(bytes(w))) for i, w in enumerate(geoms)
        if w is not None and (windows is None or not pd.isna(ts[i]))
    ]
    # every live row's bbox cells at once: row r spans nx[r] x ny[r] cells
    b = np.array([g.bounds() for _, g in live]).reshape(-1, 4)
    x0, y0 = cells.xy_of(b[:, 0], b[:, 1], res_j)
    x1, y1 = cells.xy_of(b[:, 2], b[:, 3], res_j)
    nx = x1 - x0 + 1
    n = nx * (y1 - y0 + 1)
    row = np.repeat(np.arange(len(live)), n)
    k = np.arange(len(row)) - np.repeat(np.cumsum(n) - n, n)
    keys = cells.encode_xy(x0[row] + k % nx[row], y0[row] + k // nx[row])
    cand = [set() for _ in live]
    for r, c in zip(row.tolist(), keys.tolist()):
        cand[r].update(cell_polys.get(c, ()))
    out = [[] for _ in ts]
    for (i, g), pids in zip(live, cand):
        if windows is not None:
            pids = {
                pid for pid in pids
                if pid in windows and windows[pid][0] <= ts[i] < windows[pid][1]
            }
        out[i] = [pid for pid in sorted(pids) if relate(g, polys[pid], predicate)]
    return out


def _geom_join(
    rows, polygons, geom_col, predicate, res_j, max_cells, time_windows=None, ts=None
):
    """The body of both polygon-dict joins: the driver cover becomes the
    cell dict in ``geom_match``'s closure (PySpark broadcasts a large
    closure), and the matched ids explode natively into ``poly_id``. The
    UDF sits in a Generate, not a Filter, so Catalyst cannot push it below
    the re-spread exchange."""
    from .spatial_join import prepare_polygons

    _check_predicate(predicate)
    polys = {
        pid: (from_wkt(g) if isinstance(g, str) else g) for pid, g in polygons.items()
    }
    cell_polys = _poly_cells_at(prepare_polygons(polys, max_cells=max_cells).cover_rows, res_j)

    @F.pandas_udf("array<string>")
    def geom_match(geom: pd.Series, t: pd.Series) -> pd.Series:
        return pd.Series(
            _geom_match(geom, t, cell_polys, polys, predicate, res_j, time_windows)
        )

    t = F.col(ts) if time_windows is not None else F.lit(None).cast("double")
    return spread_small(rows).withColumn(
        "poly_id", F.explode(geom_match(F.col(geom_col), t))
    )


def geometry_join(
    rows: DataFrame,
    polygons: dict[str, Geometry | str],
    geom_col: str = "geom",
    predicate: str = "intersects",
    res_j: int = DEFAULT_JOIN_RES,
    max_cells: int = 2048,
) -> DataFrame:
    """Join rows carrying arbitrary WKB geometries to polygons by DE-9IM
    ``predicate`` (row_geom <predicate> polygon): the input columns plus
    ``poly_id``, one row per matched polygon. XZ is a LOOSE index (a bbox
    cell inside the polygon does not imply the geometry touches that cell),
    so the exact predicate always runs, as the reference always applies the
    full filter on XZ scans."""
    return _geom_join(rows, polygons, geom_col, predicate, res_j, max_cells)


def geometry_join_time(
    rows: DataFrame,
    polygons: dict[str, Geometry | str],
    time_windows: dict[str, tuple[float, float]],
    geom_col: str = "geom",
    ts: str = "ts_s",
    predicate: str = "intersects",
    res_j: int = DEFAULT_JOIN_RES,
    max_cells: int = 2048,
) -> DataFrame:
    """Time-extended geometry join — the XZ3 analog (``XZ3SFC.scala``): a
    row joins a polygon iff it satisfies ``predicate`` against it AND its
    ``ts`` (epoch seconds) lies in the polygon's half-open ``time_windows``
    [t0, t1). The time test runs on the row's candidate ids before any
    relate, so out-of-window pairs cost no geometry test; polygons without a
    window match nothing. Returns the input columns plus ``poly_id``."""
    return _geom_join(
        rows, polygons, geom_col, predicate, res_j, max_cells,
        time_windows=time_windows, ts=ts,
    )


def _bbox_cell_keys(rows, geom_col, res_j):
    """``rows`` exploded to one row per res_j grid cell ``(__x, __y)`` of
    the geometry's bounding box, read from its ``{geom_col}_xmin/_xmax/
    _ymin/_ymax`` columns (:func:`extensions.with_bbox_columns`) by native
    sequence/explode, plus the box's first cell ``(__x0, __y0)``; the bbox
    columns are dropped.

    A null bbox emits no row: ``greatest()`` skips nulls, so a null bound
    would clamp into cell 0, but a null sequence START explodes to nothing.
    Not a ``.filter``: Catalyst pushes that below the caller's re-spread
    exchange, and a bbox UDF under it then runs twice. For the same reason
    each explode takes its sequence expression inline: over a plain
    column, Catalyst infers a ``size(col) > 0`` filter and pushes it, UDF
    and all, below the generator."""
    xmin, xmax, ymin, ymax = bbox = [f"{geom_col}_{p}" for p in _BBOX]
    x0, y0 = cells.xy_sql_expr(xmin, ymin, res_j)
    x1, y1 = cells.xy_sql_expr(xmax, ymax, res_j)
    valid = " AND ".join(f"{c} IS NOT NULL" for c in bbox)
    xs = F.expr(f"sequence(CASE WHEN {valid} THEN {x0} END, {x1})")
    return (
        rows.select("*", F.explode(xs).alias("__x"))
        .select("*", F.explode(F.expr(f"sequence({y0}, {y1})")).alias("__y"))
        .withColumns({"__x0": F.expr(x0), "__y0": F.expr(y0)})
        .drop(*bbox)
    )


def _relate_mask(geoms, others, predicate: str) -> np.ndarray:
    """The package's one batch DE-9IM refine: ``relate(from_wkb(g), o,
    predicate)`` per pair of a WKB column and an iterable of parsed
    geometries; a null geometry is False. Behind ``geometry_join_tables``'
    refine and the JVM rule's ``st_intersects_wkb`` (extensions.py)."""
    return np.fromiter(
        (
            g is not None and bool(relate(from_wkb(bytes(g)), o, predicate))
            for g, o in zip(geoms, others)
        ),
        dtype=bool,
        count=len(geoms),
    )


def _check_predicate(predicate: str) -> None:
    """Every geometry join tests only the pairs that share a grid cell, so
    ``disjoint`` would silently return almost nothing: refuse it."""
    if predicate.lower() == "disjoint":
        raise ValueError("predicate 'disjoint' is not supported: the geometry "
                         "joins only test pairs that share a grid cell")


def geometry_join_tables(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_geom: str = "geom",
    right_geom: str = "geom",
    predicate: str = "intersects",
    res_j: int = DEFAULT_JOIN_RES,
) -> DataFrame:
    """-> (left_id, right_id), one row per pair of input rows with
    ``left_geom <predicate> right_geom``: the general grid-partitioned join
    of two DataFrames of WKB geometries (the two-relation XZ join of the
    reference's GeoMesaJoinRelation, RelationUtils.scala:39-53;
    geometry_join's polygon side is a driver dict). The candidate pairs of
    :func:`_cell_pairs` carry both geometries, so the exact DE-9IM refine
    runs on them in place as a mapInPandas barrier. Hot cells are AQE
    skew-join territory; the two id column names must differ.

    A side carrying ``{geom}_xmin/_xmax/_ymin/_ymax`` columns is keyed by
    them under ``extensions.with_bbox_columns``' contract (they must be the
    geometry's bounds); a side without them derives them with that
    function. Such a side should be scan-rooted (or cheap to recompute):
    its small-input probe materializes a shuffle-rooted input's stages once
    extra (see util.narrow_is_small) — persist/write such inputs first, as
    a production pipeline would.
    """
    _check_predicate(predicate)
    pairs = _cell_pairs(left, right, left_id, right_id, left_geom, right_geom, res_j)
    # Fixed-N ROUND-ROBIN repartition before the CPU-bound refine, always:
    # AQE sizes partitions in BYTES and the refine costs per ROW, so it
    # would coalesce the pairs onto a few tasks — measured 44 s of a 58 s
    # join at 900k pairs on 7 tasks vs ~2 s spread (SCALE.md "Python stages
    # vs AQE partition coalescing"). AQE never re-coalesces a user-numbered
    # repartition; N = max(parallelism, shuffle.partitions).
    spark = pairs.sparkSession
    n_spread = max(spark.sparkContext.defaultParallelism,
                   int(spark.conf.get("spark.sql.shuffle.partitions", "200")))
    ids = [left_id, right_id]

    def refine(batches):
        for pdf in batches:
            rights = (from_wkb(bytes(w)) for w in pdf["__rg"])
            yield pdf.loc[_relate_mask(pdf["__lg"], rights, predicate), ids]

    return pairs.repartition(n_spread).mapInPandas(refine, pairs.select(ids).schema)


def _cell_pairs(left, right, left_id, right_id, left_geom, right_geom, res_j):
    """-> (left_id, __lg, right_id, __rg): each pair of rows whose bboxes
    share a res_j grid cell, ONCE, with both WKB geometries.

    Each side carries (id, geom, bbox columns) through the bbox-cell
    explode of :func:`_bbox_cell_keys`: as it is when its schema has the
    columns (no probe, no exchange, no Python node), else re-spread when
    small and boxed by ``with_bbox_columns``. The sides meet in ONE
    equi-join on the cell (x, y) — both shuffle on it, co-locating spatial
    neighborhoods — and keep a pair only in its LOWEST shared cell,
    ``x = greatest(l.x0, r.x0) AND y = greatest(l.y0, r.y0)``: the cell
    function is monotone, so two bboxes share a rectangle of cells with
    one lowest corner."""
    if left_id == right_id:
        raise ValueError(f"left_id and right_id must differ (both {left_id!r}); "
                         "alias one side before joining")

    def keys(df, id_col, geom_col, side):
        bbox = [f"{geom_col}_{p}" for p in _BBOX]
        if set(bbox) <= set(df.columns):
            boxed = df.select(id_col, geom_col, *bbox)
        else:
            narrow = df.select(id_col, geom_col)
            boxed = with_bbox_columns(
                spread_small(narrow, known_small=narrow_is_small(df)), geom_col
            )
        keyed = _bbox_cell_keys(boxed, geom_col, res_j)
        names = {geom_col: "g", "__x": "x", "__y": "y", "__x0": "x0", "__y0": "y0"}
        return keyed.withColumnsRenamed({c: f"__{side}{n}" for c, n in names.items()})

    return (
        keys(left, left_id, left_geom, "l")
        .join(keys(right, right_id, right_geom, "r"), F.expr(
            "__lx = __rx AND __ly = __ry"
            " AND __lx = greatest(__lx0, __rx0) AND __ly = greatest(__ly0, __ry0)"
        ))
        .select(left_id, "__lg", right_id, "__rg")
    )


def geometry_join_tables_candidates(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_geom: str = "geom",
    right_geom: str = "geom",
    res_j: int = DEFAULT_JOIN_RES,
) -> DataFrame:
    """-> (left_id, right_id) candidate pairs: the grid-partitioned JOIN
    stage of :func:`geometry_join_tables` (its :func:`_cell_pairs` without
    the geometries), one row per pair of input ROWS whose bboxes share a
    res_j cell, so a pair of ids is unique only when ids are unique per
    side. Exposed because hot cells concentrate here (the bench's
    run_geom_skew arms time it under AQE skew-split on/off), and for
    callers with their own refinement. Loose by design: the exact DE-9IM
    predicate has NOT run."""
    pairs = _cell_pairs(left, right, left_id, right_id, left_geom, right_geom, res_j)
    return pairs.select(left_id, right_id)
