"""Track/trajectory operators (window-function re-expressions).

- ``point2point``: per track id, order by time, connect consecutive points
  into segments (analog of ``geomesa-process/.../analytic/
  Point2PointProcess.scala`` — theirs groups+sorts client-side; ours is a
  lag() window, shuffling once on track id).
- ``track_label``: last point per track (``TrackLabelProcess.scala``) via
  max_by-style row_number.
- ``tube_select``: spatio-temporal corridor join (``tube/TubeBuilder.scala``,
  ``TubeSelectProcess.scala:115-150``): buffer a track into per-time-bin
  tubes, then cell-cover join candidates within the tube segments.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ..core.geometry import M_PER_DEG, buffer_point_deg


def point2point(
    df: DataFrame,
    track: str = "user_id",
    ts: str = "ts",
    lon: str = "lon",
    lat: str = "lat",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """-> one row per consecutive segment: (track, t0, t1, lon0, lat0, lon1,
    lat1, seg_len_deg). Deterministic ordering via (ts, tiebreak)."""
    order_cols = [F.col(ts).asc()] + (
        [F.col(order_tiebreak).asc()] if order_tiebreak else []
    )
    w = Window.partitionBy(track).orderBy(*order_cols)
    return (
        df.select(
            F.col(track).alias("track"),
            F.col(ts).alias("t1"),
            F.col(lon).alias("lon1"),
            F.col(lat).alias("lat1"),
            F.lag(ts).over(w).alias("t0"),
            F.lag(lon).over(w).alias("lon0"),
            F.lag(lat).over(w).alias("lat0"),
        )
        .filter(F.col("t0").isNotNull())
        .withColumn(
            "seg_len_deg",
            F.sqrt(
                F.pow(F.col("lon1") - F.col("lon0"), 2)
                + F.pow(F.col("lat1") - F.col("lat0"), 2)
            ),
        )
    )


def track_label(
    df: DataFrame,
    track: str = "user_id",
    ts: str = "ts",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Last row per track (TrackLabelProcess analog)."""
    order_cols = [F.col(ts).desc()] + (
        [F.col(order_tiebreak).desc()] if order_tiebreak else []
    )
    w = Window.partitionBy(track).orderBy(*order_cols)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def track_segments(track_pdf: pd.DataFrame, lon: str, lat: str,
                   ts: str | None = None) -> pd.DataFrame:
    """Driver-side polyline -> one row per segment with precomputed constants:
    (seg_id, lon0, lat0, lon1, lat1[, t0, t1], mlon, mlat, coslat, seg_m,
    bearing). Shared by tube_select / route_search and their SQL oracles."""
    lons = track_pdf[lon].to_numpy(dtype=np.float64)
    lats = track_pdf[lat].to_numpy(dtype=np.float64)
    if len(lons) < 2:
        raise ValueError("track/route needs >= 2 vertices")
    if ts is not None:
        tvals = track_pdf[ts].to_numpy(dtype=np.float64)
        if not (np.diff(tvals) > 0).all():
            raise ValueError("track timestamps must be strictly increasing")
    rows = []
    for i in range(len(lons) - 1):
        mlon = (lons[i] + lons[i + 1]) / 2.0
        mlat = (lats[i] + lats[i + 1]) / 2.0
        coslat = float(np.cos(np.radians(mlat)))
        seg_m = M_PER_DEG * float(
            np.hypot((lons[i + 1] - lons[i]) * coslat, lats[i + 1] - lats[i])
        )
        # initial spherical bearing (degrees clockwise from north)
        y = np.sin(np.radians(lons[i + 1] - lons[i])) * np.cos(np.radians(lats[i + 1]))
        x = np.cos(np.radians(lats[i])) * np.sin(np.radians(lats[i + 1])) - np.sin(
            np.radians(lats[i])
        ) * np.cos(np.radians(lats[i + 1])) * np.cos(np.radians(lons[i + 1] - lons[i]))
        r = {
            "seg_id": i,
            "lon0": float(lons[i]), "lat0": float(lats[i]),
            "lon1": float(lons[i + 1]), "lat1": float(lats[i + 1]),
            "mlon": float(mlon), "mlat": float(mlat),
            "coslat": coslat, "seg_m": seg_m,
            "bearing": float(np.degrees(np.arctan2(y, x))) % 360.0,
        }
        if ts is not None:
            r["t0"] = float(tvals[i])
            r["t1"] = float(tvals[i + 1])
        rows.append(r)
    return pd.DataFrame(rows)


def tube_interp_dist_sql(ts: str, lon: str, lat: str) -> str:
    """Native SQL: haversine meters from a row to the track position linearly
    interpolated at the row's time, given segment columns t0/t1/lon0/lat0/
    lon1/lat1 (portable — identical string runs in Spark SQL and DuckDB)."""
    frac = f"(({ts}) - t0) / (t1 - t0)"
    ilon = f"(lon0 + (lon1 - lon0) * {frac})"
    ilat = f"(lat0 + (lat1 - lat0) * {frac})"
    from .proximity import haversine_sql

    return haversine_sql(ilon, ilat, lon, lat)


def tube_select(
    points: DataFrame,
    track_pdf: pd.DataFrame,
    buffer_m: float,
    lon: str = "lon",
    lat: str = "lat",
    ts: str = "ts",
) -> DataFrame:
    """Spatio-temporal corridor join: rows of ``points`` within ``buffer_m``
    meters of the track's LINEARLY INTERPOLATED position at the row's time.

    Mirrors ``tube/TubeBuilder.scala:50-270`` (gap-filled interpolated tube)
    exactly rather than approximately: the per-segment disc (midpoint, radius
    1.05*buffer + seg_len/2) is only the cell-cover index prefilter; the
    answer comes from an EXACT native refine — time inside the segment window
    and haversine(row, interp(row.ts)) <= buffer_m, all under whole-stage
    codegen (no Python in the row path).

    ``track_pdf``: driver-side (lon, lat, ts-epoch-seconds) vertices, strictly
    increasing ts. Output: input columns + (seg_id, tube_dist_m). Segment time
    windows are half-open [t0, t1) (last segment closed), so each row matches
    at most one segment.
    """
    from .spatial_join import spatial_join

    segs = track_segments(track_pdf.sort_values(ts), lon, lat, ts)
    polys = {
        f"seg_{int(r.seg_id)}": buffer_point_deg(
            r.mlon, r.mlat, 1.05 * buffer_m + 1.1 * (r.seg_m / 2.0) + 1.0
        )
        for r in segs.itertuples(index=False)
    }
    joined = spatial_join(points, polys, lon=lon, lat=lat)

    spark = points.sparkSession
    last = len(segs) - 1
    seg_df = spark.createDataFrame(
        segs.assign(poly_id=[f"seg_{int(s)}" for s in segs["seg_id"]])
    ).select("poly_id", "seg_id", "t0", "t1", "lon0", "lat0", "lon1", "lat1")
    out = joined.join(F.broadcast(seg_df), "poly_id")
    in_window = (F.col(ts) >= F.col("t0")) & (
        (F.col(ts) < F.col("t1"))
        | ((F.col("seg_id") == last) & (F.col(ts) <= F.col("t1")))
    )
    dist = F.expr(tube_interp_dist_sql(ts, lon, lat))
    return (
        out.filter(in_window)
        .withColumn("tube_dist_m", dist)
        .filter(F.col("tube_dist_m") <= buffer_m)
        .drop("poly_id", "t0", "t1", "lon0", "lat0", "lon1", "lat1")
    )


def seg_dist_sql(lon: str, lat: str) -> str:
    """Native SQL: meters from a row to a route segment (point-to-segment
    distance in a per-segment equirectangular frame — x scaled by the
    segment's cos(mid-latitude), exact clamped projection). Expects segment
    columns lon0/lat0/lon1/lat1/coslat; portable Spark SQL + DuckDB."""
    px = f"((({lon}) - lon0) * coslat)"
    py = f"(({lat}) - lat0)"
    bx = "((lon1 - lon0) * coslat)"
    by = "(lat1 - lat0)"
    b2 = f"({bx} * {bx} + {by} * {by})"
    tt = f"least(greatest(({px} * {bx} + {py} * {by}) / {b2}, 0.0), 1.0)"
    dx = f"({px} - {tt} * {bx})"
    dy = f"({py} - {tt} * {by})"
    return f"sqrt({dx} * {dx} + {dy} * {dy}) * {M_PER_DEG}"


def heading_diff_sql(heading: str, bearing: str = "bearing") -> str:
    """Circular |heading - bearing| in [0, 180], portable SQL.

    ``pmod`` only exists in Spark, so the wrap is spelled with a plain ``%``
    made non-negative by adding 360 first (headings/bearings are in
    [0, 360), so the operand is > -360)."""
    return f"abs((({heading}) - ({bearing}) + 540.0) % 360.0 - 180.0)"


def route_search(
    points: DataFrame,
    route_pdf: pd.DataFrame,
    buffer_m: float,
    heading: str = "heading",
    heading_tol_deg: float = 45.0,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Features within ``buffer_m`` meters of a route whose heading matches
    the local route bearing.

    RouteSearchProcess analog (geomesa-process/.../query/RouteSearchProcess.scala:
    buffer the route line, find features within it, heading filter). The
    per-segment disc is only the index prefilter; the answer comes from an
    EXACT native point-to-segment distance refine (clamped projection in a
    per-segment equirectangular frame) plus the circular heading predicate —
    all whole-stage codegen, no Python in the row path.

    ``route_pdf``: ordered (lon, lat) vertices (driver-side polyline).
    Output: input columns + (route_segment, route_dist_m); a row near a vertex
    may match both adjacent segments (the corridor is the union of segment
    corridors, as in the reference's buffered line).
    """
    from .spatial_join import spatial_join

    segs = track_segments(route_pdf, lon, lat, ts=None)
    polys = {
        f"seg_{int(r.seg_id)}": buffer_point_deg(
            r.mlon, r.mlat, 1.05 * buffer_m + 1.1 * (r.seg_m / 2.0) + 1.0
        )
        for r in segs.itertuples(index=False)
    }
    joined = spatial_join(points, polys, lon=lon, lat=lat)

    spark = points.sparkSession
    seg_df = spark.createDataFrame(
        segs.assign(poly_id=[f"seg_{int(s)}" for s in segs["seg_id"]])
    ).select("poly_id", "seg_id", "lon0", "lat0", "lon1", "lat1", "coslat", "bearing")
    out = joined.join(F.broadcast(seg_df), "poly_id")
    dist = F.expr(seg_dist_sql(lon, lat))
    hdiff = F.expr(heading_diff_sql(heading))
    return (
        out.withColumn("route_dist_m", dist)
        .filter((F.col("route_dist_m") <= buffer_m) & (hdiff <= heading_tol_deg))
        .withColumn("route_segment", F.col("poly_id"))
        .drop("poly_id", "lon0", "lat0", "lon1", "lat1", "coslat", "bearing")
    )
