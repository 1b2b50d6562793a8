"""Proximity (DWITHIN θ-join) and attribute lookup joins.

Reference parity:
- ProximitySearchProcess (geomesa-process/.../query/ProximitySearchProcess.scala:58-94):
  buffer each input geometry by meters, OR the DWITHIN filters, query the
  store. Here: buffer each site point once on the driver (st_bufferPoint
  math, ``GeometricProcessingFunctions.scala:59-62``), cell-cover join, then
  an EXACT haversine refine evaluated natively under whole-stage codegen —
  the buffered polygon is only the index prefilter, never the answer.
- JoinProcess (geomesa-process/.../query/JoinProcess.scala:30-180): collect
  up to 128 join keys from the primary result, OR-filter the secondary, merge
  attributes (limit at :95-97). Here: distinct keys -> `isin` pushdown +
  broadcast hash join under the same cardinality guard; above the guard it
  degrades to a plain shuffle join (which the reference simply refuses).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..core.geometry import EARTH_RADIUS_M, buffer_point_deg
from .spatial_join import spatial_join


def haversine_sql(lon_a: str, lat_a: str, lon_b: str, lat_b: str) -> str:
    """Great-circle meters as a native SQL expression (JVM codegen; no UDF)."""
    return (
        f"2 * {EARTH_RADIUS_M} * asin(sqrt("
        f"pow(sin(radians(({lat_b}) - ({lat_a})) / 2), 2) + "
        f"cos(radians({lat_a})) * cos(radians({lat_b})) * "
        f"pow(sin(radians(({lon_b}) - ({lon_a})) / 2), 2)))"
    )


def proximity_join(
    points: DataFrame,
    sites: dict[str, tuple[float, float]] | pd.DataFrame,
    radius_m: float,
    lon: str = "lon",
    lat: str = "lat",
    buffer_slack: float = 1.05,
) -> DataFrame:
    """Rows of ``points`` within ``radius_m`` meters of any site.

    -> input columns + (site_id, dist_m). A row appears once per matching
    site. Sites are a small driver-side set (id -> (lon, lat)) — the same
    shape as the reference's input feature collection.
    """
    if isinstance(sites, pd.DataFrame):
        sites = {
            str(r[0]): (float(r[1]), float(r[2]))
            for r in sites[["site_id", "lon", "lat"]].itertuples(index=False)
        }
    polys = {
        sid: buffer_point_deg(slon, slat, radius_m * buffer_slack)
        for sid, (slon, slat) in sites.items()
    }
    joined = spatial_join(points, polys, lon=lon, lat=lat).withColumnRenamed(
        "poly_id", "site_id"
    )
    # exact refine: native haversine against the site's true center
    lon_map = F.create_map(
        *[x for sid, (slon, _) in sites.items() for x in (F.lit(sid), F.lit(slon))]
    )
    lat_map = F.create_map(
        *[x for sid, (_, slat) in sites.items() for x in (F.lit(sid), F.lit(slat))]
    )
    joined = (
        joined.withColumn("__slon", lon_map[F.col("site_id")])
        .withColumn("__slat", lat_map[F.col("site_id")])
        .withColumn("dist_m", F.expr(haversine_sql("__slon", "__slat", lon, lat)))
        .filter(F.col("dist_m") <= radius_m)
        .drop("__slon", "__slat")
    )
    return joined


LOOKUP_KEY_LIMIT = 128  # JoinProcess.scala:95-97


def lookup_join(
    primary: DataFrame,
    secondary: DataFrame,
    key: str,
    secondary_key: str | None = None,
    how: str = "inner",
    key_limit: int = LOOKUP_KEY_LIMIT,
) -> DataFrame:
    """Attribute equi-join with the reference's small-key-set optimization.

    When the primary side has <= ``key_limit`` distinct keys, the key set is
    collected and pushed into the secondary scan as an `isin` filter (file/
    row-group pruning + dictionary filtering happen for free), then a
    broadcast hash join merges attributes — no shuffle of either side.
    Above the limit it falls back to a plain join (AQE picks the strategy).
    """
    skey = secondary_key or key
    keys = [
        r[0] for r in primary.select(key).distinct().limit(key_limit + 1).collect()
    ]
    if len(keys) <= key_limit:
        filtered = secondary.filter(F.col(skey).isin(keys))
        cond = primary[key] == filtered[skey]
        return primary.join(F.broadcast(filtered), cond, how)
    return primary.join(secondary, primary[key] == secondary[skey], how)
