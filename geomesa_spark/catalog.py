"""Query catalog: every implemented operator exposed as a (spark_fn, oracle)
pair for the driver contract (__spark_entry__.py) and the bench.

Each spark_fn takes (spark, sf_dir) and returns a DataFrame built through the
engine's operators; each oracle is ANSI SQL DuckDB runs on the same parquet
views. Column names/types are aligned on both sides; float aggregates are
rounded so parallel summation order can't flip the value hash.

Geo queries derive deterministic lon/lat from event_id with pure int64
arithmetic evaluated identically by Spark and DuckDB; geometry literals use
5-decimal coordinates ending in 5 so no 4-decimal data point can sit within
epsilon of a boundary.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .core import cells
from .functions.text import lang_id_expr, quality_exprs
from .operators.density import grid_snap_exprs
from .operators.knn import knn_join
from .operators.sampling import sample_nth
from .operators.spatial_join import spatial_join
from .operators.stats import histogram, top_k
from .operators.tracks import point2point

# --- deterministic point derivation (identical int64 math in both engines) ---
# the int64 residue is cast to DOUBLE before dividing: without the cast Spark
# parses 10000.0 as a DECIMAL literal and computes exact decimal division
# while DuckDB divides doubles — a last-ulp disagreement that flips value
# hashes whenever raw coordinates are output (hull vertices). With the cast
# both engines (and numpy in _lonlat_np) perform the same two IEEE roundings.
LON_SQL = "(cast((event_id * 2654435761) % 3600000 as double) / 10000.0 - 180.0)"
LAT_SQL = "(cast((event_id * 40503) % 1800000 as double) / 10000.0 - 90.0)"


def _lonlat_np(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    ids = ids.astype(np.int64)
    lon = (ids * 2654435761) % 3600000 / 10000.0 - 180.0
    lat = (ids * 40503) % 1800000 / 10000.0 - 90.0
    return lon, lat


def _load(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return [spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names]


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = _load(spark, sf_dir, "events")
    # cast the decimal division result to double: decimal arithmetic through
    # the morton bit expressions is ~10x slower (measured 6.8s -> 0.75s on
    # geo_pip_join at sf0.1); the 5e-5 boundary margins dwarf double error
    return events.withColumn("lon", F.expr(LON_SQL).cast("double")).withColumn(
        "lat", F.expr(LAT_SQL).cast("double")
    )


# --- geometry literals (edges end in ...00005: off the 1e-4 data grid) -------

BOXES = {
    "b_na": (-130.00005, 10.00005, -60.00005, 55.00005),
    "b_eu": (-10.00005, 35.00005, 40.00005, 70.00005),
    "b_apac": (100.00005, -45.00005, 175.00005, 20.00005),
    "b_small": (1.00005, 1.00005, 3.00005, 3.00005),
    "b_wide": (-179.99995, -5.00005, 179.99995, 5.00005),
    "b_overlap_eu": (20.00005, 30.00005, 60.00005, 60.00005),
}

PENTAGON = [  # convex, ccw
    (-10.00005, -5.00005),
    (20.00005, -10.00005),
    (35.00005, 15.00005),
    (5.00005, 30.00005),
    (-20.00005, 10.00005),
]


def _box_wkt(b):
    x0, y0, x1, y1 = b
    return f"POLYGON(({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))"


def _pentagon_wkt():
    pts = ", ".join(f"{x} {y}" for x, y in PENTAGON + [PENTAGON[0]])
    return f"POLYGON(({pts}))"


# =============================================================================
# Geo queries
# =============================================================================

def q_geo_pip_join(spark, sf_dir):
    pts = _points(spark, sf_dir)
    polys = {pid: _box_wkt(b) for pid, b in BOXES.items()}
    joined = spatial_join(pts, polys)
    return (
        joined.groupBy("poly_id")
        .agg(
            F.count("*").alias("n_points"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def _oracle_geo_pip_join():
    vals = ", ".join(
        f"('{pid}', {x0}, {y0}, {x1}, {y1})" for pid, (x0, y0, x1, y1) in BOXES.items()
    )
    return f"""
WITH pts AS (SELECT event_id, user_id, value, {LON_SQL} AS lon, {LAT_SQL} AS lat FROM events),
boxes(poly_id, x0, y0, x1, y1) AS (VALUES {vals})
SELECT poly_id, CAST(count(*) AS BIGINT) AS n_points,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       round(sum(value), 4) AS sum_value
FROM pts JOIN boxes ON lon BETWEEN x0 AND x1 AND lat BETWEEN y0 AND y1
GROUP BY poly_id
"""


def q_geo_pip_convex(spark, sf_dir):
    """General (non-rect) convex polygon: exercises the quadtree cover +
    vectorized PIP refine path; oracle uses half-plane tests."""
    pts = _points(spark, sf_dir)
    joined = spatial_join(pts, {"pent": _pentagon_wkt()})
    return joined.groupBy("poly_id").agg(
        F.count("*").alias("n_points"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def _oracle_geo_pip_convex():
    conds = []
    n = len(PENTAGON)
    for i in range(n):
        x0, y0 = PENTAGON[i]
        x1, y1 = PENTAGON[(i + 1) % n]
        conds.append(f"(({x1} - {x0}) * (lat - {y0}) - ({y1} - {y0}) * (lon - {x0})) >= 0")
    return f"""
WITH pts AS (SELECT event_id, value, {LON_SQL} AS lon, {LAT_SQL} AS lat FROM events)
SELECT 'pent' AS poly_id, CAST(count(*) AS BIGINT) AS n_points,
       round(sum(value), 4) AS sum_value
FROM pts WHERE {' AND '.join(conds)}
"""


def q_geo_pip_s2(spark, sf_dir):
    """S2-scheme spatial join end-to-end (VERDICT r4 next-round #5): the
    spherical S2 curve (core/s2.py, reference S2SFC / coverer defaults
    QueryProperties.scala:31) selected via spatial_join(scheme="s2") —
    Arrow-batched Hilbert encode, s2.cover_geometry BFS cover, native
    lsb-sentinel-replant ancestor exprs, then the identical broadcast +
    box-native/PIP-refine plan as Z2. Result set is scheme-independent,
    so the oracle is plain half-plane / BETWEEN SQL."""
    pts = _points(spark, sf_dir)
    polys = {
        "pent": _pentagon_wkt(),
        "b_eu": _box_wkt(BOXES["b_eu"]),
        "b_apac": _box_wkt(BOXES["b_apac"]),
    }
    joined = spatial_join(pts, polys, scheme="s2")
    return joined.groupBy("poly_id").agg(
        F.count("*").alias("n_points"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def _oracle_geo_pip_s2():
    n = len(PENTAGON)
    conds = []
    for i in range(n):
        x0, y0 = PENTAGON[i]
        x1, y1 = PENTAGON[(i + 1) % n]
        conds.append(
            f"(({x1} - {x0}) * (lat - {y0}) - ({y1} - {y0}) * (lon - {x0})) >= 0"
        )
    arms = [
        f"SELECT 'pent' AS poly_id, value FROM pts WHERE {' AND '.join(conds)}"
    ]
    for pid in ("b_eu", "b_apac"):
        x0, y0, x1, y1 = BOXES[pid]
        arms.append(
            f"SELECT '{pid}' AS poly_id, value FROM pts "
            f"WHERE lon BETWEEN {x0} AND {x1} AND lat BETWEEN {y0} AND {y1}"
        )
    return f"""
WITH pts AS (SELECT value, {LON_SQL} AS lon, {LAT_SQL} AS lat FROM events),
hits AS ({' UNION ALL '.join(arms)})
SELECT poly_id, CAST(count(*) AS BIGINT) AS n_points,
       round(sum(value), 4) AS sum_value
FROM hits GROUP BY poly_id
"""


CELL_RES = 8


def q_geo_cell_density(spark, sf_dir):
    # staged cell columns (cell_stage_exprs) instead of the monolithic
    # expression: bit-identical, but ~32x smaller plan to analyze/codegen
    from .operators.spatial_join import add_cell_column

    pts = _points(spark, sf_dir)
    return (
        add_cell_column(pts, CELL_RES, out="cell")
        .groupBy("cell")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


def _oracle_geo_cell_density():
    expr = cells.cell_sql_expr("lon", "lat", CELL_RES)
    return f"""
WITH pts AS (SELECT value, {LON_SQL} AS lon, {LAT_SQL} AS lat FROM events)
SELECT {expr} AS cell, CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS sum_value
FROM pts GROUP BY 1
"""


PYRAMID_LEVELS = 3


def q_geo_tile_pyramid(spark, sf_dir):
    """Tile-pyramid rollup: density at CELL_RES plus every coarser zoom down
    to CELL_RES - 2, built from ONE scan of the raw points — the coarse
    levels aggregate the already-reduced fine-cell frame, not the table."""
    from .operators.density import tile_pyramid

    pts = _points(spark, sf_dir)
    return tile_pyramid(pts, CELL_RES, PYRAMID_LEVELS, weight="value").select(
        "res",
        "cell",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("weight"), 4).alias("weight"),
    )


def _oracle_geo_tile_pyramid():
    expr = cells.cell_sql_expr("lon", "lat", CELL_RES)
    # replay each zoom level directly over the rows: ancestor = drop 2 bits
    # per level (integer >> in both engines — a floor(cell/4^k) form rides
    # double division and corrupts ids above 2^53); mathematically identical
    # to the engine's rollup over fine-cell partials; float disagreement is
    # ~1e-12 relative, far below the 4dp rounding
    levels = []
    for r in range(CELL_RES - PYRAMID_LEVELS + 1, CELL_RES + 1):
        k = CELL_RES - r
        levels.append(
            f"SELECT CAST({r} AS INT) AS res,"
            f" CAST(cell >> {2 * k} AS BIGINT) AS cell,"
            f" CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS weight"
            f" FROM f GROUP BY 1, 2"
        )
    union = "\nUNION ALL\n".join(levels)
    return f"""
WITH pts AS (SELECT value, {LON_SQL} AS lon, {LAT_SQL} AS lat FROM events),
f AS (SELECT {expr} AS cell, value FROM pts)
{union}
"""


def q_geo_tile_density(spark, sf_dir):
    from .operators.density import density

    pts = _points(spark, sf_dir)
    return density(pts, (-180.0, -90.0, 180.0, 90.0), 256, 128, weight="value").withColumn(
        "weight", F.round(F.col("weight"), 4)
    )


def _oracle_geo_tile_density():
    tx, ty = grid_snap_exprs("lon", "lat", (-180.0, -90.0, 180.0, 90.0), 256, 128)
    return f"""
WITH pts AS (SELECT value, {LON_SQL} AS lon, {LAT_SQL} AS lat FROM events)
SELECT {tx} AS tile_x, {ty} AS tile_y, round(sum(value), 4) AS weight
FROM pts GROUP BY 1, 2
"""


def q_geo_timebin_cells(spark, sf_dir):
    """Z3 analog: (epoch-week bin, coarse cell) density."""
    from .operators.spatial_join import add_cell_column

    pts = _points(spark, sf_dir)
    return (
        add_cell_column(pts, 4, out="cell")
        .select(
            F.expr("cast(floor(unix_timestamp(ts) / 604800) as bigint)").alias("week_bin"),
            "cell",
        )
        .groupBy("week_bin", "cell")
        .agg(F.count("*").alias("n"))
    )


def _oracle_geo_timebin_cells():
    expr = cells.cell_sql_expr("lon", "lat", 4)
    return f"""
WITH pts AS (SELECT ts, {LON_SQL} AS lon, {LAT_SQL} AS lat FROM events)
SELECT CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week_bin, {expr} AS cell,
       CAST(count(*) AS BIGINT) AS n
FROM pts GROUP BY 1, 2
"""


Z3_NBITS = 6  # coarse 3D cells for the density surface


def q_geo_z3_cells(spark, sf_dir):
    """TRUE Z3 key density (Z3SFC.scala:22-47 parity): (epoch-week bin,
    3-way lon/lat/time-offset interleave) counts, built through the staged
    native expressions (zero Python)."""
    pts = _points(spark, sf_dir).withColumn(
        "ts_s", F.col("ts").cast("timestamp").cast("long")
    )
    for name, sql in cells.z3_stage_exprs("lon", "lat", "ts_s", Z3_NBITS):
        pts = pts.withColumn(name, F.expr(sql))
    ebin, _ = cells.z3_sql_expr("lon", "lat", "ts_s", Z3_NBITS)
    return (
        pts.select(F.expr(ebin).alias("week_bin"), "z3")
        .groupBy("week_bin", "z3")
        .agg(F.count("*").alias("n"))
    )


def _oracle_geo_z3_cells():
    ebin, z3 = cells.z3_sql_expr("lon", "lat", "ts_s", Z3_NBITS)
    return f"""
WITH pts AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
                    {LON_SQL} AS lon, {LAT_SQL} AS lat FROM events)
SELECT {ebin} AS week_bin, {z3} AS z3, CAST(count(*) AS BIGINT) AS n
FROM pts GROUP BY 1, 2
"""


KNN_K = 5
KNN_NQ = 12


def q_geo_knn(spark, sf_dir):
    pts = _points(spark, sf_dir)
    qids = np.arange(KNN_NQ)
    qlon, qlat = _lonlat_np(qids)
    queries = pd.DataFrame({"query_id": qids.astype(np.int64), "lon": qlon, "lat": qlat})
    out = knn_join(
        pts,
        queries,
        k=KNN_K,
        point_id="event_id",
        metric="planar",
        res=8,
        exclude_self=True,
    )
    return out.select(
        F.col("query_id").cast("long"),
        F.col("event_id").cast("long"),
        F.col("rnk").cast("int"),
    )


def _oracle_geo_knn():
    return f"""
WITH pts AS (SELECT event_id, {LON_SQL} AS lon, {LAT_SQL} AS lat FROM events),
q AS (SELECT event_id AS query_id, lon AS qlon, lat AS qlat FROM pts WHERE event_id < {KNN_NQ}),
d AS (
  SELECT q.query_id, p.event_id,
         sqrt((p.lon - q.qlon) * (p.lon - q.qlon) + (p.lat - q.qlat) * (p.lat - q.qlat)) AS dist
  FROM pts p CROSS JOIN q WHERE p.event_id <> q.query_id
),
r AS (SELECT query_id, event_id,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, event_id ASC) AS INTEGER) AS rnk
      FROM d)
SELECT query_id, event_id, rnk FROM r WHERE rnk <= {KNN_K}
"""


KNN_TABLE_NQ = 200  # table-scale path: too many queries for the client loop


def q_geo_knn_table(spark, sf_dir):
    """Fully distributed table-to-table kNN (knn_join_table): queries are a
    DataFrame, disk expansion is native sequence/explode + morton exprs, no
    per-query driver work and no LocalTableScan — the scale path for query
    sets beyond the client-driven process analog
    (KNearestNeighborSearchProcess.scala:222-301 re-expressed set-at-a-time)."""
    from .operators.knn import knn_join_table

    pts = _points(spark, sf_dir)
    queries = pts.filter(F.col("event_id") < KNN_TABLE_NQ).select(
        F.col("event_id").alias("query_id"),
        F.col("lon").alias("qlon"),
        F.col("lat").alias("qlat"),
    )
    # radius=4: size the FIRST disk so round 1 usually contains k
    # neighbors even for sparse-cell queries — under-sizing costs whole
    # extra rounds (join + window + anti-join each), over-sizing only
    # (2R+1)^2 explode rows per query (measured 9.9 s -> 2.3 s at sf0.1;
    # results identical — the guarantee radius makes any start exact)
    out = knn_join_table(
        pts, queries, k=KNN_K, point_id="event_id",
        metric="planar", res=8, radius=4, exclude_self=True,
    )
    return out.select(
        F.col("query_id").cast("long"),
        F.col("event_id").cast("long"),
        F.col("rnk").cast("int"),
    )


def _oracle_geo_knn_table():
    return f"""
WITH pts AS (SELECT event_id, {LON_SQL} AS lon, {LAT_SQL} AS lat FROM events),
q AS (SELECT event_id AS query_id, lon AS qlon, lat AS qlat FROM pts WHERE event_id < {KNN_TABLE_NQ}),
d AS (
  SELECT q.query_id, p.event_id,
         sqrt((p.lon - q.qlon) * (p.lon - q.qlon) + (p.lat - q.qlat) * (p.lat - q.qlat)) AS dist
  FROM pts p CROSS JOIN q WHERE p.event_id <> q.query_id
),
r AS (SELECT query_id, event_id,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, event_id ASC) AS INTEGER) AS rnk
      FROM d)
SELECT query_id, event_id, rnk FROM r WHERE rnk <= {KNN_K}
"""


def q_geo_knn_sphere(spark, sf_dir):
    """Spherical (haversine) kNN — the reference's metric; planar variant
    above exercises bit-identical parity, this one exercises the geodesic."""
    pts = _points(spark, sf_dir)
    qids = np.arange(KNN_NQ)
    qlon, qlat = _lonlat_np(qids)
    queries = pd.DataFrame({"query_id": qids.astype(np.int64), "lon": qlon, "lat": qlat})
    out = knn_join(
        pts, queries, k=KNN_K, point_id="event_id",
        metric="haversine", res=8, exclude_self=True,
    )
    return out.select(
        F.col("query_id").cast("long"),
        F.col("event_id").cast("long"),
        F.col("rnk").cast("int"),
    )


def _oracle_geo_knn_sphere():
    dist = (
        "2 * 6371008.8 * asin(sqrt("
        "pow(sin(radians(p.lat - q.qlat) / 2), 2) + "
        "cos(radians(q.qlat)) * cos(radians(p.lat)) * "
        "pow(sin(radians(p.lon - q.qlon) / 2), 2)))"
    )
    return f"""
WITH pts AS (SELECT event_id, {LON_SQL} AS lon, {LAT_SQL} AS lat FROM events),
q AS (SELECT event_id AS query_id, lon AS qlon, lat AS qlat FROM pts WHERE event_id < {KNN_NQ}),
d AS (
  SELECT q.query_id, p.event_id, {dist} AS dist
  FROM pts p CROSS JOIN q WHERE p.event_id <> q.query_id
),
r AS (SELECT query_id, event_id,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, event_id ASC) AS INTEGER) AS rnk
      FROM d)
SELECT query_id, event_id, rnk FROM r WHERE rnk <= {KNN_K}
"""


def q_geo_track_segments(spark, sf_dir):
    pts = _points(spark, sf_dir)
    segs = point2point(pts, track="user_id", ts="ts", order_tiebreak="event_id")
    return segs.groupBy("track").agg(
        F.count("*").alias("n_segments"),
        F.round(F.sum("seg_len_deg"), 6).alias("total_len"),
    )


def _oracle_geo_track_segments():
    return f"""
WITH pts AS (SELECT user_id, ts, event_id, {LON_SQL} AS lon, {LAT_SQL} AS lat FROM events),
segs AS (
  SELECT user_id,
         lag(lon) OVER w AS lon0, lag(lat) OVER w AS lat0, lon AS lon1, lat AS lat1
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
)
SELECT user_id AS track, CAST(count(*) AS BIGINT) AS n_segments,
       round(sum(sqrt((lon1 - lon0) * (lon1 - lon0) + (lat1 - lat0) * (lat1 - lat0))), 6) AS total_len
FROM segs WHERE lon0 IS NOT NULL GROUP BY user_id
"""


PROX_SITES = {"paris": (2.35, 48.85), "nyc": (-74.0, 40.7), "tokyo": (139.7, 35.7)}
PROX_RADIUS = 250_000.0


def q_geo_proximity_join(spark, sf_dir):
    from .operators.proximity import proximity_join

    pts = _points(spark, sf_dir)
    out = proximity_join(pts, PROX_SITES, PROX_RADIUS)
    return out.groupBy("site_id").agg(
        F.count("*").alias("n_points"),
        F.round(F.avg("dist_m"), 3).alias("avg_dist_m"),
    )


def _oracle_geo_proximity_join():
    from .operators.proximity import haversine_sql

    vals = ", ".join(
        f"('{sid}', {slon}, {slat})" for sid, (slon, slat) in PROX_SITES.items()
    )
    dist = haversine_sql("slon", "slat", "lon", "lat")
    return f"""
WITH pts AS (SELECT event_id, {LON_SQL} AS lon, {LAT_SQL} AS lat FROM events),
sites(site_id, slon, slat) AS (VALUES {vals}),
d AS (SELECT site_id, {dist} AS dist_m FROM pts CROSS JOIN sites)
SELECT site_id, CAST(count(*) AS BIGINT) AS n_points, round(avg(dist_m), 3) AS avg_dist_m
FROM d WHERE dist_m <= {PROX_RADIUS} GROUP BY site_id
"""


def q_join_lookup(spark, sf_dir):
    from .operators.proximity import lookup_join

    cust, orders = _load(spark, sf_dir, "customer", "orders")
    prim = cust.filter(F.col("c_custkey") < 80)
    out = lookup_join(prim, orders, "c_custkey", "o_custkey")
    return out.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


def _oracle_join_lookup():
    return """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
WHERE c_custkey < 80 GROUP BY c_mktsegment
"""


def q_geo_track_label(spark, sf_dir):
    from .operators.tracks import track_label

    (events,) = _load(spark, sf_dir, "events")
    out = track_label(events, track="user_id", ts="ts", order_tiebreak="event_id")
    return out.select(
        "user_id",
        F.col("event_id").alias("last_event"),
        F.round("value", 4).alias("last_value"),
    )


def _oracle_geo_track_label():
    return """
WITH r AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_id AS last_event, round(value, 4) AS last_value
FROM r WHERE rn = 1
"""


def q_geo_sample_nth(spark, sf_dir):
    (events,) = _load(spark, sf_dir, "events")
    s = sample_nth(events, 10, order_by="event_id", key="event_type")
    return s.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def _oracle_geo_sample_nth():
    return """
WITH s AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY event_id ASC) AS rn
  FROM events
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS sum_value
FROM s WHERE (rn - 1) % 10 = 0 GROUP BY event_type
"""


# =============================================================================
# Stats / relational queries
# =============================================================================

def q_stats_histogram(spark, sf_dir):
    (li,) = _load(spark, sf_dir, "lineitem")
    return histogram(li, "l_quantity", 10, 1.0, 51.0)


def _oracle_stats_histogram():
    return """
SELECT least(greatest(CAST(floor((l_quantity - 1.0) / 5.0) AS BIGINT), 0), 9) AS bucket,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem GROUP BY 1
"""


def q_stats_topk(spark, sf_dir):
    (part,) = _load(spark, sf_dir, "part")
    return top_k(part, "p_brand", 5)


def _oracle_stats_topk():
    return """
WITH c AS (SELECT p_brand AS value, CAST(count(*) AS BIGINT) AS n FROM part GROUP BY 1),
r AS (SELECT value, n, CAST(row_number() OVER (ORDER BY n DESC, value ASC) AS INTEGER) AS rnk FROM c)
SELECT value, n, rnk FROM r WHERE rnk <= 5
"""


def q_stats_enumeration(spark, sf_dir):
    from .operators.stats import enumeration

    (events,) = _load(spark, sf_dir, "events")
    return enumeration(events, "event_type")


def _oracle_stats_enumeration():
    return "SELECT event_type AS value, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1"


def q_stats_minmax(spark, sf_dir):
    (li,) = _load(spark, sf_dir, "lineitem")
    return li.agg(
        F.min("l_quantity").alias("min_v"),
        F.max("l_quantity").alias("max_v"),
        F.count("*").alias("cnt"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


def _oracle_stats_minmax():
    return """
SELECT min(l_quantity) AS min_v, max(l_quantity) AS max_v,
       CAST(count(*) AS BIGINT) AS cnt, CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
FROM lineitem
"""


def q_stats_descriptive(spark, sf_dir):
    (li,) = _load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("l_discount").alias("cnt"),
        F.round(F.avg("l_discount"), 6).alias("mean_v"),
        F.round(F.var_samp("l_discount"), 8).alias("var_v"),
        F.round(F.stddev_samp("l_discount"), 8).alias("std_v"),
        F.min("l_discount").alias("min_v"),
        F.max("l_discount").alias("max_v"),
    )


def _oracle_stats_descriptive():
    return """
SELECT CAST(count(l_discount) AS BIGINT) AS cnt,
       round(avg(l_discount), 6) AS mean_v,
       round(var_samp(l_discount), 8) AS var_v,
       round(stddev_samp(l_discount), 8) AS std_v,
       min(l_discount) AS min_v, max(l_discount) AS max_v
FROM lineitem
"""


QUANT_PROBS = (0.25, 0.5, 0.75, 0.9)


def q_stats_quantiles(spark, sf_dir):
    """Exact per-group quantiles (Stat-DSL addendum): one shuffle on the
    group key, map-side partial aggregation — Spark's percentile and
    DuckDB's quantile_cont share the type-7 interpolation bit-for-bit
    (probe-pinned in tests/test_oracle_sql.py)."""
    from .operators.stats import quantiles_by

    (events,) = _load(spark, sf_dir, "events")
    return quantiles_by(events, "event_type", "value", QUANT_PROBS).select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        *[f"q_{str(p).replace('.', '_')}" for p in QUANT_PROBS],
    )


def _oracle_stats_quantiles():
    qcols = ", ".join(
        f"round(quantile_cont(value, {p}), 6) AS q_{str(p).replace('.', '_')}"
        for p in QUANT_PROBS
    )
    return f"""
SELECT event_type, CAST(count(value) AS BIGINT) AS n, {qcols}
FROM events GROUP BY 1
"""


def q_stats_groupby(spark, sf_dir):
    """Nested GroupBy stat (GroupBy.scala analog): histogram of l_quantity
    per returnflag through the stats DSL."""
    from .operators.stats import run_stats

    (li,) = _load(spark, sf_dir, "lineitem")
    out = run_stats(li, "GroupBy(l_returnflag, Histogram(l_quantity,5,1.0,51.0))")
    return list(out.values())[0]


def _oracle_stats_groupby():
    return """
SELECT l_returnflag,
       least(greatest(CAST(floor((l_quantity - 1.0) / 10.0) AS BIGINT), 0), 4) AS bucket,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem GROUP BY 1, 2
"""


ST_INT_STRIDE = 101  # event stride for the st_intersection surface check
ST_INT_HALF = 0.75


def q_geo_st_intersection(spark, sf_dir):
    """SQL-surface end-to-end: st_makeBBOX / st_intersection / st_area over
    WKB columns through spark.sql. Per region box: how many event boxes
    overlap it (area > 0) and the summed overlap area — the DuckDB oracle
    computes the rectangle-overlap closed form."""
    from .functions.st_funcs import register_st_functions

    register_st_functions(spark)
    pts = _points(spark, sf_dir).filter(F.col("event_id") % ST_INT_STRIDE == 0)
    pts.select(
        "event_id",
        F.expr(
            f"st_makeBBOX(lon - {ST_INT_HALF}, lat - {ST_INT_HALF}, "
            f"lon + {ST_INT_HALF}, lat + {ST_INT_HALF})"
        ).alias("geom"),
    ).createOrReplaceTempView("ev_boxes")
    rows = ", ".join(
        f"('{pid}', {x0}d, {y0}d, {x1}d, {y1}d)"
        for pid, (x0, y0, x1, y1) in BOXES.items()
    )
    return spark.sql(f"""
        WITH polys AS (SELECT poly_id, st_makeBBOX(x0, y0, x1, y1) AS pgeom
                       FROM VALUES {rows} AS t(poly_id, x0, y0, x1, y1)),
        ix AS (SELECT poly_id, st_intersection(geom, pgeom) AS ig
               FROM ev_boxes CROSS JOIN polys),
        ar AS (SELECT poly_id, st_area(ig) AS a FROM ix WHERE ig IS NOT NULL)
        SELECT poly_id, CAST(count(*) AS BIGINT) AS n_overlaps,
               round(sum(a), 6) AS total_area
        FROM ar WHERE a > 0 GROUP BY poly_id
    """)


def _oracle_geo_st_intersection():
    vals = ", ".join(
        f"('{pid}', {x0}, {y0}, {x1}, {y1})" for pid, (x0, y0, x1, y1) in BOXES.items()
    )
    h = ST_INT_HALF
    ow = f"(least(lon + {h}, x1) - greatest(lon - {h}, x0))"
    oh = f"(least(lat + {h}, y1) - greatest(lat - {h}, y0))"
    return f"""
WITH pts AS (SELECT event_id, {LON_SQL} AS lon, {LAT_SQL} AS lat FROM events
             WHERE event_id % {ST_INT_STRIDE} = 0),
boxes(poly_id, x0, y0, x1, y1) AS (VALUES {vals}),
ov AS (SELECT poly_id, {ow} AS ow, {oh} AS oh FROM pts CROSS JOIN boxes),
ar AS (SELECT poly_id, ow * oh AS a FROM ov WHERE ow > 0 AND oh > 0)
SELECT poly_id, CAST(count(*) AS BIGINT) AS n_overlaps, round(sum(a), 6) AS total_area
FROM ar WHERE a > 0 GROUP BY poly_id
"""


def q_tpch_q1(spark, sf_dir):
    (li,) = _load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def _oracle_tpch_q1():
    return """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_q3(spark, sf_dir):
    cust, orders, li = _load(spark, sf_dir, "customer", "orders", "lineitem")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .filter(
            (F.col("c_mktsegment") == "BUILDING")
            & (F.col("o_orderdate") < "1997-03-15")
            & (F.col("l_shipdate") > "1997-03-15")
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            # revenue in exact ten-thousandths: price/discount have <= 4
            # decimals, so sum*1e4 is within 1e-6 of an integer in BOTH
            # engines -- decimal rounding of doubles at .xx5 midpoints is
            # engine-dependent, integer rounding here never sees a midpoint
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000
            ).cast("long").alias("revenue_e4")
        )
    )


def _oracle_tpch_q3():
    return """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(round(sum(l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT) AS revenue_e4
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
"""


def q_tpch_q5(spark, sf_dir):
    cust, orders, li, supp, nation, region = _load(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region"
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, (li["l_suppkey"] == supp["s_suppkey"])
              & (cust["c_nationkey"] == supp["s_nationkey"]))
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1998-01-01")
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def _oracle_tpch_q5():
    return """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


def q_tpch_q6(spark, sf_dir):
    (li,) = _load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        )
    )


def _oracle_tpch_q6():
    return """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q_join_revenue_by_nation(spark, sf_dir):
    cust, orders, nation = _load(spark, sf_dir, "customer", "orders", "nation")
    return (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


def _oracle_join_revenue_by_nation():
    return """
SELECT n_name, round(sum(o_totalprice), 2) AS revenue, CAST(count(*) AS BIGINT) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


# =============================================================================
# Documents / text
# =============================================================================

def q_dedup_exact(spark, sf_dir):
    from .operators.dedup import exact_dedup

    (docs,) = _load(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id")


def _oracle_dedup_exact():
    return """
SELECT CAST(min(doc_id) AS BIGINT) AS keep_id, CAST(count(*) AS BIGINT) AS copies
FROM documents GROUP BY md5(text)
"""


def q_text_quality(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    out = docs.select("doc_id")
    exprs = quality_exprs("text", "spark")
    sel = [F.col("doc_id")] + [F.expr(e).alias(name) for name, e in exprs.items()]
    return docs.select(*sel)


def _oracle_text_quality():
    exprs = quality_exprs("text", "duckdb")
    cols = ", ".join(f"{e} AS {name}" for name, e in exprs.items())
    return f"SELECT CAST(doc_id AS BIGINT) AS doc_id, {cols} FROM documents"


def _scrub_decor_sql(dialect: str) -> str:
    """Deterministic URL/email decoration derived from doc_id (the corpus
    itself contains neither) — same regenerate-from-ids pattern the image
    oracles use. doc_id % 3: 0 = untouched, 1 = URL appended, 2 = email."""
    sid = "cast(doc_id as varchar)" if dialect == "duckdb" else "cast(doc_id as string)"
    return (
        f"case cast(doc_id % 3 as int)"
        f" when 1 then concat(text, ' see https://ex.org/d/', {sid}, '?u=', {sid}, ' ok')"
        f" when 2 then concat(text, ' mail u', {sid}, '@ex-', {sid}, '.com  now')"
        f" else text end"
    )


def q_text_scrub(spark, sf_dir):
    """Redaction/normalization scrub — URLs/emails replaced by tokens,
    whitespace collapsed; all native regexp expressions, no Python. The
    emitted clean text is value-hashed against the oracle, so the scrub is
    verified character-for-character."""
    from .functions.text import scrub_exprs

    (docs,) = _load(spark, sf_dir, "documents")
    deco = docs.select(
        F.col("doc_id"), F.expr(_scrub_decor_sql("spark")).alias("__t")
    )
    exprs = scrub_exprs("__t", "spark")
    return deco.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr(exprs["clean"]).alias("clean"),
        F.expr(exprs["n_urls"]).alias("n_urls"),
        F.expr(exprs["n_emails"]).alias("n_emails"),
        (F.length("__t") - F.length(F.expr(exprs["clean"])))
        .cast("long")
        .alias("removed_chars"),
    )


def _oracle_text_scrub():
    from .functions.text import scrub_exprs

    exprs = scrub_exprs("__t", "duckdb")
    return f"""
WITH deco AS (SELECT doc_id, {_scrub_decor_sql('duckdb')} AS __t FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       {exprs['clean']} AS clean,
       {exprs['n_urls']} AS n_urls,
       {exprs['n_emails']} AS n_emails,
       CAST(length(__t) - length({exprs['clean']}) AS BIGINT) AS removed_chars
FROM deco
"""


def q_text_langid(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return (
        docs.select(F.expr(lang_id_expr("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count("*").alias("n"))
    )


def _oracle_text_langid():
    return (
        f"SELECT {lang_id_expr('text')} AS lang_pred, CAST(count(*) AS BIGINT) AS n "
        f"FROM documents GROUP BY 1"
    )


FP_WINDOW = 16


def q_text_fingerprint(spark, sf_dir):
    """Rolling-hash document fingerprint (winnowing-lite) under the oracle
    gate: min rolling polynomial hash over codepoint windows. The fixture's
    documents are all longer than the window, so the driver exercises the
    full rolling path; the whole-string short branch is pytest-covered."""
    from .functions.text import fingerprint_udf

    (docs,) = _load(spark, sf_dir, "documents")
    fp = fingerprint_udf(FP_WINDOW)
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        fp(F.col("text")).alias("fp"),
    )


def _oracle_text_fingerprint():
    from .functions.text import fingerprint_weights

    w = FP_WINDOW
    weights = fingerprint_weights(w)
    terms = " + ".join(
        f"unicode(substr(tt, i + {k}, 1)) * CAST('{weights[k]}' AS HUGEINT)"
        for k in range(w)
    )
    m64 = 1 << 64
    m63 = 1 << 63
    return f"""
WITH t AS (SELECT doc_id, text AS tt FROM documents),
win AS (SELECT doc_id, tt, unnest(range(1, length(tt) - {w - 2})) AS i FROM t),
h AS (SELECT doc_id, CAST((({terms}) % {m64}) % {m63} AS BIGINT) AS hv FROM win)
SELECT CAST(doc_id AS BIGINT) AS doc_id, min(hv) AS fp FROM h GROUP BY 1
"""


WINNOW_K = 8
WINNOW_W = 4
WINNOW_MIN_SHARED = 2
WINNOW_MAX_DF = 50
# 0.3 catches the genuine near-dup band on this corpus (282 pairs at
# sf0.01, avg overlap 0.395) — not just the exact-dup clusters (25 pairs,
# all overlap 1.0, already covered by dedup_exact/minhash at J>=0.8)
WINNOW_MIN_OVERLAP = 0.3


def q_text_winnow_pairs(spark, sf_dir):
    """Winnowing fingerprint-set overlap join (MOSS, Schleimer et al. 2003)
    under the oracle gate: per-doc k-gram rolling hashes -> sliding-window
    min selection -> distinct fingerprint set -> doc-frequency guard
    (boilerplate fingerprints shared by > max_df docs are dropped before the
    self-join — the hot-key cap) -> fp equi-self-join -> per-pair shared
    count + containment overlap. The DuckDB oracle replays the ENTIRE
    pipeline — position hashes via unicode(substr(...)) with the identical
    257-power weights, the window min as a window function, the guard, the
    join — so the hash check covers the approximate pipeline itself,
    including the shrunk-window branch for docs of kgram..kgram+window-2
    codepoints (the oracle's greatest(nh-(w-1),1) keeps position 1, whose
    clipped window min equals the engine's single whole-span fingerprint).
    Only docs shorter than kgram remain engine-only (whole-string fold,
    pytest-covered; the fixture's documents are all >= 48 chars)."""
    from .operators.dedup import winnow_overlap_pairs

    (docs,) = _load(spark, sf_dir, "documents")
    return winnow_overlap_pairs(
        docs,
        kgram=WINNOW_K,
        window=WINNOW_W,
        min_shared=WINNOW_MIN_SHARED,
        max_df=WINNOW_MAX_DF,
        min_overlap=WINNOW_MIN_OVERLAP,
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("n_shared").cast("long").alias("n_shared"),
        "overlap",
    )


def _oracle_text_winnow_pairs(
    min_shared: int = WINNOW_MIN_SHARED,
    max_df: int = WINNOW_MAX_DF,
    min_overlap: float = WINNOW_MIN_OVERLAP,
):
    from .functions.text import fingerprint_weights

    k, w = WINNOW_K, WINNOW_W
    weights = fingerprint_weights(k)
    terms = " + ".join(
        f"unicode(substr(tt, i + {j}, 1)) * CAST('{weights[j]}' AS HUGEINT)"
        for j in range(k)
    )
    m64 = 1 << 64
    m63 = 1 << 63
    return f"""
WITH t AS (SELECT doc_id, text AS tt FROM documents),
pos AS (SELECT doc_id, tt, unnest(range(1, length(tt) - {k - 2})) AS i FROM t),
kh AS (SELECT doc_id, i, CAST((({terms}) % {m64}) % {m63} AS BIGINT) AS hv FROM pos),
wmin AS (SELECT doc_id, i,
                min(hv) OVER (PARTITION BY doc_id ORDER BY i
                              ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS mh,
                count(*) OVER (PARTITION BY doc_id) AS nh
         FROM kh),
fps AS (SELECT DISTINCT doc_id, mh AS fp FROM wmin
        WHERE i <= greatest(nh - {w - 1}, 1)),
exf AS (SELECT doc_id, fp FROM fps
        WHERE fp NOT IN (SELECT fp FROM fps GROUP BY fp HAVING count(*) > {max_df})),
sizes AS (SELECT doc_id, count(*) AS nfp FROM exf GROUP BY doc_id),
pairs AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS ns
          FROM exf a JOIN exf b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING count(*) >= {min_shared})
SELECT CAST(ia AS BIGINT) AS id_a, CAST(ib AS BIGINT) AS id_b,
       CAST(ns AS BIGINT) AS n_shared,
       round(CAST(ns AS DOUBLE) / least(sa.nfp, sb.nfp), 4) AS overlap
FROM pairs
JOIN sizes sa ON pairs.ia = sa.doc_id
JOIN sizes sb ON pairs.ib = sb.doc_id
WHERE CAST(ns AS DOUBLE) / least(sa.nfp, sb.nfp) >= {min_overlap}
"""


def q_dedup_clusters_star(spark, sf_dir):
    """Near-dup pair graph -> duplicate clusters: winnowing overlap pairs
    (same config as text_winnow_pairs) fed through star-contraction
    connected components (Kiveris et al. 2014) — the keep-one-per-cluster
    step of a dedup pipeline. The DuckDB oracle recomputes the SAME pair
    graph (full winnow replay) and labels components with a RECURSIVE
    transitive-closure CTE — an independent fixpoint, so the engine's
    round-based contraction is checked for transitivity (chains A~B~C
    where A!~C), not just cliques. Every document appears: singletons
    label themselves."""
    from .operators.dedup import connected_components, winnow_overlap_pairs

    (docs,) = _load(spark, sf_dir, "documents")
    pairs = winnow_overlap_pairs(
        docs,
        kgram=WINNOW_K,
        window=WINNOW_W,
        min_shared=WINNOW_MIN_SHARED,
        max_df=WINNOW_MAX_DF,
        min_overlap=WINNOW_MIN_OVERLAP,
    )
    return connected_components(pairs, docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


def _oracle_dedup_clusters():
    winnow = _oracle_text_winnow_pairs()
    return f"""
WITH RECURSIVE
wpairs AS (SELECT id_a, id_b FROM ({winnow})),
edges AS (SELECT id_a AS u, id_b AS v FROM wpairs
          UNION SELECT id_b, id_a FROM wpairs),
reach(u, v) AS (
    SELECT u, v FROM edges
    UNION
    SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
lbl AS (SELECT u AS id, min(v) AS mn FROM reach GROUP BY u)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(least(l.mn, d.doc_id), d.doc_id) AS BIGINT) AS cluster_id
FROM documents d LEFT JOIN lbl l ON l.id = d.doc_id
"""


DUPSPAN_W = 32


def q_text_dup_spans(spark, sf_dir):
    """Exact-substring duplication coverage (ExactSubstr of Lee et al. 2022):
    per document, the characters covered by a 32-char span that appears
    verbatim in another document — every window position natively via
    explode(sequence) + substring, cross-doc spans by distinct+count, and
    the per-doc interval union via gaps-and-islands window functions. The
    DuckDB oracle replays the identical pipeline (same windows, same >= 2
    distinct-doc rule, same running-max island split), so the engine's
    window-function coverage arithmetic is value-checked end to end."""
    from .operators.dedup import dup_span_stats

    (docs,) = _load(spark, sf_dir, "documents")
    return dup_span_stats(docs, window=DUPSPAN_W).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("dup_chars").cast("long").alias("dup_chars"),
        "dup_ratio",
    )


DUPSPAN_S = 8  # content-defined sampling density: keep i where h1 % 8 == 0


def q_text_dup_spans_hashed(spark, sf_dir):
    """The 100-TB form of exact-substring duplication coverage (Lee et al.
    2022 §4): span keys are two independent 63-bit polynomial hashes instead
    of literal 32-char strings, and only positions whose h1 is 0 mod 8 enter
    the shuffle (content-defined sampling — shift-invariant, so the same
    span text is sampled identically in every document). The shuffle carries
    (doc_id, pos, h1, h2) longs only. The DuckDB oracle replays the ENTIRE
    sampled pipeline — the same codepoint x base^k HUGEINT hash arithmetic,
    the same sampling rule, the same two-hash grouping, the same islands —
    so the approximation itself is value-checked, not just the plumbing;
    pytest additionally pins sample_mod=1 equality with the literal-span
    exact form."""
    from .operators.dedup import dup_span_stats_hashed

    (docs,) = _load(spark, sf_dir, "documents")
    return dup_span_stats_hashed(
        docs, window=DUPSPAN_W, sample_mod=DUPSPAN_S
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("dup_chars").cast("long").alias("dup_chars"),
        "dup_ratio",
    )


def _oracle_text_dup_spans_hashed():
    from .operators.dedup import SPANHASH_BASE1, SPANHASH_BASE2, span_hash_weights

    w, s = DUPSPAN_W, DUPSPAN_S
    m64, m63 = 1 << 64, 1 << 63
    t1 = " + ".join(
        f"unicode(substr(tt, i + {k}, 1)) * CAST('{wk}' AS HUGEINT)"
        for k, wk in enumerate(span_hash_weights(w, SPANHASH_BASE1))
    )
    t2 = " + ".join(
        f"unicode(substr(tt, i + {k}, 1)) * CAST('{wk}' AS HUGEINT)"
        for k, wk in enumerate(span_hash_weights(w, SPANHASH_BASE2))
    )
    return f"""
WITH t AS (SELECT doc_id, text AS tt FROM documents WHERE length(text) >= {w}),
pos AS (SELECT doc_id, tt, unnest(range(1, length(tt) - {w} + 2)) AS i FROM t),
h AS (SELECT doc_id, i,
             CAST((({t1}) % {m64}) % {m63} AS BIGINT) AS h1,
             CAST((({t2}) % {m64}) % {m63} AS BIGINT) AS h2
      FROM pos),
samp AS (SELECT doc_id, i, h1, h2 FROM h WHERE h1 % {s} = 0),
dsp AS (SELECT h1, h2 FROM (SELECT DISTINCT doc_id, h1, h2 FROM samp)
        GROUP BY h1, h2 HAVING count(*) >= 2),
occ AS (SELECT s2.doc_id, s2.i FROM samp s2 JOIN dsp USING (h1, h2)),
isl AS (SELECT doc_id, i,
               CASE WHEN max(i + {w}) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                    OR i >= max(i + {w}) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS ni
        FROM occ),
gid AS (SELECT doc_id, i, sum(ni) OVER (PARTITION BY doc_id ORDER BY i) AS g FROM isl),
cov AS (SELECT doc_id, max(i) + {w} - min(i) AS c FROM gid GROUP BY doc_id, g),
agg AS (SELECT doc_id, sum(c) AS dup_chars FROM cov GROUP BY doc_id)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(a.dup_chars, 0) AS BIGINT) AS dup_chars,
       round(CAST(coalesce(a.dup_chars, 0) AS DOUBLE)
             / greatest(length(d.text), 1), 4) AS dup_ratio
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
"""


def _oracle_text_dup_spans():
    w = DUPSPAN_W
    return f"""
WITH t AS (SELECT doc_id, text AS tt FROM documents WHERE length(text) >= {w}),
pos AS (SELECT doc_id, tt, unnest(range(1, length(tt) - {w} + 2)) AS i FROM t),
spans AS (SELECT doc_id, i, substr(tt, i, {w}) AS sp FROM pos),
dsp AS (SELECT sp FROM (SELECT DISTINCT doc_id, sp FROM spans)
        GROUP BY sp HAVING count(*) >= 2),
occ AS (SELECT s.doc_id, s.i FROM spans s JOIN dsp USING (sp)),
isl AS (SELECT doc_id, i,
               CASE WHEN max(i + {w}) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                    OR i >= max(i + {w}) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS ni
        FROM occ),
gid AS (SELECT doc_id, i, sum(ni) OVER (PARTITION BY doc_id ORDER BY i) AS g FROM isl),
cov AS (SELECT doc_id, max(i) + {w} - min(i) AS c FROM gid GROUP BY doc_id, g),
agg AS (SELECT doc_id, sum(c) AS dup_chars FROM cov GROUP BY doc_id)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(a.dup_chars, 0) AS BIGINT) AS dup_chars,
       round(CAST(coalesce(a.dup_chars, 0) AS DOUBLE)
             / greatest(length(d.text), 1), 4) AS dup_ratio
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
"""


def q_lang_stats(spark, sf_dir):
    (docs,) = _load(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


def _oracle_lang_stats():
    return """
SELECT lang, CAST(count(*) AS BIGINT) AS n, round(avg(n_chars), 4) AS avg_chars
FROM documents GROUP BY lang
"""


SAMPLE_FRACS = {"en": 0.25, "zh": 0.6}  # downsample dominant strata
SAMPLE_SALT = 7


def q_docs_sample_stratified(spark, sf_dir):
    """Deterministic stratified corpus rebalancing: keep iff
    u01(doc_id) < fraction(lang) — a pure codegen filter (zero shuffles)
    whose kept-row SET is identical at any parallelism or resume point,
    unlike df.sample. The portable multiply-shift hash is replayed verbatim
    by the oracle."""
    from .operators.sampling import sample_stratified

    (docs,) = _load(spark, sf_dir, "documents")
    out = sample_stratified(
        docs, "lang", "doc_id", SAMPLE_FRACS, default_fraction=0.9,
        salt=SAMPLE_SALT,
    )
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "lang")


def _oracle_docs_sample_stratified():
    from .operators.sampling import u01_hash_sql

    u = u01_hash_sql("doc_id", SAMPLE_SALT)
    case = " ".join(
        f"WHEN '{k}' THEN {v!r}" for k, v in sorted(SAMPLE_FRACS.items())
    )
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang
FROM documents
WHERE {u} < (CASE lang {case} ELSE 0.9 END)
"""


BM25_TERMS = ["vector", "join", "stream"]
BM25_K = 20


def q_text_bm25(spark, sf_dir):
    """Okapi BM25 top-k retrieval over documents — the corpus-mining member
    of the LLM-pipeline family. Fully native: tokenize/explode, early
    query-term pruning before the tf shuffle, single-row corpus stats
    broadcast, TakeOrderedAndProject top-k (no global sort)."""
    from .operators.retrieval import bm25_topk

    (docs,) = _load(spark, sf_dir, "documents")
    return bm25_topk(docs, BM25_TERMS, k=BM25_K).select(
        F.col("doc_id").cast("long").alias("doc_id"), "score"
    )


def _oracle_text_bm25():
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    return f"""
WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS tok
              FROM documents),
tk AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY 1),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk WHERE tok IN ({terms}) GROUP BY 1, 2),
dfreq AS (SELECT tok, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT t.doc_id,
         round(sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * (t.tf * (1.2 + 1)) / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl))), 6) AS score
  FROM tf t JOIN dfreq d USING (tok) JOIN dl l USING (doc_id), stats s
  GROUP BY 1)
SELECT CAST(doc_id AS BIGINT) AS doc_id, score FROM scored
ORDER BY score DESC, doc_id LIMIT {BM25_K}
"""


ASOF_TOL_S = 7 * 86400


def q_events_asof(spark, sf_dir):
    """Point-in-time enrichment: attach to every click the user's most
    recent prior purchase (within 7 days) via the union-and-window as-of
    join — one shuffle on user_id, no range theta-join."""
    from .operators.asof import asof_join

    (events,) = _load(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    out = asof_join(
        clicks,
        purchases,
        on="user_id",
        right_cols=["event_id", "value"],
        tie_col="event_id",
        tolerance_s=ASOF_TOL_S,
    )
    return out.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("r_event_id").cast("long").alias("purchase_id"),
        F.round("r_value", 6).alias("purchase_value"),
        "lag_s",
    )


def _oracle_events_asof():
    # the matched right row travels as ONE struct (NULL on left rows) so
    # last_value(IGNORE NULLS) matches a whole row atomically — the same
    # contract as the engine's struct carry (a per-column carry would
    # backfill NULL payload fields from older rows)
    return f"""
WITH u AS (
  SELECT user_id, ts AS t, 1 AS src, event_id AS l_eid,
         CAST(NULL AS STRUCT(rt TIMESTAMP, eid BIGINT, val DOUBLE)) AS m,
         CAST(NULL AS BIGINT) AS tie
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, ts, 0, NULL,
         struct_pack(rt := ts, eid := CAST(event_id AS BIGINT),
                     val := CAST(value AS DOUBLE)),
         event_id
  FROM events WHERE event_type = 'purchase'),
a AS (
  SELECT user_id, t, src, l_eid,
         last_value(m IGNORE NULLS) OVER w AS mm
  FROM u WINDOW w AS (PARTITION BY user_id ORDER BY t, src, tie NULLS FIRST
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT CAST(l_eid AS BIGINT) AS event_id, CAST(user_id AS BIGINT) AS user_id,
       struct_extract(mm, 'eid') AS purchase_id,
       round(struct_extract(mm, 'val'), 6) AS purchase_value,
       CAST(floor(epoch(t)) AS BIGINT)
         - CAST(floor(epoch(struct_extract(mm, 'rt'))) AS BIGINT) AS lag_s
FROM a
WHERE src = 1 AND mm IS NOT NULL
  AND CAST(floor(epoch(t)) AS BIGINT)
      - CAST(floor(epoch(struct_extract(mm, 'rt'))) AS BIGINT) <= {ASOF_TOL_S}
"""


SESSION_GAP_S = 1800


def q_events_sessionize(spark, sf_dir):
    """Gap-based sessionization of the event log (30-min inactivity gap):
    one shuffle on user_id shared by the window and the per-session
    aggregate; epoch-second outputs keep the result integer-exact."""
    from .operators.sessions import sessionize

    (events,) = _load(spark, sf_dir, "events")
    return sessionize(events, "user_id", "ts", gap_s=SESSION_GAP_S).select(
        F.col("user_id").cast("long").alias("user_id"),
        "session_idx",
        "start_s",
        "end_s",
        "n_events",
        "duration_s",
    )


RETENTION_PERIOD_S = 604_800


def q_events_cohorts(spark, sf_dir):
    """Weekly cohort retention: users cohorted by first-event week,
    distinct-active counts per (cohort, offset). The cohort derives from a
    window-min INSIDE the distinct's user-keyed shuffle — no second scan
    of the events table."""
    from .operators.sessions import cohort_retention

    (events,) = _load(spark, sf_dir, "events")
    return cohort_retention(events, period_s=RETENTION_PERIOD_S).select(
        F.col("cohort").cast("long").alias("cohort"),
        F.col("offset").cast("long").alias("offset"),
        "n_users",
    )


def _oracle_events_cohorts():
    p = RETENTION_PERIOD_S
    # same IEEE double division as the engine (epoch keeps fractional
    # seconds in both; dividing doubles then flooring matches bit-for-bit)
    return f"""
WITH act AS (SELECT DISTINCT user_id,
                    CAST(floor(CAST(epoch(ts) AS DOUBLE) / {p}) AS BIGINT) AS pd
             FROM events),
coh AS (SELECT user_id, pd, min(pd) OVER (PARTITION BY user_id) AS cohort FROM act)
SELECT CAST(cohort AS BIGINT) AS cohort,
       CAST(pd - cohort AS BIGINT) AS offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM coh GROUP BY 1, 2
"""


def q_events_transitions(spark, sf_dir):
    """First-order event-transition matrix (Markov next-action counts):
    one lead() window on the user key, one map-side-combinable aggregate;
    ties broken by event_id so counts are parallelism-independent."""
    from .operators.sessions import transition_counts

    (events,) = _load(spark, sf_dir, "events")
    return transition_counts(events)


def _oracle_events_transitions():
    return """
WITH nxt AS (SELECT event_type AS from_type,
                    lead(event_type) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS to_type
             FROM events)
SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
FROM nxt WHERE to_type IS NOT NULL GROUP BY 1, 2
"""


FUNNEL_STEPS = ("view", "click", "purchase")
FUNNEL_WINDOW_S = 3 * 86400


def q_events_funnel(spark, sf_dir):
    """Ordered-sequence funnel (view -> click -> purchase within 3 days of
    the first view): ONE shuffle on the user key, greedy scan as a native
    SQL aggregate lambda over the per-user sorted event array — no Python,
    no per-step join. The oracle replays the INDEPENDENT relational
    formulation (nested per-step minima), so the scan's greedy semantics
    are checked against a different algorithm, not a replay of itself."""
    from .operators.sessions import funnel, funnel_counts

    (events,) = _load(spark, sf_dir, "events")
    depths = funnel(
        events, list(FUNNEL_STEPS), window_s=FUNNEL_WINDOW_S
    )
    return funnel_counts(depths).select(
        F.col("depth").cast("int").alias("depth"),
        F.col("n_users").cast("long").alias("n_users"),
    )


def _oracle_events_funnel():
    s1, s2, s3 = FUNNEL_STEPS
    w = FUNNEL_WINDOW_S
    return f"""
WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep, event_type
           FROM events WHERE event_type IN ('{s1}', '{s2}', '{s3}')),
f1 AS (SELECT user_id, min(ep) AS t1 FROM e WHERE event_type = '{s1}' GROUP BY 1),
f2 AS (SELECT e.user_id, min(ep) AS t2 FROM e JOIN f1 USING (user_id)
       WHERE event_type = '{s2}' AND ep > t1 AND ep <= t1 + {w} GROUP BY 1),
f3 AS (SELECT e.user_id, min(ep) AS t3 FROM e JOIN f2 USING (user_id) JOIN f1 USING (user_id)
       WHERE event_type = '{s3}' AND ep > t2 AND ep <= t1 + {w} GROUP BY 1),
u AS (SELECT DISTINCT user_id FROM e),
d AS (SELECT u.user_id,
             CASE WHEN f3.user_id IS NOT NULL THEN 3
                  WHEN f2.user_id IS NOT NULL THEN 2
                  WHEN f1.user_id IS NOT NULL THEN 1
                  ELSE 0 END AS depth
      FROM u
      LEFT JOIN f1 ON u.user_id = f1.user_id
      LEFT JOIN f2 ON u.user_id = f2.user_id
      LEFT JOIN f3 ON u.user_id = f3.user_id)
SELECT CAST(depth AS INT) AS depth, CAST(count(*) AS BIGINT) AS n_users
FROM d GROUP BY 1
"""


def _oracle_events_sessionize():
    return f"""
WITH e AS (SELECT user_id, ts, event_id,
                  CAST(floor(epoch(ts)) AS BIGINT) AS ep FROM events),
g AS (SELECT user_id, ts, event_id, ep,
             CASE WHEN lag(ep) OVER w IS NULL OR ep - lag(ep) OVER w > {SESSION_GAP_S}
                  THEN 1 ELSE 0 END AS nw
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (SELECT user_id, ep,
             sum(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      FROM g)
SELECT CAST(user_id AS BIGINT) AS user_id, CAST(session_idx AS BIGINT) AS session_idx,
       min(ep) AS start_s, max(ep) AS end_s,
       CAST(count(*) AS BIGINT) AS n_events, max(ep) - min(ep) AS duration_s
FROM s GROUP BY 1, 2
"""


# =============================================================================
# Embeddings / similarity
# =============================================================================

ANN_NQ = 5
ANN_K = 10


def q_embed_norms(spark, sf_dir):
    from .operators.similarity import _norm_expr

    (emb,) = _load(spark, sf_dir, "embeddings")
    return emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.round(F.expr(_norm_expr("embedding")), 4).alias("norm"),
    )


def _oracle_embed_norms():
    return """
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))), 4) AS norm
FROM embeddings
"""


GJ_HALF = 0.75  # half-size of the per-event box geometries (degrees)


def _event_box_geoms(pts, half: float = GJ_HALF):
    """WKB box geometry per row (batched construction) — the non-point-row
    fixture for the XZ2/XZ3/table-join entries."""

    @F.pandas_udf("binary")
    def box_wkb(lon: pd.Series, lat: pd.Series) -> pd.Series:
        # fully batched WKB construction (same 93-byte LE polygon layout as
        # core.geometry.to_wkb for a 5-point box ring): header bytes tiled,
        # coordinates written through one (n, 10) float64 view
        import struct

        lo = lon.to_numpy(dtype=np.float64)
        la = lat.to_numpy(dtype=np.float64)
        n = len(lo)
        x0, y0 = lo - half, la - half
        x1, y1 = lo + half, la + half
        coords = np.empty((n, 10), dtype="<f8")
        coords[:, 0::2] = np.column_stack([x0, x1, x1, x0, x0])
        coords[:, 1::2] = np.column_stack([y0, y0, y1, y1, y0])
        header = np.frombuffer(
            b"\x01" + struct.pack("<III", 3, 1, 5), dtype=np.uint8
        )
        buf = np.empty((n, 13 + 80), dtype=np.uint8)
        buf[:, :13] = header
        buf[:, 13:] = coords.view(np.uint8)
        return pd.Series([row.tobytes() for row in buf])

    return pts.withColumn(
        "geom",
        box_wkb(F.col("lon").cast("double"), F.col("lat").cast("double")),
    )


GJT_HALF = 6.0  # nation-box half-size for the table-to-table join entry
NATION_LON = "(cast((n_nationkey * 2654435761) % 3600000 as double) / 10000.0 - 180.0)"
NATION_LAT = "(cast((n_nationkey * 40503) % 1800000 as double) / 10000.0 - 90.0)"


def q_geo_geom_join_tables(spark, sf_dir):
    """Two-relation geometry join (both sides DataFrames of WKB — no driver
    polygon dict): event boxes x nation boxes through the grid-partitioned
    cell join + dedup + exact refine. The oracle is the brute-force
    box-intersects join in SQL (boxes make DE-9IM intersects exactly
    expressible as coordinate comparisons)."""
    from .operators.geometry_join import geometry_join_tables

    left = _event_box_geoms(_points(spark, sf_dir)).select("event_id", "geom")
    (nation,) = _load(spark, sf_dir, "nation")
    nb = nation.select(
        # the raw (int32) key is intentionally NOT cast: the bbox-keys
        # Arrow stage emits against its declared schema, so native dtypes
        # work — this entry exercises that path through the driver gate
        "n_nationkey",
        F.expr(NATION_LON).cast("double").alias("lon"),
        F.expr(NATION_LAT).cast("double").alias("lat"),
    )
    right = _event_box_geoms(nb, half=GJT_HALF).select("n_nationkey", "geom")
    pairs = geometry_join_tables(
        left, right, left_id="event_id", right_id="n_nationkey"
    )
    return pairs.groupBy("n_nationkey").agg(
        F.count("*").cast("long").alias("n_pairs")
    ).select(F.col("n_nationkey").cast("long").alias("n_nationkey"), "n_pairs")


def _oracle_geo_geom_join_tables():
    h, g = GJT_HALF, GJ_HALF
    return f"""
WITH pts AS (SELECT event_id, {LON_SQL} AS lon, {LAT_SQL} AS lat FROM events),
nb AS (SELECT n_nationkey, {NATION_LON} AS nlon, {NATION_LAT} AS nlat FROM nation)
SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, CAST(count(*) AS BIGINT) AS n_pairs
FROM pts JOIN nb
  ON lon + {g} >= nlon - {h} AND lon - {g} <= nlon + {h}
 AND lat + {g} >= nlat - {h} AND lat - {g} <= nlat + {h}
GROUP BY 1
"""


def q_geo_geom_join(spark, sf_dir):
    """Non-point geometry join (XZ analog): every event becomes a small BOX
    geometry around its point; join boxes to region polygons by intersects."""
    from .operators.geometry_join import geometry_join

    geoms = _event_box_geoms(_points(spark, sf_dir)).select(
        "event_id", "value", "geom"
    )
    polys = {pid: _box_wkt(b) for pid, b in BOXES.items()}
    out = geometry_join(geoms, polys, geom_col="geom", row_id="event_id")
    return out.groupBy("poly_id").agg(
        F.count("*").alias("n_geoms"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def _oracle_geo_geom_join():
    vals = ", ".join(
        f"('{pid}', {x0}, {y0}, {x1}, {y1})" for pid, (x0, y0, x1, y1) in BOXES.items()
    )
    h = GJ_HALF
    return f"""
WITH pts AS (SELECT event_id, value, {LON_SQL} AS lon, {LAT_SQL} AS lat FROM events),
boxes(poly_id, x0, y0, x1, y1) AS (VALUES {vals})
SELECT poly_id, CAST(count(*) AS BIGINT) AS n_geoms, round(sum(value), 4) AS sum_value
FROM pts JOIN boxes
  ON (lon + {h}) >= x0 AND (lon - {h}) <= x1 AND (lat + {h}) >= y0 AND (lat - {h}) <= y1
GROUP BY poly_id
"""


WS_SITE = (2.35, 48.85)      # Paris
WS_RADIUS = 1_200_000.0


def q_geo_where_spatial(spark, sf_dir):
    """Facade path end-to-end (Engine.where_spatial — the SQLRules analog):
    one predicate string mixing a bbox st_intersects form, an st_dwithin
    form, and a residual native conjunct; every spatial conjunct must be
    rewritten to index-backed operators (zero row-at-a-time predicate
    evaluation) and the result must equal the plain-SQL semantics."""
    from .engine import Engine

    x0, y0, x1, y1 = BOXES["b_eu"]
    pred = (
        f"st_intersects(st_makeBBOX({x0}, {y0}, {x1}, {y1}), "
        f"st_makePoint(lon, lat)) AND "
        f"st_dwithin(st_geomFromWKT('POINT({WS_SITE[0]} {WS_SITE[1]})'), "
        f"st_makePoint(lon, lat), {WS_RADIUS}) AND value > 0.25"
    )
    out = Engine(spark).where_spatial(_points(spark, sf_dir), pred)
    return out.agg(
        F.count("*").alias("n_points"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def _oracle_geo_where_spatial():
    from .operators.proximity import haversine_sql

    x0, y0, x1, y1 = BOXES["b_eu"]
    dist = haversine_sql(str(WS_SITE[0]), str(WS_SITE[1]), "lon", "lat")
    return f"""
WITH pts AS (SELECT value, {LON_SQL} AS lon, {LAT_SQL} AS lat FROM events)
SELECT CAST(count(*) AS BIGINT) AS n_points, round(sum(value), 4) AS sum_value
FROM pts
WHERE lon BETWEEN {x0} AND {x1} AND lat BETWEEN {y0} AND {y1}
  AND {dist} <= {WS_RADIUS!r} AND value > 0.25
"""


def q_geo_where_geom(spark, sf_dir):
    """Facade path for WKB geometry COLUMNS (round-3 handled point columns
    only): st_intersects(geom, <literal polygon>) over the event-boxes
    fixture must route through geometry_join (the XZ path — bbox-cell
    candidates + exact DE-9IM refine), with the residual conjunct left as a
    native filter, and equal the plain-SQL box-overlap semantics."""
    from .engine import Engine

    geoms = _event_box_geoms(_points(spark, sf_dir)).select(
        "event_id", "value", "geom"
    )
    x0, y0, x1, y1 = BOXES["b_na"]
    pred = (
        f"st_intersects(geom, st_makeBBOX({x0}, {y0}, {x1}, {y1})) "
        f"AND value > 0.25"
    )
    out = Engine(spark).where_spatial(geoms, pred)
    return out.agg(
        F.count("*").alias("n_geoms"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def _oracle_geo_where_geom():
    x0, y0, x1, y1 = BOXES["b_na"]
    h = GJ_HALF
    return f"""
WITH pts AS (SELECT event_id, value, {LON_SQL} AS lon, {LAT_SQL} AS lat FROM events)
SELECT CAST(count(*) AS BIGINT) AS n_geoms, round(sum(value), 4) AS sum_value
FROM pts
WHERE (lon + {h}) >= {x0} AND (lon - {h}) <= {x1}
  AND (lat + {h}) >= {y0} AND (lat - {h}) <= {y1} AND value > 0.25
"""


GJT_WEEK = 604_800
GJT_T0 = 1_704_067_200  # 2024-01-01 (events span Jan 1-30)
GJT_WINDOWS = {
    pid: (float(GJT_T0 + i * 302_400), float(GJT_T0 + i * 302_400 + 2 * GJT_WEEK))
    for i, pid in enumerate(BOXES)
}


def q_geo_geom_join_time(spark, sf_dir):
    """Time-extended non-point geometry join (XZ3 analog): event boxes join
    region polygons only within each polygon's [t0, t1) window; the candidate
    key is (bbox cell, epoch-week bin) so out-of-window epochs are pruned by
    the join, not scanned (XZ3SFC.scala / Z3IndexKeySpace.scala:98-160)."""
    from .operators.geometry_join import geometry_join_time

    geoms = _event_box_geoms(_points(spark, sf_dir)).select(
        "event_id", "value", "geom",
        F.col("ts").cast("timestamp").cast("long").cast("double").alias("ts_s"),
    )
    polys = {pid: _box_wkt(b) for pid, b in BOXES.items()}
    out = geometry_join_time(
        geoms, polys, GJT_WINDOWS, geom_col="geom", ts="ts_s",
        row_id="event_id", period_s=GJT_WEEK,
    )
    return out.groupBy("poly_id").agg(
        F.count("*").alias("n_geoms"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def _oracle_geo_geom_join_time():
    vals = ", ".join(
        f"('{pid}', {x0}, {y0}, {x1}, {y1}, {GJT_WINDOWS[pid][0]!r}, {GJT_WINDOWS[pid][1]!r})"
        for pid, (x0, y0, x1, y1) in BOXES.items()
    )
    h = GJ_HALF
    return f"""
WITH pts AS (SELECT event_id, value, CAST(floor(epoch(ts)) AS DOUBLE) AS ts_s,
                    {LON_SQL} AS lon, {LAT_SQL} AS lat FROM events),
boxes(poly_id, x0, y0, x1, y1, t0, t1) AS (VALUES {vals})
SELECT poly_id, CAST(count(*) AS BIGINT) AS n_geoms, round(sum(value), 4) AS sum_value
FROM pts JOIN boxes
  ON (lon + {h}) >= x0 AND (lon - {h}) <= x1 AND (lat + {h}) >= y0 AND (lat - {h}) <= y1
 AND ts_s >= t0 AND ts_s < t1
GROUP BY poly_id
"""


IVF_C = 32
IVF_PROBE = 6

_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)
_NORM = "sqrt(list_sum(list_transform({c}, x -> CAST(x AS DOUBLE) * x)))"


def _cos_sql(a: str, b: str) -> str:
    return f"{_DOT.format(a=a, b=b)} / ({_NORM.format(c=a)} * {_NORM.format(c=b)})"


def _head_unit_vectors(emb, n: int) -> np.ndarray:
    """The first ``n`` embeddings by vec_id, L2-normalized: the
    deterministic head-sampled model the ANN oracles replay in SQL."""
    pdf = (
        emb.filter(F.col("vec_id") < n)
        .orderBy("vec_id")
        .select("embedding")
        .toPandas()
    )
    head = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    return head / np.maximum(np.linalg.norm(head, axis=1, keepdims=True), 1e-12)


def q_ann_ivf_udf(spark, sf_dir):
    """IVF (ivf_topk — the 100 TB scale shape: the assignment never leaves
    the map side, no N x C rows exist anywhere) with the first IVF_C
    embeddings L2-normalized as centroids, so cosine argmax, probing and
    rerank replay in SQL."""
    from .operators.similarity import ivf_topk

    (emb,) = _load(spark, sf_dir, "embeddings")
    cent = _head_unit_vectors(emb, IVF_C)
    queries = (
        emb.filter(F.col("vec_id") < ANN_NQ)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    )
    out = ivf_topk(
        emb, queries, k=ANN_K, dim=64, n_centroids=IVF_C, n_probe=IVF_PROBE,
        centroids=cent,
    )
    return out.select(
        F.col("qid").cast("long"), F.col("vec_id").cast("long"),
        F.col("rnk").cast("int"),
    )


def _oracle_ann_ivf():
    """DuckDB replays the ENTIRE IVF pipeline (deterministic head-sampled
    quantizer, argmax assignment, n_probe lists, exact rerank) — the driver
    hash therefore verifies the approximate operator itself, not merely an
    exact stand-in."""
    return f"""
WITH cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < {IVF_C}),
a AS (SELECT e.vec_id, c.cid, {_cos_sql('e.embedding', 'c.cvec')} AS sim
      FROM embeddings e CROSS JOIN cent c),
assign AS (SELECT vec_id, cid AS list FROM (
    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS r
    FROM a) WHERE r = 1),
q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < {ANN_NQ}),
qs AS (SELECT q.qid, c.cid, {_cos_sql('q.qvec', 'c.cvec')} AS sim FROM q CROSS JOIN cent c),
probes AS (SELECT qid, cid FROM (
    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS r
    FROM qs) WHERE r <= {IVF_PROBE}),
cand AS (SELECT p.qid, s.vec_id FROM probes p JOIN assign s ON s.list = p.cid
         WHERE s.vec_id <> p.qid),
rs AS (SELECT cand.qid, cand.vec_id, {_cos_sql('e.embedding', 'q.qvec')} AS sim
       FROM cand JOIN embeddings e ON e.vec_id = cand.vec_id
       JOIN q ON q.qid = cand.qid),
r AS (SELECT qid, vec_id,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS INTEGER) AS rnk
      FROM rs)
SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id, rnk
FROM r WHERE rnk <= {ANN_K}
"""


PQ_M = 8
PQ_KSUB = 32
PQ_RERANK = 30


def q_ann_pq(spark, sf_dir):
    """IVF-PQ (pq_topk: list-assign and encode UDFs, broadcast-LUT ADC over
    m-byte codes, exact rerank of the ADC top-PQ_RERANK) with a
    deterministic head-sampled model: the first PQ_KSUB unit embeddings,
    split into PQ_M subspaces, are the codebooks, and the first IVF_C are
    the coarse centroids. The DuckDB oracle replays the ENTIRE pipeline —
    encode, reconstruction, ADC, probing, rerank — so the driver hash
    verifies the product-quantization operator itself."""
    from .operators.similarity import pq_topk

    (emb,) = _load(spark, sf_dir, "embeddings")
    head = _head_unit_vectors(emb, max(PQ_KSUB, IVF_C))
    dsub = 64 // PQ_M
    books = head[:PQ_KSUB].reshape(PQ_KSUB, PQ_M, dsub).transpose(1, 0, 2)
    queries = (
        emb.filter(F.col("vec_id") < ANN_NQ)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    )
    out = pq_topk(
        emb, queries, k=ANN_K, dim=64, m=PQ_M, ksub=PQ_KSUB,
        n_centroids=IVF_C, n_probe=IVF_PROBE, rerank=PQ_RERANK,
        codebooks=books, centroids=head[:IVF_C],
    )
    return out.select(
        F.col("qid").cast("long"), F.col("vec_id").cast("long"),
        F.col("rnk").cast("int"),
    )


def _oracle_ann_pq():
    """DuckDB replays the native IVF-PQ pipeline end to end: per-subspace
    argmin encode against the head-sampled codebook (row_number with the
    min_by tie order), reconstruction via list(... ORDER BY j) + flatten
    (the array_sort(collect_list) twin), row-wise ADC dot, probe routing,
    exact-cosine rerank. Slices are 1-based inclusive on both engines
    (Spark slice(arr, start, len) == DuckDB arr[start : start+len-1])."""
    dsub = 64 // PQ_M
    dot = "list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))"
    nv = (
        "list_transform(embedding, x -> CAST(x AS DOUBLE) / "
        "sqrt(list_sum(list_transform(embedding, "
        "y -> CAST(y AS DOUBLE) * y))))"
    )
    return f"""
WITH base AS (SELECT vec_id, embedding, {nv} AS nv FROM embeddings),
js AS (SELECT unnest(range({PQ_M})) AS j),
cb AS (SELECT b.vec_id AS c, js.j,
              b.nv[js.j * {dsub} + 1 : (js.j + 1) * {dsub}] AS cbv
       FROM base b CROSS JOIN js WHERE b.vec_id < {PQ_KSUB}),
vsub AS (SELECT b.vec_id, js.j,
                b.nv[js.j * {dsub} + 1 : (js.j + 1) * {dsub}] AS vs
         FROM base b CROSS JOIN js),
enc AS (SELECT vec_id, j, cbv FROM (
    SELECT v.vec_id, v.j, cb.cbv,
           row_number() OVER (PARTITION BY v.vec_id, v.j
               ORDER BY ({dot.format(a='v.vs', b='cb.cbv')}
                         - 0.5 * {dot.format(a='cb.cbv', b='cb.cbv')}) DESC,
                        cb.c ASC) AS r
    FROM vsub v JOIN cb ON cb.j = v.j) WHERE r = 1),
rec AS (SELECT vec_id, flatten(list(cbv ORDER BY j)) AS rv
        FROM enc GROUP BY vec_id),
cent AS (SELECT vec_id AS cid, nv AS cv FROM base WHERE vec_id < {IVF_C}),
assign AS (SELECT vec_id, cid AS list FROM (
    SELECT b.vec_id, c.cid,
           row_number() OVER (PARTITION BY b.vec_id
               ORDER BY {dot.format(a='b.nv', b='c.cv')} DESC, c.cid ASC) AS r
    FROM base b CROSS JOIN cent c) WHERE r = 1),
q AS (SELECT vec_id AS qid, embedding AS qvec, nv AS qn
      FROM base WHERE vec_id < {ANN_NQ}),
probes AS (SELECT qid, cid FROM (
    SELECT q.qid, c.cid,
           row_number() OVER (PARTITION BY q.qid
               ORDER BY {dot.format(a='q.qn', b='c.cv')} DESC, c.cid ASC) AS r
    FROM q CROSS JOIN cent c) WHERE r <= {IVF_PROBE}),
cand AS (SELECT p.qid, a.vec_id FROM probes p
         JOIN assign a ON a.list = p.cid WHERE a.vec_id <> p.qid),
adc AS (SELECT cand.qid, cand.vec_id,
               {dot.format(a='rec.rv', b='list_transform(q.qvec, x -> CAST(x AS DOUBLE))')} AS s
        FROM cand JOIN rec ON rec.vec_id = cand.vec_id
        JOIN q ON q.qid = cand.qid),
surv AS (SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY s DESC, vec_id ASC) AS r
    FROM adc) WHERE r <= {PQ_RERANK}),
rs AS (SELECT surv.qid, surv.vec_id,
              {_cos_sql('e.embedding', 'q.qvec')} AS sim
       FROM surv JOIN embeddings e ON e.vec_id = surv.vec_id
       JOIN q ON q.qid = surv.qid),
r AS (SELECT qid, vec_id,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS INTEGER) AS rnk
      FROM rs)
SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id, rnk
FROM r WHERE rnk <= {ANN_K}
"""


NEARDUP_TAU = 0.35  # synthetic embeddings: ~99.9th pctile of pair cosine


NEARDUP_PLANES = 6
NEARDUP_TABLES = 8


def q_embed_neardup(spark, sf_dir):
    """Embedding near-dup pairs through the LSH SCALE PATH (not the exact
    cross join): multi-table sign-plane buckets -> candidate pairs -> exact
    cosine refine. The oracle replays the identical bucket pipeline, so the
    driver verifies the approximate operator itself."""
    from .operators.similarity import embedding_neardup_pairs

    (emb,) = _load(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(
        emb, NEARDUP_TAU, dim=64, n_planes=NEARDUP_PLANES,
        n_tables=NEARDUP_TABLES, exact=False,
    ).select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"), "sim"
    )


def q_embed_neardup_exact(spark, sf_dir):
    """The exact O(N^2) all-pairs baseline the LSH path approximates."""
    from .operators.similarity import embedding_neardup_pairs

    (emb,) = _load(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(
        emb, NEARDUP_TAU, dim=64, exact=True
    ).select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"), "sim"
    )


def _oracle_embed_neardup_lsh():
    """Replays the LSH near-dup pipeline: regenerated sign planes -> per-table
    buckets -> distinct candidate pairs -> exact cosine refine at the
    threshold."""
    dot = (
        "list_sum(list_transform(list_zip(ea.embedding, eb.embedding), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )
    norm = "sqrt(list_sum(list_transform({c}, x -> CAST(x AS DOUBLE) * x)))"
    na, nb = norm.format(c="ea.embedding"), norm.format(c="eb.embedding")
    return f"""
WITH {_lsh_bucket_ctes(NEARDUP_TABLES, NEARDUP_PLANES)},
cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM bk a JOIN bk b ON a.t = b.t AND a.b = b.b AND a.vec_id < b.vec_id),
rs AS (SELECT cand.id_a, cand.id_b, round({dot} / ({na} * {nb}), 6) AS sim
       FROM cand JOIN embeddings ea ON ea.vec_id = cand.id_a
       JOIN embeddings eb ON eb.vec_id = cand.id_b)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, sim
FROM rs WHERE sim >= {NEARDUP_TAU}
"""


def _oracle_embed_neardup():
    dot = (
        "list_sum(list_transform(list_zip(a.embedding, b.embedding), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )
    norm = "sqrt(list_sum(list_transform({c}, x -> CAST(x AS DOUBLE) * x)))"
    return f"""
SELECT CAST(a.vec_id AS BIGINT) AS id_a, CAST(b.vec_id AS BIGINT) AS id_b,
       round({dot} / ({norm.format(c='a.embedding')} * {norm.format(c='b.embedding')}), 6) AS sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round({dot} / ({norm.format(c='a.embedding')} * {norm.format(c='b.embedding')}), 6) >= {NEARDUP_TAU}
"""


def q_ann_cosine(spark, sf_dir):
    from .operators.similarity import _dot_expr, _norm_expr

    (emb,) = _load(spark, sf_dir, "embeddings")
    queries = (
        emb.filter(F.col("vec_id") < ANN_NQ)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    )
    cand = emb.crossJoin(F.broadcast(queries)).filter(F.col("vec_id") != F.col("qid"))
    sim = F.round(
        F.expr(_dot_expr("embedding", "qvec"))
        / (F.expr(_norm_expr("embedding")) * F.expr(_norm_expr("qvec"))),
        6,
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("vec_id").asc())
    return (
        cand.withColumn("sim", sim)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= ANN_K)
        .select(
            F.col("qid").cast("long"),
            F.col("vec_id").cast("long"),
            F.col("rnk").cast("int"),
        )
    )


def _oracle_ann_cosine():
    dot = (
        "list_sum(list_transform(list_zip(e.embedding, q.qvec), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )
    norm = "sqrt(list_sum(list_transform({c}, x -> CAST(x AS DOUBLE) * x)))"
    ne = norm.format(c="e.embedding")
    nq = norm.format(c="q.qvec")
    return f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < {ANN_NQ}),
d AS (
  SELECT q.qid, e.vec_id, round({dot} / ({ne} * {nq}), 6) AS sim
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid
),
r AS (SELECT qid, vec_id,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS INTEGER) AS rnk
      FROM d)
SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id, rnk FROM r WHERE rnk <= {ANN_K}
"""


# =============================================================================
# Rows-only entries (non-SQL-expressible: LSH dedup, image ops)
# =============================================================================

MINHASH_TAU = 0.5
SHINGLE_N = 5


def q_minhash_pairs(spark, sf_dir):
    """MinHash-LSH near-dup pairs with CERTIFIED recall for the oracle gate:
    bands == num_hashes (1 row/band) makes the miss probability at the
    threshold (1 - tau)^64 <= 5e-20, so the emitted exact-verified pair set
    equals the true all-pairs answer the SQL oracle brute-forces. The banded
    (rows-per-band > 1) setting remains the cheap production default."""
    from .operators.dedup import minhash_lsh_pairs

    (docs,) = _load(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, num_hashes=64, bands=64, shingle_n=SHINGLE_N,
        jaccard_threshold=MINHASH_TAU,
    ).select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"), "jaccard"
    )


def _oracle_minhash_pairs():
    n = SHINGLE_N
    return f"""
WITH t AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS tt FROM documents),
sh AS (SELECT DISTINCT doc_id, substr(tt, i, {n}) AS s
       FROM (SELECT doc_id, tt, unnest(range(1, greatest(length(tt) - {n - 2}, 2))) AS i FROM t)),
sz AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
j AS (SELECT id_a, id_b, CAST(i AS DOUBLE) / (ca.c + cb.c - i) AS jaccard
      FROM inter JOIN sz ca ON ca.doc_id = id_a JOIN sz cb ON cb.doc_id = id_b)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       round(jaccard, 6) AS jaccard
FROM j WHERE jaccard >= {MINHASH_TAU}
"""


MINHASH_BANDS = 16  # production banding: r = 64/16 = 4 rows per band


def q_minhash_pairs_banded(spark, sf_dir):
    """MinHash-LSH with the PRODUCTION banding (num_hashes=64, bands=16,
    r=4) — the configuration a real corpus runs, driver-verified: the DuckDB
    oracle replays signature -> banding -> candidates -> exact Jaccard, so
    the hash checks the approximate pipeline itself (banding misses at the
    threshold are part of the contract on BOTH sides: P(candidate | J) =
    1 - (1 - J^4)^16, e.g. 0.64 at J=0.5, 0.9986 at J=0.8).

    Candidate-volume bound (why r>=2 is the scale config): bucket keys are
    r-minhash TUPLES, so P(two docs share a bucket) = J^r per band; expected
    candidate volume is sum over bands of sum(bucket_size^2), which shrinks
    multiplicatively in r — on the sf0.1 corpus the largest r=4 bucket holds
    <1% of docs where the r=1 certified config collapsed 78% into one bucket
    (dedup.py:141-148)."""
    from .operators.dedup import minhash_lsh_pairs

    (docs,) = _load(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, num_hashes=64, bands=MINHASH_BANDS, shingle_n=SHINGLE_N,
        jaccard_threshold=MINHASH_TAU,
    ).select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"), "jaccard"
    )


def _minhash_ab(num_hashes: int = 64):
    """The EXACT (a, b) coefficient streams of dedup.minhash_signature_udf
    (same generator, same seed, same draw order)."""
    from .operators.dedup import _HASH_PRIME

    rng = np.random.default_rng(42)
    a = rng.integers(1, _HASH_PRIME, num_hashes, dtype=np.int64)
    b = rng.integers(0, _HASH_PRIME, num_hashes, dtype=np.int64)
    return a, b


def _oracle_minhash_pairs_banded():
    """Replays the banded pipeline in SQL: poly31 shingle hashes ->
    per-function (a*x + b) wrapped EXACTLY like the engine's uint64 numpy
    ((a*x mod 2^64 + b) mod 2^64 mod p; products fit HUGEINT: < 2^93) ->
    min per hash function -> r-tuple band keys (the engine buckets on
    xxhash64 of the same comma-joined tuple — equality of tuples is equality
    of buckets) -> distinct candidate pairs -> exact shingle Jaccard."""
    from .operators.dedup import _HASH_PRIME

    n = SHINGLE_N
    r = 64 // MINHASH_BANDS
    a, b = _minhash_ab(64)
    ab_vals = ", ".join(
        f"({k}, {int(a[k])}, {int(b[k])})" for k in range(64)
    )
    m64 = 1 << 64
    # length-aware poly31 (mirrors _char_shingles' whole-string short branch)
    p31 = [31 ** i for i in range(n)]
    u = lambda k: f"unicode(substr(s,{k},1))"  # noqa: E731
    cases = []
    for ln in range(n, 0, -1):
        terms = " + ".join(f"{u(k + 1)}*{p31[ln - 1 - k]}" for k in range(ln))
        cases.append(f"WHEN {ln} THEN {terms}")
    h_expr = f"(CASE length(s) {' '.join(cases)} ELSE 0 END) % 4294967296"
    return f"""
WITH t AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS tt FROM documents),
sh AS (SELECT DISTINCT doc_id, substr(tt, i, {n}) AS s
       FROM (SELECT doc_id, tt, unnest(range(1, greatest(length(tt) - {n - 2}, 2))) AS i FROM t)),
h32 AS (SELECT doc_id, {h_expr} AS h FROM sh),
ab(k, av, bv) AS (VALUES {ab_vals}),
sig AS (SELECT doc_id, k,
               min(CAST(((CAST(av AS HUGEINT) * h) % {m64} + bv) % {m64} % {_HASH_PRIME} AS BIGINT)) AS mh
        FROM h32 CROSS JOIN ab GROUP BY 1, 2),
bands AS (SELECT doc_id, CAST(k // {r} AS INTEGER) AS band,
                 string_agg(CAST(mh AS VARCHAR), ',' ORDER BY k) AS bk
          FROM sig GROUP BY 1, 2),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id),
sz AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
inter AS (SELECT c.id_a, c.id_b, count(*) AS i
          FROM cand c JOIN sh a ON a.doc_id = c.id_a
          JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
          GROUP BY 1, 2),
j AS (SELECT id_a, id_b, CAST(i AS DOUBLE) / (ca.c + cb.c - i) AS jaccard
      FROM inter JOIN sz ca ON ca.doc_id = id_a JOIN sz cb ON cb.doc_id = id_b)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       round(jaccard, 6) AS jaccard
FROM j WHERE jaccard >= {MINHASH_TAU}
"""


SIMHASH_MAX_HAMMING = 3  # banding into max_hamming+1 chunks => exact recall


def q_simhash_pairs(spark, sf_dir):
    from .operators.dedup import simhash_pairs

    (docs,) = _load(spark, sf_dir, "documents")
    return simhash_pairs(docs, max_hamming=SIMHASH_MAX_HAMMING).select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"), "hamming"
    )


def _oracle_simhash_pairs():
    """DuckDB recomputes the 64-bit SimHash BIT-FOR-BIT from raw text (char
    4-grams -> poly31 mod 2^32 -> splitmix64 -> per-bit majority), then
    brute-forces all-pairs hamming. The 64x64 splitmix multiplies are split
    into 32-bit halves because a full product overflows signed INT128."""
    c1, c2, c3 = 0x9E3779B97F4A7C15, 0xBF58476D1CE4E5B9, 0x94D049BB133111EB
    m = 1 << 64

    def mulmod(x, c):
        return (
            f"((((CAST({x} AS HUGEINT) % 4294967296) * {c}) + "
            f"(((CAST({x} AS HUGEINT) // 4294967296) * {c}) % 4294967296) * 4294967296) % {m})"
        )

    return f"""
WITH t AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS tt FROM documents),
sh AS (SELECT DISTINCT doc_id, substr(tt, i, 4) AS s
       FROM (SELECT doc_id, tt, unnest(range(1, greatest(length(tt) - 2, 2))) AS i FROM t)),
h32 AS (SELECT doc_id,
        (CASE length(s)
           WHEN 4 THEN unicode(substr(s,1,1))*29791 + unicode(substr(s,2,1))*961
                       + unicode(substr(s,3,1))*31 + unicode(substr(s,4,1))
           WHEN 3 THEN unicode(substr(s,1,1))*961 + unicode(substr(s,2,1))*31
                       + unicode(substr(s,3,1))
           WHEN 2 THEN unicode(substr(s,1,1))*31 + unicode(substr(s,2,1))
           WHEN 1 THEN unicode(substr(s,1,1))
           ELSE 0 END) % 4294967296 AS h
        FROM sh),
s1 AS (SELECT doc_id, CAST((CAST(h AS HUGEINT) + {c1}) % {m} AS UBIGINT) AS x FROM h32),
s2 AS (SELECT doc_id, CAST({mulmod('xor(x, x >> 30)', c2)} AS UBIGINT) AS x FROM s1),
s3 AS (SELECT doc_id, CAST({mulmod('xor(x, x >> 27)', c3)} AS UBIGINT) AS x FROM s2),
hx AS (SELECT doc_id, xor(x, x >> 31) AS x FROM s3),
nsh AS (SELECT doc_id, count(*) AS n FROM hx GROUP BY 1),
bits AS (SELECT doc_id, b, CAST((x >> CAST(b AS INTEGER)) % 2 AS BIGINT) AS bit
         FROM hx, (SELECT unnest(range(0, 64)) AS b) bs),
db AS (SELECT bits.doc_id, b, CASE WHEN 2 * sum(bit) >= max(n) THEN 1 ELSE 0 END AS bv
       FROM bits JOIN nsh ON nsh.doc_id = bits.doc_id GROUP BY 1, 2),
pair AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                sum(CASE WHEN a.bv <> b.bv THEN 1 ELSE 0 END) AS hamming
         FROM db a JOIN db b ON a.b = b.b AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(hamming AS BIGINT) AS hamming
FROM pair WHERE hamming <= {SIMHASH_MAX_HAMMING}
"""


LSH_PLANES = 6
LSH_TABLES = 4


def q_ann_lsh(spark, sf_dir):
    from .operators.similarity import lsh_topk

    (emb,) = _load(spark, sf_dir, "embeddings")
    queries = (
        emb.filter(F.col("vec_id") < ANN_NQ)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    )
    out = lsh_topk(
        emb, queries, k=ANN_K, dim=64, n_planes=LSH_PLANES, n_tables=LSH_TABLES
    )
    return out.select(
        F.col("qid").cast("long"), F.col("vec_id").cast("long"),
        F.col("rnk").cast("int"),
    )


def _lsh_bucket_ctes(n_tables: int, n_planes: int) -> str:
    """CTE chain reproducing similarity.sign_planes + hyperplane buckets in
    SQL: ... -> bk(vec_id, t, b). Shared by the ann_lsh and embed_neardup
    oracles."""
    c1, c2, c3 = 0x9E3779B97F4A7C15, 0xBF58476D1CE4E5B9, 0x94D049BB133111EB
    m = 1 << 64

    def mulmod(x, c):
        return (
            f"((((CAST({x} AS HUGEINT) % 4294967296) * {c}) + "
            f"(((CAST({x} AS HUGEINT) // 4294967296) * {c}) % 4294967296) * 4294967296) % {m})"
        )

    return f"""seeds AS (
  SELECT t, j, d, CAST(t * 1048576 + j * 1024 + d AS BIGINT) AS seed
  FROM (SELECT unnest(range({n_tables})) AS t) tt,
       (SELECT unnest(range({n_planes})) AS j) jj,
       (SELECT unnest(range(64)) AS d) dd),
m1 AS (SELECT t, j, d, CAST((CAST(seed AS HUGEINT) + {c1}) % {m} AS UBIGINT) AS x FROM seeds),
m2 AS (SELECT t, j, d, CAST({mulmod('xor(x, x >> 30)', c2)} AS UBIGINT) AS x FROM m1),
m3 AS (SELECT t, j, d, CAST({mulmod('xor(x, x >> 27)', c3)} AS UBIGINT) AS x FROM m2),
pl AS (SELECT t, j, d,
              CASE WHEN xor(x, x >> 31) % 2 = 1 THEN 1.0 ELSE -1.0 END AS s
       FROM m3),
ev AS (SELECT vec_id, d, CAST(embedding[CAST(d + 1 AS INTEGER)] AS DOUBLE) AS val
       FROM embeddings, (SELECT unnest(range(64)) AS d) dd),
dots AS (SELECT ev.vec_id, pl.t, pl.j, sum(ev.val * pl.s) AS dp
         FROM ev JOIN pl ON pl.d = ev.d GROUP BY 1, 2, 3),
bk AS (SELECT vec_id, t,
              sum(CASE WHEN dp > 0 THEN CAST(1 AS BIGINT) << CAST(j AS INTEGER)
                       ELSE 0 END) AS b
       FROM dots GROUP BY 1, 2)"""


def _oracle_ann_lsh():
    """DuckDB regenerates the deterministic ±1 hyperplanes (bit 0 of
    splitmix64(t*2^20 + j*2^10 + d)), buckets both sides, and replays the
    bucket-join + exact rerank — verifying the LSH path itself."""
    return f"""
WITH {_lsh_bucket_ctes(LSH_TABLES, LSH_PLANES)},
qb AS (SELECT vec_id AS qid, t, b FROM bk WHERE vec_id < {ANN_NQ}),
cand AS (SELECT DISTINCT qb.qid, v.vec_id
         FROM qb JOIN bk v ON v.t = qb.t AND v.b = qb.b
         WHERE v.vec_id <> qb.qid),
q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < {ANN_NQ}),
rs AS (SELECT cand.qid, cand.vec_id, {_cos_sql('e.embedding', 'q.qvec')} AS sim
       FROM cand JOIN embeddings e ON e.vec_id = cand.vec_id
       JOIN q ON q.qid = cand.qid),
r AS (SELECT qid, vec_id,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS INTEGER) AS rnk
      FROM rs)
SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id, rnk
FROM r WHERE rnk <= {ANN_K}
"""


HULL_SUBSET = 67  # event_id stride: ~150 pts at sf0.01 (O(N^3) SQL oracle)


def q_geo_convex_hull(spark, sf_dir):
    """Per-group convex hull as its corner-vertex set (two-phase UDAF analog,
    ConvexHull.scala:16-51). Emitting vertices (not WKT) makes the exact SQL
    oracle expressible: p is a hull corner iff some directed line (p -> q)
    has every other point strictly left or collinear-ahead."""
    from .operators.hull import convex_hull_vertices

    pts = _points(spark, sf_dir).filter(F.col("event_id") % HULL_SUBSET == 0)
    return convex_hull_vertices(pts, by="event_type")


def _oracle_geo_convex_hull():
    cross = "((qx - px) * (r.lat - py) - (qy - py) * (r.lon - px))"
    dot = "((r.lon - px) * (qx - px) + (r.lat - py) * (qy - py))"
    return f"""
WITH pts AS (
  SELECT DISTINCT event_type, {LON_SQL} AS lon, {LAT_SQL} AS lat
  FROM events WHERE event_id % {HULL_SUBSET} = 0
),
pq AS (
  SELECT a.event_type, a.lon AS px, a.lat AS py, b.lon AS qx, b.lat AS qy
  FROM pts a JOIN pts b
    ON a.event_type = b.event_type AND (a.lon <> b.lon OR a.lat <> b.lat)
),
corners AS (
  SELECT DISTINCT event_type, px, py FROM pq
  WHERE NOT EXISTS (
    SELECT 1 FROM pts r
    WHERE r.event_type = pq.event_type
      AND (r.lon <> pq.px OR r.lat <> pq.py)
      AND NOT ({cross} > 0 OR ({cross} = 0 AND {dot} > 0))
  )
)
SELECT event_type, px AS lon, py AS lat FROM corners
"""


TUBE_T0 = 1704067200  # 2024-01-01
TUBE_BUFFER_M = 2_000_000.0


def _tube_track() -> pd.DataFrame:
    """4-week eastbound track across the events' Jan-2024 window."""
    return pd.DataFrame(
        {
            "lon": np.linspace(-74.0, 139.0, 28),
            "lat": np.linspace(40.7, 35.7, 28),
            "ts_s": TUBE_T0 + np.arange(28) * 86400.0,
        }
    )


def q_geo_tube_select(spark, sf_dir):
    from .operators.tracks import tube_select

    pts = _points(spark, sf_dir)
    pts = pts.withColumn("ts_s", F.col("ts").cast("timestamp").cast("long"))
    out = tube_select(pts, _tube_track(), buffer_m=TUBE_BUFFER_M, ts="ts_s")
    return out.groupBy("seg_id").agg(
        F.count("*").alias("n"),
        F.round(F.avg("tube_dist_m"), 3).alias("avg_dist_m"),
    )


def _oracle_geo_tube_select():
    from .operators.tracks import track_segments, tube_interp_dist_sql

    segs = track_segments(_tube_track(), "lon", "lat", "ts_s")
    last = len(segs) - 1
    vals = ", ".join(
        f"({int(r.seg_id)}, {r.t0!r}, {r.t1!r}, {r.lon0!r}, {r.lat0!r}, "
        f"{r.lon1!r}, {r.lat1!r})"
        for r in segs.itertuples(index=False)
    )
    dist = tube_interp_dist_sql("ts_s", "lon", "lat")
    return f"""
WITH pts AS (SELECT CAST(floor(epoch(ts)) AS DOUBLE) AS ts_s, {LON_SQL} AS lon, {LAT_SQL} AS lat FROM events),
segs(seg_id, t0, t1, lon0, lat0, lon1, lat1) AS (VALUES {vals}),
j AS (
  SELECT seg_id, {dist} AS tube_dist_m
  FROM pts JOIN segs
    ON ts_s >= t0 AND (ts_s < t1 OR (seg_id = {last} AND ts_s <= t1))
)
SELECT CAST(seg_id AS BIGINT) AS seg_id, CAST(count(*) AS BIGINT) AS n,
       round(avg(tube_dist_m), 3) AS avg_dist_m
FROM j WHERE tube_dist_m <= {TUBE_BUFFER_M!r} GROUP BY seg_id
"""


ROUTE_BUFFER_M = 500_000.0
ROUTE_HEADING_TOL = 60.0


def _route_pdf() -> pd.DataFrame:
    return pd.DataFrame({"lon": np.linspace(-20.0, 20.0, 9), "lat": np.zeros(9)})


def q_geo_route_search(spark, sf_dir):
    from .operators.tracks import route_search

    pts = _points(spark, sf_dir)
    # deterministic heading derived from event_id; equatorial eastbound route
    pts = pts.withColumn("heading", (F.col("event_id") % 360).cast("double"))
    out = route_search(
        pts, _route_pdf(), buffer_m=ROUTE_BUFFER_M, heading_tol_deg=ROUTE_HEADING_TOL
    )
    return out.groupBy("route_segment").agg(
        F.count("*").alias("n"),
        F.round(F.avg("route_dist_m"), 3).alias("avg_dist_m"),
    )


def _oracle_geo_route_search():
    from .operators.tracks import heading_diff_sql, seg_dist_sql, track_segments

    segs = track_segments(_route_pdf(), "lon", "lat")
    vals = ", ".join(
        f"('seg_{int(r.seg_id)}', {r.lon0!r}, {r.lat0!r}, {r.lon1!r}, {r.lat1!r}, "
        f"{r.coslat!r}, {r.bearing!r})"
        for r in segs.itertuples(index=False)
    )
    dist = seg_dist_sql("lon", "lat")
    hd = heading_diff_sql("heading")
    return f"""
WITH pts AS (SELECT CAST(event_id % 360 AS DOUBLE) AS heading,
                    {LON_SQL} AS lon, {LAT_SQL} AS lat FROM events),
segs(route_segment, lon0, lat0, lon1, lat1, coslat, bearing) AS (VALUES {vals}),
j AS (SELECT route_segment, {dist} AS route_dist_m, {hd} AS hdiff
      FROM pts CROSS JOIN segs)
SELECT route_segment, CAST(count(*) AS BIGINT) AS n,
       round(avg(route_dist_m), 3) AS avg_dist_m
FROM j WHERE route_dist_m <= {ROUTE_BUFFER_M!r} AND hdiff <= {ROUTE_HEADING_TOL!r}
GROUP BY route_segment
"""


IMG_N = 4000          # fixed id range: oracle derives the same table from range(4000)
IMG_TILE_RES = 12
IMG_SCAN_RES = 14
IMG_PITCH = 1e-4

IMG_POLYS = {
    "nyc": (-74.6, 40.2, -73.4, 41.2),
    "paris": (1.8, 48.3, 2.9, 49.4),
    "tokyo": (139.1, 35.1, 140.3, 36.3),
}


def _img_n(spark, sf_dir) -> int:
    (events,) = _load(spark, sf_dir, "events")
    return min(events.count(), IMG_N)


def q_img_tile_density(spark, sf_dir):
    """Raster tile assignment verified per image: decode every image on
    executors, map its pixel grid to Z2 tiles, report the per-image distinct
    tile count alongside metadata. The DuckDB oracle re-derives (w, h, fmt,
    lon, lat) from ids via the splitmix generators (oracle_sql.py) and
    recomputes n_tiles = |distinct xi| * |distinct yi| from the same floor
    math — verifying the decode->tile geometry end-to-end (pixel weights are
    covered by pytest PSNR/parity and the phash oracle)."""
    from .operators.raster import tile_assignments
    from .sources.images import images_df

    imgs = images_df(spark, _img_n(spark, sf_dir))
    per = (
        tile_assignments(imgs, res=IMG_TILE_RES, pixel_pitch_deg=IMG_PITCH)
        .groupBy("image_id")
        .agg(F.countDistinct("tile_cell").alias("n_tiles"))
    )
    return imgs.select("image_id", "w", "h", "fmt").join(per, "image_id")


def _oracle_img_tile_density():
    from .oracle_sql import images_meta_cte, tile_xi_sql, tile_yi_sql

    xi = tile_xi_sql("lon", "c", IMG_PITCH, IMG_TILE_RES)
    yi = tile_yi_sql("lat", "r", IMG_PITCH, IMG_TILE_RES)
    return f"""
WITH {images_meta_cte(IMG_N)},
xs AS (SELECT id, count(DISTINCT {xi}) AS nx
       FROM imgs, (SELECT unnest(range(0, 64)) AS c) cc WHERE c < w GROUP BY id),
ys AS (SELECT id, count(DISTINCT {yi}) AS ny
       FROM imgs, (SELECT unnest(range(0, 64)) AS r) rr WHERE r < h GROUP BY id)
SELECT i.image_id, i.w, i.h, i.fmt, CAST(xs.nx * ys.ny AS BIGINT) AS n_tiles
FROM imgs i JOIN xs ON xs.id = i.id JOIN ys ON ys.id = i.id
"""


MOSAIC_RES = 5


def q_img_tile_mosaic(spark, sf_dir):
    """Representative image per map tile (mosaic/preview pick): the
    highest-resolution image in each Z2 cell, ties broken by image_id —
    ONE max_by aggregate, no window sort. Reads ONLY pruned metadata
    columns from the binary-heavy image parquet (the bytes column never
    leaves the scan; ReadSchema in the plan shows the 5-column projection),
    so the pick never pays the payload."""
    from .fixtures import ensure_images_parquet
    from .operators.spatial_join import add_cell_column

    n = _img_n(spark, sf_dir)
    path = ensure_images_parquet(spark, n)
    meta = spark.read.parquet(path).select("image_id", "w", "h", "lon", "lat")
    g = add_cell_column(meta, MOSAIC_RES, out="cell").withColumn(
        "__px", (F.col("w") * F.col("h")).cast("long")
    )
    return g.groupBy("cell").agg(
        F.count("*").alias("n_images"),
        F.max_by(
            F.col("image_id"), F.struct(F.col("__px"), F.col("image_id"))
        ).alias("rep_image_id"),
        F.max("__px").alias("rep_pixels"),
    )


def _oracle_img_tile_mosaic():
    from .oracle_sql import images_meta_cte

    expr = cells.cell_sql_expr("lon", "lat", MOSAIC_RES)
    # max_by(image_id, struct(px, image_id)) == among the rows sharing the
    # cell's max pixel count, the lexicographically greatest image_id
    return f"""
WITH {images_meta_cte(IMG_N)},
g AS (SELECT {expr} AS cell, image_id,
             CAST(w AS BIGINT) * CAST(h AS BIGINT) AS px
      FROM imgs),
m AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_images, max(px) AS rep_pixels
      FROM g GROUP BY 1)
SELECT m.cell, m.n_images, max(g.image_id) AS rep_image_id, m.rep_pixels
FROM m JOIN g ON g.cell = m.cell AND g.px = m.rep_pixels
GROUP BY 1, 2, 4
"""


def q_img_density_scan(spark, sf_dir):
    """Fused density scan (the flagship operator): image parquet -> cell-cover
    PIP filter + decode + tile assignment inside one Arrow scan stage. The
    oracle recomputes per-polygon image membership and the distinct morton
    tile set from regenerated metadata. The parquet input comes from the
    shared fixture layer (fixtures.ensure_images_parquet) — environment
    setup, not query work."""
    from .fixtures import ensure_images_parquet
    from .sources.parquet_scan import density_scan

    n = _img_n(spark, sf_dir)
    path = ensure_images_parquet(spark, n)
    polys = {pid: _box_wkt(b) for pid, b in IMG_POLYS.items()}
    tiles = density_scan(spark, path, polys, res=IMG_SCAN_RES, pixel_pitch_deg=IMG_PITCH)
    return tiles.groupBy("poly_id").agg(
        F.countDistinct("image_id").alias("n_images"),
        F.countDistinct("tile_cell").alias("n_tiles"),
    )


def _oracle_img_density_scan():
    from .oracle_sql import (
        images_meta_cte,
        morton_spread_sql,
        tile_xi_sql,
        tile_yi_sql,
    )

    vals = ", ".join(
        f"('{pid}', {x0}, {y0}, {x1}, {y1})" for pid, (x0, y0, x1, y1) in IMG_POLYS.items()
    )
    xi = tile_xi_sql("lon", "c", IMG_PITCH, IMG_SCAN_RES)
    yi = tile_yi_sql("lat", "r", IMG_PITCH, IMG_SCAN_RES)
    return f"""
WITH {images_meta_cte(IMG_N)},
polys(poly_id, x0, y0, x1, y1) AS (VALUES {vals}),
m AS (SELECT poly_id, id, lon, lat, w, h FROM imgs JOIN polys
      ON lon >= x0 AND lon <= x1 AND lat >= y0 AND lat <= y1),
xs AS (SELECT DISTINCT poly_id, id, {xi} AS xi
       FROM m, (SELECT unnest(range(0, 64)) AS c) cc WHERE c < w),
ys AS (SELECT DISTINCT poly_id, id, {yi} AS yi
       FROM m, (SELECT unnest(range(0, 64)) AS r) rr WHERE r < h),
cells AS (SELECT xs.poly_id, xs.id,
                 ({morton_spread_sql('xs.xi')}) | (({morton_spread_sql('ys.yi')}) * 2) AS cell
          FROM xs JOIN ys ON xs.id = ys.id AND xs.poly_id = ys.poly_id)
SELECT poly_id, CAST(count(DISTINCT id) AS BIGINT) AS n_images,
       CAST(count(DISTINCT cell) AS BIGINT) AS n_tiles
FROM cells GROUP BY poly_id
"""


IMG_RESIZE = 16  # output side of the resize op (16x16 thumbnails)


def q_img_resize(spark, sf_dir):
    """Multimodal resize op (training-pipeline preprocessing): decode ->
    nearest-neighbor 16x16 thumbnail -> integer gray checksum, one
    mapInPandas stage. Restricted to the LOSSLESS formats so the DuckDB
    oracle can replay the exact sampled pixels from regenerated images
    (lossy fmts are covered by the PSNR-bounded pytest parity instead)."""
    from .operators.raster import resize_images
    from .sources.images import images_df

    imgs = images_df(spark, _img_n(spark, sf_dir)).filter(
        F.col("fmt").isin("raw", "png")
    )
    out = resize_images(imgs, IMG_RESIZE, IMG_RESIZE)
    return out.select("image_id", "gray_sum")


def _oracle_img_resize():
    from .oracle_sql import images_pixel_gray_ctes

    t = IMG_RESIZE
    return f"""
WITH {images_pixel_gray_ctes(IMG_N)},
sel AS (SELECT i.id, i.image_id, (tr.r * i.h) // {t} AS sr, (tc.c * i.w) // {t} AS sc
        FROM imgs i, (SELECT unnest(range(0, {t})) AS r) tr,
             (SELECT unnest(range(0, {t})) AS c) tc
        WHERE i.fmt IN ('raw', 'png'))
SELECT s.image_id, CAST(sum(g.g) AS BIGINT) AS gray_sum
FROM sel s JOIN grayrc g ON g.id = s.id AND g.r = s.sr AND g.c = s.sc
GROUP BY s.image_id
"""


def q_img_phash_buckets(spark, sf_dir):
    """Near-dup image buckets by phash prefix (hamming-LSH chunk, top 16
    bits). The oracle regenerates every image's PIXELS in SQL and recomputes
    the integer-exact block-mean aHash bit-for-bit (oracle_sql.py)."""
    from .sources.images import images_df

    imgs = images_df(spark, _img_n(spark, sf_dir))
    chunk = F.shiftrightunsigned(F.col("phash"), 48).bitwiseAND(F.lit(0xFFFF))
    return (
        imgs.select(chunk.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


def _oracle_img_phash_buckets():
    from .oracle_sql import images_pixel_gray_ctes, phash_bits_cte

    return f"""
WITH {images_pixel_gray_ctes(IMG_N)},{phash_bits_cte()},
bucket AS (SELECT id, CAST(sum(bv * (CAST(1 AS BIGINT) << CAST(bi - 48 AS INTEGER))) AS BIGINT) AS bucket
           FROM bits WHERE bi >= 48 GROUP BY 1)
SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM bucket GROUP BY 1
"""


IMG_PHASH_MAXH = 8  # hamming threshold: well inside the corpus separation
                    # (median pairwise distance 21 bits on this fixture)


def q_img_phash_pairs(spark, sf_dir):
    """Near-duplicate IMAGE pairs: hamming <= 8 on the STORED 64-bit phash
    column via multi-index hashing (pigeonhole banding, guaranteed recall) —
    the image-dedup scale path: bytes are never decoded or shuffled, only
    (id, hash) rows band and join. Oracle validity: banding recall is exact
    by pigeonhole, so brute-force hamming in SQL over phashes recomputed
    from regenerated PIXELS equals the operator output bit-for-bit."""
    from .operators.dedup import hamming_neardup_pairs
    from .sources.images import images_df

    imgs = images_df(spark, _img_n(spark, sf_dir))
    return hamming_neardup_pairs(
        imgs, "phash", "image_id", max_hamming=IMG_PHASH_MAXH
    ).select("id_a", "id_b", "hamming")


def _oracle_img_phash_pairs():
    """Brute-force replay: regenerate pixels -> integer-exact aHash bits ->
    split into two 32-bit halves (avoids BIGINT sign overflow at bit 63) ->
    popcount of XOR per pair. image_id is zero-padded so string < matches
    the numeric id order the Spark side uses."""
    from .oracle_sql import images_pixel_gray_ctes, phash_bits_cte

    return f"""
WITH {images_pixel_gray_ctes(IMG_N)},{phash_bits_cte()},
halves AS (SELECT id,
    CAST(sum(CASE WHEN bi < 32 THEN bv * (CAST(1 AS BIGINT) << CAST(bi AS INTEGER)) ELSE 0 END) AS BIGINT) AS lo,
    CAST(sum(CASE WHEN bi >= 32 THEN bv * (CAST(1 AS BIGINT) << CAST(bi - 32 AS INTEGER)) ELSE 0 END) AS BIGINT) AS hi
  FROM bits GROUP BY 1)
SELECT a.image_id AS id_a, b.image_id AS id_b,
       CAST(bit_count(xor(ha.lo, hb.lo)) + bit_count(xor(ha.hi, hb.hi)) AS BIGINT) AS hamming
FROM halves ha JOIN halves hb ON ha.id < hb.id
JOIN imgs a ON a.id = ha.id JOIN imgs b ON b.id = hb.id
WHERE bit_count(xor(ha.lo, hb.lo)) + bit_count(xor(ha.hi, hb.hi)) <= {IMG_PHASH_MAXH}
"""


# =============================================================================
# registry
# =============================================================================
# QUERIES is the driver-verified window: the driver's correctness check runs
# the FIRST 50 registry entries, so this dict is kept at <= 50 entries, ordered
# least-proven-first (new / round-4-changed operators lead; long-stable rows
# trail). Redundant variants were consolidated into RETIRED_QUERIES below
# (VERDICT r3 "Next round" #1): each retired entry's operator family keeps a
# green driver row via its representative here, and every retired entry itself
# stays hash-gated in pytest (tests/test_driver_contract.py parametrizes over
# QUERIES | RETIRED_QUERIES) and timeable by bench.py.

QUERIES = {
    # --- round-5 new (least proven first) -------------------------------------
    "ann_pq": (q_ann_pq, _oracle_ann_pq()),
    "geo_pip_s2": (q_geo_pip_s2, _oracle_geo_pip_s2()),
    # --- round-4 new / changed ------------------------------------------------
    "geo_where_geom": (q_geo_where_geom, _oracle_geo_where_geom()),
    "text_dup_spans_hashed": (q_text_dup_spans_hashed, _oracle_text_dup_spans_hashed()),
    "text_bm25": (q_text_bm25, _oracle_text_bm25()),
    # --- round-3 tail entries that shipped without a driver row (VERDICT #1) -
    "minhash_pairs_banded": (q_minhash_pairs_banded, _oracle_minhash_pairs_banded()),
    "ann_ivf_udf": (q_ann_ivf_udf, _oracle_ann_ivf()),
    "geo_where_spatial": (q_geo_where_spatial, _oracle_geo_where_spatial()),
    "geo_geom_join_tables": (q_geo_geom_join_tables, _oracle_geo_geom_join_tables()),
    "geo_geom_join_time": (q_geo_geom_join_time, _oracle_geo_geom_join_time()),
    "simhash_pairs": (q_simhash_pairs, _oracle_simhash_pairs()),
    "ann_lsh": (q_ann_lsh, _oracle_ann_lsh()),
    "geo_convex_hull": (q_geo_convex_hull, _oracle_geo_convex_hull()),
    "geo_tube_select": (q_geo_tube_select, _oracle_geo_tube_select()),
    "geo_route_search": (q_geo_route_search, _oracle_geo_route_search()),
    "img_density_scan": (q_img_density_scan, _oracle_img_density_scan()),
    "img_tile_mosaic": (q_img_tile_mosaic, _oracle_img_tile_mosaic()),
    "img_phash_buckets": (q_img_phash_buckets, _oracle_img_phash_buckets()),
    "img_phash_pairs": (q_img_phash_pairs, _oracle_img_phash_pairs()),
    "img_resize": (q_img_resize, _oracle_img_resize()),
    # --- stable, driver-green since r3 or earlier ----------------------------
    "geo_pip_join": (q_geo_pip_join, _oracle_geo_pip_join()),
    "geo_pip_convex": (q_geo_pip_convex, _oracle_geo_pip_convex()),
    "geo_tile_pyramid": (q_geo_tile_pyramid, _oracle_geo_tile_pyramid()),
    "geo_z3_cells": (q_geo_z3_cells, _oracle_geo_z3_cells()),
    "geo_knn_table": (q_geo_knn_table, _oracle_geo_knn_table()),
    "geo_track_segments": (q_geo_track_segments, _oracle_geo_track_segments()),
    "geo_proximity_join": (q_geo_proximity_join, _oracle_geo_proximity_join()),
    "join_lookup": (q_join_lookup, _oracle_join_lookup()),
    "geo_track_label": (q_geo_track_label, _oracle_geo_track_label()),
    "stats_groupby": (q_stats_groupby, _oracle_stats_groupby()),
    "geo_st_intersection": (q_geo_st_intersection, _oracle_geo_st_intersection()),
    "stats_topk": (q_stats_topk, _oracle_stats_topk()),
    "stats_descriptive": (q_stats_descriptive, _oracle_stats_descriptive()),
    "stats_quantiles": (q_stats_quantiles, _oracle_stats_quantiles()),
    "tpch_q1": (q_tpch_q1, _oracle_tpch_q1()),
    "tpch_q5": (q_tpch_q5, _oracle_tpch_q5()),
    "dedup_exact": (q_dedup_exact, _oracle_dedup_exact()),
    "text_quality": (q_text_quality, _oracle_text_quality()),
    "text_scrub": (q_text_scrub, _oracle_text_scrub()),
    "text_langid": (q_text_langid, _oracle_text_langid()),
    "events_sessionize": (q_events_sessionize, _oracle_events_sessionize()),
    "events_funnel": (q_events_funnel, _oracle_events_funnel()),
    "events_transitions": (q_events_transitions, _oracle_events_transitions()),
    "events_cohorts": (q_events_cohorts, _oracle_events_cohorts()),
    "events_asof": (q_events_asof, _oracle_events_asof()),
    "docs_sample_stratified": (q_docs_sample_stratified, _oracle_docs_sample_stratified()),
    "text_winnow_pairs": (q_text_winnow_pairs, _oracle_text_winnow_pairs()),
    "dedup_clusters_star": (q_dedup_clusters_star, _oracle_dedup_clusters()),
    "embed_neardup": (q_embed_neardup, _oracle_embed_neardup_lsh()),
    "geo_geom_join": (q_geo_geom_join, _oracle_geo_geom_join()),
}

# Consolidated variants (VERDICT r3 #1's sanctioned consolidation list): each
# row names the driver-verified representative that keeps its operator family
# green in CORRECTNESS_r04. All remain full (fn, oracle) pairs — pytest runs
# the identical hash comparison on them, and bench.py times several.
RETIRED_QUERIES = {
    # representative: ann_lsh / ann_ivf_udf / ann_pq (the exact brute-force
    # baseline's candidate expansion is subsumed by every approximate arm's
    # rerank stage; retired r5 to admit ann_pq inside the 50-entry window)
    "ann_cosine": (q_ann_cosine, _oracle_ann_cosine()),
    # representative: geo_tile_pyramid (level-14 layer of the pyramid)
    "geo_tile_density": (q_geo_tile_density, _oracle_geo_tile_density()),
    # representative: geo_tile_pyramid (same native cell-bin count-density;
    # retired r5 to admit geo_pip_s2 inside the 50-entry driver window)
    "geo_cell_density": (q_geo_cell_density, _oracle_geo_cell_density()),
    # representative: geo_z3_cells (same 3-way spatiotemporal morton binning)
    "geo_timebin_cells": (q_geo_timebin_cells, _oracle_geo_timebin_cells()),
    # representative: geo_knn_table (the fully-distributed kNN path)
    "geo_knn": (q_geo_knn, _oracle_geo_knn()),
    "geo_knn_sphere": (q_geo_knn_sphere, _oracle_geo_knn_sphere()),
    # representative: docs_sample_stratified (same deterministic keep-rule)
    "geo_sample_nth": (q_geo_sample_nth, _oracle_geo_sample_nth()),
    # representative: stats_descriptive (includes min/max)
    "stats_minmax": (q_stats_minmax, _oracle_stats_minmax()),
    # representative: stats_quantiles (exact per-group distribution)
    "stats_histogram": (q_stats_histogram, _oracle_stats_histogram()),
    # representative: stats_groupby (distinct-value aggregation)
    "stats_enumeration": (q_stats_enumeration, _oracle_stats_enumeration()),
    # representative: tpch_q5 (multi-join) + stats_topk (order/limit)
    "tpch_q3": (q_tpch_q3, _oracle_tpch_q3()),
    # representative: tpch_q1 (scan-agg; q6's pushdown is shown in PLANS.md)
    "tpch_q6": (q_tpch_q6, _oracle_tpch_q6()),
    # representative: tpch_q5 (same join topology)
    "join_revenue_by_nation": (q_join_revenue_by_nation, _oracle_join_revenue_by_nation()),
    # representative: text_langid (lang_stats is langid + groupBy)
    "lang_stats": (q_lang_stats, _oracle_lang_stats()),
    # representative: text_winnow_pairs (fingerprints are its first stage)
    "text_fingerprint": (q_text_fingerprint, _oracle_text_fingerprint()),
    # representative: minhash_pairs_banded (production banding config)
    "minhash_pairs": (q_minhash_pairs, _oracle_minhash_pairs()),
    # representative: text_dup_spans_hashed (the 100TB-shaped form; this
    # literal-span variant is the exact small-scale path, parity-tested)
    "text_dup_spans": (q_text_dup_spans, _oracle_text_dup_spans()),
    # representative: ann_cosine (norms are its first stage)
    "embed_norms": (q_embed_norms, _oracle_embed_norms()),
    # representative: embed_neardup (LSH path; exact is the labeled baseline)
    "embed_neardup_exact": (q_embed_neardup_exact, _oracle_embed_neardup()),
    # representative: img_density_scan (the fused-scan superset)
    "img_tile_density": (q_img_tile_density, _oracle_img_tile_density()),
}

# union view for pytest / bench / plan-dossier consumers
ALL_QUERIES = {**QUERIES, **RETIRED_QUERIES}
