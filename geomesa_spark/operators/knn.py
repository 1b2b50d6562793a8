"""k-nearest-neighbor join via expanding cell rings.

From-scratch analog of the reference's KNN process
(``geomesa-process/.../KNearestNeighborSearchProcess.scala``): their client
loop issues an initial window query, doubles the window while fewer than k
hits (``KnnWindow.expand``, :278-300), and terminates when the kth distance is
covered by the searched window. Ours replaces the window with Chebyshev cell
*disks* and runs each round as ONE join over the (never-shuffled) point
table:

    round i: unresolved queries -> disk(cell, R_i) cells
             -> equi-join on point cell -> per-query top-k
             -> resolve if n >= k AND d_k <= guarantee(R_i)

``guarantee(R)`` is a conservative lower bound on the distance to any point
OUTSIDE Chebyshev radius R (latitude band + cos-scaled longitude bound), so a
resolved query provably has its true top-k — the same termination contract as
the reference's hole-punched window, restated for a sphere-aware grid.

Both loops — :func:`knn_join` (pandas queries on the driver, the reference's
client process) and :func:`knn_join_table` (DataFrame queries, table-scale
Q) — call one :func:`_round`: candidate join, distance, exclude_self, window
top-k and guarantee. Each keeps the two steps whose cost depends on where
the queries live. The client loop builds disk cells in vectorized numpy and
broadcasts them (a native explode costs it more per round than the numpy
build) and resolves in pandas on the collected top-k. The table loop never
brings query rows to the driver: native ``sequence``/``explode`` disks and a
filter over the persisted round. Rounds re-visit only unresolved queries
and the radius doubles, so there are O(log(max_radius)) of them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F, types as T

from ..core import cells
from ..core.geometry import M_PER_DEG
from .proximity import haversine_sql
from .spatial_join import add_cell_column

MAX_CLIENT_QUERIES = 100_000  # hard guard on the driver-side query set


def _covers_world(r: int, res: int) -> bool:
    return 2 * r + 1 >= 1 << res


def _guarantee(metric: str, r: int, res: int, qlat: str) -> Column:
    """Distance lower bound from a query at latitude ``qlat`` to any point
    outside its Chebyshev ``r``-cell disk. One SQL string, so building it
    costs one py4j call per round instead of one per Column operator."""
    dlon_deg, dlat_deg = cells.cell_size_deg(res)
    steps = max(r - 1, 0)
    if metric == "planar":
        return F.expr(f"{steps * min(dlon_deg, dlat_deg)!r}D")
    # lon bound: cos of the most poleward latitude the disk reaches (<= 90)
    reach = f"least(abs({qlat}) + {(r + 1) * dlat_deg!r}D, 90.0D)"
    return F.expr(
        f"least({steps * dlat_deg * M_PER_DEG!r}D, "
        f"{steps * dlon_deg * M_PER_DEG!r}D * cos(radians({reach})))"
    )


def _dist_sql(metric: str, lon: str, lat: str, qlon: str, qlat: str) -> str:
    """Query-to-point distance as a native SQL expression: great-circle
    meters (``haversine``) or coordinate-space euclid (``planar``)."""
    if metric == "haversine":
        return haversine_sql(qlon, qlat, lon, lat)
    if metric == "planar":
        # multiplication form (not pow): +,*,sqrt are IEEE correctly-rounded,
        # so the distance is bit-identical across engines for oracle parity
        return (
            f"sqrt((({lon}) - ({qlon})) * (({lon}) - ({qlon})) + "
            f"(({lat}) - ({qlat})) * (({lat}) - ({qlat})))"
        )
    raise ValueError(metric)


def _round(
    pts: DataFrame, qcells: DataFrame, r: int, res: int, k: int,
    point_id: str, lon: str, lat: str, metric: str, exclude_self: bool,
) -> DataFrame:
    """One kNN round: ``qcells`` (``__qid, __qlon, __qlat`` + one ``__jcell``
    row per disk cell, none once the disk covers the world) joined to the
    points -> per-query top-k (__qid, <point_id>, dist, rnk, __g), ``__g``
    the query's guarantee (+inf on a covers-world round). A query resolves
    when its ``rnk == k`` row exists and has ``dist <= __g``: rows rank by
    distance, so that row is the farthest of a full top-k."""
    if _covers_world(r, res):
        cand, g = pts.crossJoin(qcells), F.lit(float("inf"))
    else:
        cand = pts.join(qcells, F.col("__cell") == F.col("__jcell"))
        g = _guarantee(metric, r, res, "__qlat")
    dist = _dist_sql(metric, lon, lat, "__qlon", "__qlat")
    cand = cand.withColumn("__dist", F.expr(dist))
    if exclude_self:
        cand = cand.filter(F.col(point_id) != F.col("__qid"))
    w = Window.partitionBy("__qid").orderBy("__dist", point_id)
    return (
        cand.withColumn("__rnk", F.row_number().over(w))
        .filter(F.col("__rnk") <= k)
        .select(
            "__qid", point_id, F.col("__dist").alias("dist"),
            F.col("__rnk").alias("rnk"), g.alias("__g"),
        )
    )


def _disk_cells_np(q: pd.DataFrame, r: int, res: int) -> pd.DataFrame:
    """Each query row once per cell of its Chebyshev ``r``-disk (``__jcell``),
    all queries in one numpy pass; longitude wraps, latitude stops at poles."""
    n = 1 << res
    qx, qy = cells.xy_of(q["__qlon"].to_numpy(), q["__qlat"].to_numpy(), res)
    d = np.arange(-r, r + 1)
    gx, gy = np.broadcast_arrays(
        (qx[:, None, None] + d[None, :, None]) % n, qy[:, None, None] + d
    )
    keep = (gy >= 0) & (gy < n)
    row = np.broadcast_to(np.arange(len(q))[:, None, None], keep.shape)[keep]
    out = q.iloc[row].reset_index(drop=True)
    out["__jcell"] = cells.encode_xy(gx[keep], gy[keep])
    return out


def _disk_cells_sql(q: DataFrame, r: int, res: int) -> DataFrame:
    """:func:`_disk_cells_np` as native ``sequence``/``explode`` plus the
    morton spread the encoder uses (``q`` carries ``__qx, __qy``)."""
    n = 1 << res
    d = F.sequence(F.lit(-r), F.lit(r))
    return (
        q.withColumn("__dx", F.explode(d))
        .withColumn("__dy", F.explode(d))
        .withColumn("__nx", F.pmod(F.col("__qx") + F.col("__dx"), F.lit(n)))
        .withColumn("__ny", F.col("__qy") + F.col("__dy"))
        .filter((F.col("__ny") >= 0) & (F.col("__ny") < n))
        .withColumn("__jcell", F.expr(cells.encode_xy_sql("__nx", "__ny")))
        .drop("__dx", "__dy", "__nx", "__ny")
    )


def knn_join_table(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    point_id: str = "image_id",
    lon: str = "lon",
    lat: str = "lat",
    query_id: str = "query_id",
    qlon: str = "qlon",
    qlat: str = "qlat",
    metric: str = "haversine",
    res: int = 8,
    radius: int = 2,
    exclude_self: bool = False,
) -> DataFrame:
    """Table-to-table kNN: top-k nearest points per QUERY ROW of a DataFrame
    — the scale path when Q is too large for the client-driven
    :func:`knn_join` (reference analog: KNearestNeighborSearchProcess run
    per-feature, :222-301, re-expressed as set-at-a-time joins).

    Fully distributed — no per-query driver work and no LocalTableScan:
    each round explodes unresolved queries to their (2R+1)^2 cell disk
    natively, runs the shared round, and keeps queries whose kth distance is
    within the guarantee; the rest re-enter with doubled radius. The driver
    only sees a COUNT, never rows. Returns (query_id, point_id, dist, rnk).

    ``exclude_self`` drops candidates whose ``point_id`` equals the
    ``query_id`` (queries drawn from the point table itself); by default a
    point is a neighbor of any query, whatever their ids.

    Sizing ``radius``: any start is EXACT (the guarantee gates resolution),
    so pick it for cost — the first disk should usually hold k neighbors for
    the SPARSEST expected query cell. Under-sizing pays whole extra rounds;
    over-sizing pays only (2R+1)^2 explode rows per query. The radius
    doubles every round, so the loop always reaches the covers-world round,
    which resolves every query left.
    """
    if radius < 1:  # doubling never grows r = 0: the loop would not end
        raise ValueError(f"radius must be >= 1, got {radius}")
    pts = add_cell_column(points, res, lon, lat, out="__cell").persist()
    qx, qy = cells.xy_sql_expr(qlon, qlat, res)
    unresolved = queries.select(
        F.col(query_id).alias("__qid"), F.col(qlon).alias("__qlon"),
        F.col(qlat).alias("__qlat"),
        F.expr(qx).alias("__qx"), F.expr(qy).alias("__qy"),
    )
    results, r = None, radius
    while True:
        covers_world = _covers_world(r, res)
        qcells = unresolved if covers_world else _disk_cells_sql(unresolved, r, res)
        # persisted: the round feeds both sides of the resolved-id semi
        # join. Only the resolved rows the result unions keep are
        # localCheckpoint-ed (lineage cut); the round and the shrinking query
        # set are persisted and unpersisted here, so a call leaves only its
        # result's checkpoints, freed once the result is dropped.
        topk = _round(
            pts, qcells, r, res, k, point_id, lon, lat, metric, exclude_self
        ).persist()
        if covers_world:
            got = topk.drop("__g").localCheckpoint(eager=True)
            topk.unpersist()
            results = got if results is None else results.unionByName(got)
            break
        ok_ids = topk.filter(
            (F.col("rnk") == k) & (F.col("dist") <= F.col("__g"))
        ).select("__qid")
        got = topk.join(F.broadcast(ok_ids), "__qid", "left_semi").drop("__g")
        got = got.localCheckpoint(eager=True)
        results = got if results is None else results.unionByName(got)
        # resolved ids read back from the checkpoint (one rnk == k row per
        # query), so the next round's plan does not embed this one's; the
        # driver sees only the count, which also fills the cache
        done = got.filter(F.col("rnk") == k).select("__qid")
        left = unresolved.join(F.broadcast(done), "__qid", "left_anti").persist()
        n_left = left.count()
        topk.unpersist()
        unresolved.unpersist()
        unresolved = left
        if n_left == 0:
            break
        r *= 2
    unresolved.unpersist()
    pts.unpersist()
    return results.withColumnRenamed("__qid", query_id)


def knn_join(
    points: DataFrame,
    queries_pdf: pd.DataFrame,
    k: int,
    point_id: str = "image_id",
    lon: str = "lon",
    lat: str = "lat",
    query_id: str = "query_id",
    qlon: str = "lon",
    qlat: str = "lat",
    metric: str = "haversine",
    res: int = 10,
    exclude_self: bool = False,
) -> DataFrame:
    """Top-k nearest points for each query row. Returns
    (query_id, <point_id>, dist, rnk) with rnk in 1..k, ties broken by id.
    The first disk has radius 1 and the radius doubles every round, so the
    loop ends at the latest on the covers-world round.

    ``queries_pdf`` is a driver-side pandas frame (the reference's KNN is
    likewise a client-driven process over a query feature collection).
    Queries already in a DataFrame go to :func:`knn_join_table` instead:
    the caller picks the loop by the query input it has. This client loop
    stays because it is the cheaper one for driver-sized query sets — on
    the perfbench ``interactive`` kNN op (4-core host, 8 alternating pairs)
    it took a median 2.0 s and 21 Spark jobs (SparkContext jobs, not the
    7 SQL executions perfbench reports as ``knn.jobs_per_op``) per op,
    against 7.3 s and 59 jobs for a thin wrapper over
    :func:`knn_join_table`.
    """
    if len(queries_pdf) > MAX_CLIENT_QUERIES:
        raise ValueError(
            f"knn_join is the client-driven process analog (per-round driver "
            f"top-k is bounded by Q*k); got Q={len(queries_pdf)} > "
            f"{MAX_CLIENT_QUERIES}. Use knn_join_table for table-scale Q."
        )
    if len(queries_pdf) == 0:
        raise ValueError("no queries")
    spark = points.sparkSession
    unresolved = queries_pdf[[query_id, qlon, qlat]].set_axis(
        ["__qid", "__qlon", "__qlat"], axis=1
    )
    pts = add_cell_column(points, res, lon, lat, out="__cell").persist()
    results, r = [], 1
    while not unresolved.empty:
        covers_world = _covers_world(r, res)
        qcells = unresolved if covers_world else _disk_cells_np(unresolved, r, res)
        got = _round(
            pts, F.broadcast(spark.createDataFrame(qcells)), r, res, k,
            point_id, lon, lat, metric, exclude_self,
        ).toPandas()
        if covers_world:
            results.append(got)
            break
        kth = got[got["rnk"] == k]
        ok = kth.loc[kth["dist"] <= kth["__g"], "__qid"]
        results.append(got[got["__qid"].isin(ok)])
        unresolved = unresolved[~unresolved["__qid"].isin(ok)]
        r *= 2
    pts.unpersist()
    out = pd.concat(results, ignore_index=True).drop(columns="__g")
    out = out.rename(columns={"__qid": query_id}).astype({"rnk": "int32"})
    int_qid = pd.api.types.is_integer_dtype(queries_pdf[query_id])
    schema = T.StructType([
        T.StructField(query_id, T.LongType() if int_qid else T.StringType()),
        T.StructField(point_id, points.schema[point_id].dataType),
        T.StructField("dist", T.DoubleType()),
        T.StructField("rnk", T.IntegerType()),
    ])
    return spark.createDataFrame(out, schema=schema)
