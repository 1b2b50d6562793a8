"""k-nearest-neighbor join via expanding cell rings.

From-scratch analog of the reference's KNN process
(``geomesa-process/.../KNearestNeighborSearchProcess.scala``): their client
loop issues an initial window query, doubles the window while fewer than k
hits (``KnnWindow.expand``, :278-300), and terminates when the kth distance is
covered by the searched window. Ours replaces the window with Chebyshev cell
*disks* and runs each round as ONE broadcast join over the (never-shuffled)
point table:

    round i: unresolved queries -> disk(cell, R_i) cells (driver, numpy)
             -> broadcast -> equi-join on point cell -> per-query top-k
             -> resolve if n >= k AND d_k <= guarantee(R_i)

``guarantee(R)`` is a conservative lower bound on the distance to any point
OUTSIDE Chebyshev radius R (latitude band + cos-scaled longitude bound), so a
resolved query provably has its true top-k — the same termination contract as
the reference's hole-punched window, restated for a sphere-aware grid.

Scale notes: the point side is scanned once per round with a broadcast hash
join (no shuffle); rounds only re-visit *unresolved* queries, and the ring
radius doubles, so rounds are O(log(max_radius)). Query count Q is assumed
driver-manageable (<= ~100k), matching the reference's client-side process.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

from ..core import cells
from .proximity import haversine_sql

M_PER_DEG = 111194.93  # meters per degree of latitude at EARTH_RADIUS_M

MAX_CLIENT_QUERIES = 100_000  # hard guard on the driver-side query set


def _guarantee_m(radius: int, res: int, qlat: np.ndarray) -> np.ndarray:
    """Distance lower bound to any point outside Chebyshev ``radius`` cells."""
    dlon_deg, dlat_deg = cells.cell_size_deg(res)
    lat_reach = np.abs(qlat) + (radius + 1) * dlat_deg
    cosl = np.cos(np.radians(np.minimum(lat_reach, 90.0)))
    lat_bound = (radius - 1) * dlat_deg * M_PER_DEG
    lon_bound = (radius - 1) * dlon_deg * M_PER_DEG * np.maximum(cosl, 0.0)
    return np.maximum(np.minimum(lat_bound, lon_bound), 0.0)


def _guarantee_planar(radius: int, res: int) -> float:
    dlon_deg, dlat_deg = cells.cell_size_deg(res)
    return max(radius - 1, 0) * min(dlon_deg, dlat_deg)


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
    max_rounds: int = 6,
    exclude_self: bool = False,
) -> DataFrame:
    """Table-to-table kNN: top-k nearest points per QUERY ROW of a DataFrame
    — the scale path when Q is too large for the client-driven
    :func:`knn_join` (reference analog: KNearestNeighborSearchProcess run
    per-feature, :222-301, re-expressed as set-at-a-time joins).

    Fully distributed — no per-query driver work and no LocalTableScan:
    each round explodes unresolved queries to their (2R+1)^2 cell disk with
    a NATIVE sequence/explode + morton-interleave expression, equi-joins the
    (once-encoded) point table on the cell key, takes the per-query window
    top-k, and keeps queries whose kth distance is within the provable
    guarantee radius (same termination contract as knn_join). Unresolved
    queries re-enter with doubled radius; the driver only ever sees a
    resolved/unresolved COUNT, never rows. Returns
    (query_id, point_id, dist, rnk).

    ``exclude_self`` drops candidates whose ``point_id`` equals the
    ``query_id`` (queries drawn from the point table itself); by default a
    point is a neighbor of any query, whatever their ids.

    Sizing ``radius``: any start is EXACT (the kth-distance guarantee
    gates resolution), so pick it for cost — the first disk should
    usually contain k neighbors for the SPARSEST expected query cell.
    Under-sizing pays whole extra rounds (each a join + window top-k +
    anti-join); over-sizing pays only (2R+1)^2 explode rows per query.
    """
    from .spatial_join import add_cell_column

    n = 1 << res
    spark = points.sparkSession
    pts = add_cell_column(points, res, lon, lat, out="__cell").persist()

    qx, qy = cells.xy_sql_expr(qlon, qlat, res)
    q = queries.select(
        F.col(query_id), F.col(qlon), F.col(qlat),
        F.expr(qx).alias("__qx"), F.expr(qy).alias("__qy"),
    )

    dist_expr = _dist_sql(metric, lon, lat, qlon, qlat)
    dlon_deg, dlat_deg = cells.cell_size_deg(res)
    results = None
    unresolved = q
    r = radius
    for round_no in range(max_rounds):
        covers_world = 2 * r + 1 >= n
        if covers_world:
            cand = pts.crossJoin(unresolved)
        else:
            # native disk expansion: (2R+1)^2 neighbor cells per query via
            # sequence/explode + the same morton spread the encoder uses
            nq = (
                unresolved
                .withColumn("__dx", F.explode(F.sequence(F.lit(-r), F.lit(r))))
                .withColumn("__dy", F.explode(F.sequence(F.lit(-r), F.lit(r))))
                .withColumn("__nx", F.pmod(F.col("__qx") + F.col("__dx"), F.lit(n)))
                .withColumn("__ny", F.col("__qy") + F.col("__dy"))
                .filter((F.col("__ny") >= 0) & (F.col("__ny") < n))
            )
            nq = nq.withColumn(
                "__jcell", F.expr(cells.encode_xy_sql("__nx", "__ny"))
            ).drop("__dx", "__dy", "__nx", "__ny")
            cand = pts.join(nq, pts["__cell"] == nq["__jcell"], "inner")

        cand = cand.withColumn("__dist", F.expr(dist_expr))
        if exclude_self:
            cand = cand.filter(F.col(point_id) != F.col(query_id))
        w = Window.partitionBy(query_id).orderBy(
            F.col("__dist").asc(), F.col(point_id).asc()
        )
        topk = (
            cand.withColumn("__rnk", F.row_number().over(w))
            .filter(F.col("__rnk") <= k)
            .select(
                query_id, point_id, F.col(qlat).alias("__ql"),
                F.col("__dist").alias("dist"), F.col("__rnk").alias("rnk"),
            )
        )
        # the round's expensive explode+join DAG fans out three ways (per_q
        # agg, resolved-result semi join, next round's anti join) — persist
        # it so it materializes ONCE within the round. The round's OUTPUTS
        # (resolved top-k, surviving queries) are localCheckpoint-ed below,
        # which truncates their lineage off this cache, so it is unpersisted
        # at the END of the round: repeated calls in one session leave no
        # net persisted blocks behind (the connected_components pattern).
        topk = topk.persist()
        if covers_world:
            got = topk.drop("__ql").localCheckpoint(eager=True)
            topk.unpersist()
            results = got if results is None else results.unionByName(got)
            unresolved = unresolved.limit(0)
            break
        # provable-guarantee filter, fully native (same bound as knn_join):
        # minimum distance to anything outside Chebyshev radius r
        per_q = topk.groupBy(query_id).agg(
            F.max("rnk").alias("__n"), F.max("dist").alias("__dk"),
            F.first("__ql").alias("__qlv"),
        )
        if metric == "haversine":
            guarantee = F.greatest(
                F.least(
                    F.lit(max(r - 1, 0) * dlat_deg * M_PER_DEG),
                    F.lit(max(r - 1, 0) * dlon_deg * M_PER_DEG)
                    * F.greatest(
                        F.cos(
                            F.radians(
                                F.least(
                                    F.abs(F.col("__qlv"))
                                    + F.lit((r + 1) * dlat_deg),
                                    F.lit(90.0),
                                )
                            )
                        ),
                        F.lit(0.0),
                    ),
                ),
                F.lit(0.0),
            )
        else:
            guarantee = F.lit(_guarantee_planar(r, res))
        per_q = per_q.withColumn(
            "__ok", (F.col("__n") >= k) & (F.col("__dk") <= guarantee)
        )
        ok_ids = per_q.filter(F.col("__ok")).select(query_id)
        # localCheckpoint (eager): materializes the round output AND cuts
        # its lineage, so the round's topk cache and the superseded query
        # frame become unreferenced — the ContextCleaner frees them once
        # GC'd instead of every round's DAG staying live in the result
        got = (
            topk.join(F.broadcast(ok_ids), query_id, "left_semi")
            .drop("__ql")
            .localCheckpoint(eager=True)
        )
        results = got if results is None else results.unionByName(got)
        # the shrinking query set, lineage-free; driver sees only the count
        remaining = unresolved.join(
            F.broadcast(ok_ids), query_id, "left_anti"
        ).localCheckpoint(eager=True)
        n_left = remaining.count()
        topk.unpersist()
        unresolved = remaining
        if n_left == 0:
            break
        r *= 2
    else:
        pts.unpersist()
        raise RuntimeError("knn_join_table did not resolve within max_rounds")
    pts.unpersist()
    return results


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
    max_rounds: int = 12,
    exclude_self: bool = False,
) -> DataFrame:
    """Top-k nearest points for each query row. Returns
    (query_id, <point_id>, dist, rnk) with rnk in 1..k, ties broken by id.

    ``queries_pdf`` is a driver-side pandas frame (the reference's KNN is
    likewise a client-driven process over a query feature collection).
    Queries already in a DataFrame go to :func:`knn_join_table` instead:
    the caller picks the loop by the query input it has. This client loop
    stays because it is the cheaper one for driver-sized query sets — on
    the perfbench ``interactive`` kNN op (4-core host, 8 alternating pairs)
    it took a median 2.0 s and 21 Spark jobs per op, against 7.3 s and 59
    jobs for a thin wrapper over :func:`knn_join_table`.
    """
    if len(queries_pdf) > MAX_CLIENT_QUERIES:
        raise ValueError(
            f"knn_join is the client-driven process analog (per-round driver "
            f"top-k is bounded by Q*k); got Q={len(queries_pdf)} > "
            f"{MAX_CLIENT_QUERIES}. Use knn_join_table for table-scale Q."
        )
    spark = points.sparkSession
    q = queries_pdf[[query_id, qlon, qlat]].copy()
    q["__qcell"] = cells.encode(q[qlon].to_numpy(), q[qlat].to_numpy(), res)

    from .spatial_join import add_cell_column

    pts = add_cell_column(points, res, lon, lat, out="__cell")
    n_queries_total = len(q)
    if n_queries_total == 0:
        raise ValueError("no queries")
    pts = pts.persist()

    dist_expr = _dist_sql(metric, lon, lat, "__qlon", "__qlat")

    n = 1 << res
    unresolved = q
    results: list[pd.DataFrame] = []
    radius = 1
    for _ in range(max_rounds):
        if unresolved.empty:
            break
        # expand each unresolved query to its cell disk (numpy, driver-side)
        qx, qy = cells.decode_xy(unresolved["__qcell"].to_numpy())
        rows = []
        covers_world = radius * 2 + 1 >= n
        for i in range(len(unresolved)):
            if covers_world:
                continue
            dxy = np.arange(-radius, radius + 1)
            gx = (qx[i] + dxy) % n
            gy = qy[i] + dxy
            gy = gy[(gy >= 0) & (gy < n)]
            cc = cells.encode_xy(
                np.repeat(gx, len(gy)), np.tile(gy, len(gx))
            )
            rows.append(
                pd.DataFrame(
                    {
                        "__qid": unresolved[query_id].iloc[i],
                        "__qlon": unresolved[qlon].iloc[i],
                        "__qlat": unresolved[qlat].iloc[i],
                        "__jcell": np.unique(cc),
                    }
                )
            )
        if covers_world:
            # brute-force fallback: cross join the remaining queries
            qdf = spark.createDataFrame(
                unresolved[[query_id, qlon, qlat]].rename(
                    columns={query_id: "__qid", qlon: "__qlon", qlat: "__qlat"}
                )
            )
            cand = pts.crossJoin(F.broadcast(qdf))
        else:
            qcells = pd.concat(rows, ignore_index=True)
            qdf = spark.createDataFrame(qcells)
            cand = pts.join(F.broadcast(qdf), pts["__cell"] == qdf["__jcell"], "inner")

        cand = cand.withColumn("__dist", F.expr(dist_expr))
        if exclude_self:
            cand = cand.filter(F.col(point_id) != F.col("__qid"))
        w = Window.partitionBy("__qid").orderBy(F.col("__dist").asc(), F.col(point_id).asc())
        topk = (
            cand.withColumn("__rnk", F.row_number().over(w))
            .filter(F.col("__rnk") <= k)
            .select(
                F.col("__qid").alias(query_id),
                F.col(point_id),
                F.col("__dist").alias("dist"),
                F.col("__rnk").alias("rnk"),
            )
        )
        got = topk.toPandas()

        # resolution test: enough neighbors AND kth distance within guarantee
        if covers_world:
            results.append(got)
            unresolved = unresolved.iloc[0:0]
            break
        counts = got.groupby(query_id)["rnk"].max()
        dk = got.groupby(query_id)["dist"].max()
        if metric == "haversine":
            glist = _guarantee_m(radius, res, unresolved[qlat].to_numpy())
        else:
            glist = np.full(len(unresolved), _guarantee_planar(radius, res))
        gmap = dict(zip(unresolved[query_id], glist))
        ok_ids = [
            qid
            for qid in unresolved[query_id]
            if counts.get(qid, 0) >= k and dk.get(qid, np.inf) <= gmap[qid]
        ]
        if ok_ids:
            results.append(got[got[query_id].isin(ok_ids)])
            unresolved = unresolved[~unresolved[query_id].isin(ok_ids)]
        radius *= 2

    pts.unpersist()
    if unresolved is not None and not unresolved.empty:
        raise RuntimeError(f"kNN did not resolve {len(unresolved)} queries")
    out = pd.concat(results, ignore_index=True)
    qid_type = (
        T.LongType()
        if pd.api.types.is_integer_dtype(queries_pdf[query_id])
        else T.StringType()
    )
    schema = T.StructType(
        [
            T.StructField(query_id, qid_type),
            T.StructField(point_id, points.schema[point_id].dataType),
            T.StructField("dist", T.DoubleType()),
            T.StructField("rnk", T.IntegerType()),
        ]
    )
    out["rnk"] = out["rnk"].astype("int32")
    return spark.createDataFrame(out, schema=schema)
