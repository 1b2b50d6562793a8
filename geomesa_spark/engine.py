"""Engine facade — the front door a reference user switches to.

One object wires the whole surface: session defaults, the st_* SQL catalog,
operators, sources, and the planner. Everything is also importable directly
from the submodules; the facade only composes.

    from geomesa_spark.engine import Engine
    eng = Engine.local(cpus=32)
    eng.register_sql()                        # st_* functions available in SQL
    pts = eng.read_parquet("s3://.../events") # or read_images for binary tables
    hits = eng.spatial_join(pts, {"zone": wkt})
    plan = eng.plan(geom=wkt, time_range=("2024-01-01", "2024-02-01"))
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


class Engine:
    def __init__(self, spark: SparkSession):
        self.spark = spark

    # -- construction ------------------------------------------------------
    @classmethod
    def local(cls, cpus: int | None = None, **kw) -> "Engine":
        from .session import get_spark

        return cls(get_spark(cpus=cpus, **kw))

    def register_sql(self) -> int:
        from .functions.st_funcs import register_st_functions

        return register_st_functions(self.spark)

    # -- sources -----------------------------------------------------------
    def read_parquet(self, path: str) -> DataFrame:
        return self.spark.read.parquet(path)

    def read_images(self, path: str, columns=None) -> DataFrame:
        """Arrow-native scan for binary-heavy tables (bytes never enter the
        JVM row format)."""
        from .sources.parquet_scan import scan_parquet_arrow

        return scan_parquet_arrow(self.spark, path, columns=columns)

    def read_pruned(self, path: str, geom=None, time_range=None) -> DataFrame:
        from .sources.storage import read_pruned

        return read_pruned(self.spark, path, geom=geom, time_range=time_range)

    def write_partitioned(self, df: DataFrame, path: str, **kw) -> None:
        from .sources.storage import write_partitioned

        write_partitioned(df, path, **kw)

    # -- operators ---------------------------------------------------------
    def spatial_join(self, points: DataFrame, polygons, **kw) -> DataFrame:
        from .operators.spatial_join import spatial_join

        return spatial_join(points, polygons, **kw)

    def geometry_join(self, rows: DataFrame, polygons, **kw) -> DataFrame:
        from .operators.geometry_join import geometry_join

        return geometry_join(rows, polygons, **kw)

    def knn(self, points: DataFrame, queries_pdf, k: int, **kw) -> DataFrame:
        from .operators.knn import knn_join

        return knn_join(points, queries_pdf, k, **kw)

    def proximity_join(self, points: DataFrame, sites, radius_m: float, **kw) -> DataFrame:
        from .operators.proximity import proximity_join

        return proximity_join(points, sites, radius_m, **kw)

    def density(self, df: DataFrame, bbox, width: int, height: int, **kw) -> DataFrame:
        from .operators.density import density

        return density(df, bbox, width, height, **kw)

    def density_scan(self, path: str, polygons, **kw) -> DataFrame:
        from .sources.parquet_scan import density_scan

        return density_scan(self.spark, path, polygons, **kw)

    def tile_assignments(self, images: DataFrame, **kw) -> DataFrame:
        from .operators.raster import tile_assignments

        return tile_assignments(images, **kw)

    def stats(self, df: DataFrame, spec: str):
        from .operators.stats import run_stats

        return run_stats(df, spec)

    # -- planning ----------------------------------------------------------
    def plan(self, **kw):
        from .plans.planner import plan_query

        return plan_query(**kw)

    # -- spatial predicate interception (SQLRules analog) ------------------
    def where_spatial(self, df: DataFrame, predicate: str) -> DataFrame:
        """Filter with automatic spatial-predicate pushdown — the content of
        the reference's Catalyst rule (``SQLRules.SpatialOptimizationsRule``,
        org/apache/spark/sql/SQLRules.scala:204-256, predicate translation
        table :36-141: split conjuncts, translate ``st_*`` calls over literal
        geometries into index scans, leave the rest as residual filters)
        applied to the predicate string before the plan is built
        (planner_rules.py): it routes each conjunct to a cell-cover, proximity
        or geometry join, a strategy choice a Catalyst Filter rule cannot
        make. Plain ``spark.sql`` filters get bbox/cell pushdown from the
        JVM-side rule instead (extensions.py).

        Recognized conjuncts (literal geometry + point columns, either
        order; geometry literals are ``st_geomFromWKT('...')`` or
        ``st_makeBBOX/st_makeBox2D(x0, y0, x1, y1)`` with numeric literals):

            st_intersects(<geom_lit>, st_makePoint(lon, lat))
            st_contains  (<geom_lit>, st_makePoint(lon, lat))
            st_covers    (<geom_lit>, st_makePoint(lon, lat))
            st_within    (st_makePoint(lon, lat), <geom_lit>)
            st_dwithin   (<point_lit>, st_makePoint(lon, lat), meters)
            st_intersects(<geom_lit>, <wkb_geom_col>)   (either order)
            st_contains  (<geom_lit>, <wkb_geom_col>)
            st_covers    (<geom_lit>, <wkb_geom_col>)
            st_within    (<wkb_geom_col>, <geom_lit>)
            st_coveredby (<wkb_geom_col>, <geom_lit>)

        The point-column DE-9IM forms become cell-cover prefilter +
        native/Arrow refine via
        :func:`operators.spatial_join.spatial_join` (boundary excluded for
        contains/within, included for intersects/covers); ``st_dwithin``
        becomes :func:`operators.proximity.proximity_join` (buffered-cover
        prefilter + exact native haversine — meters on the sphere, the
        reference's DWITHIN semantics). A bare identifier naming a BINARY
        column is treated as a WKB geometry column and routes to
        :func:`operators.geometry_join.geometry_join` (the XZ path:
        bbox-cell candidates + exact DE-9IM refine), with contains/covers
        flipped to the row-geometry orientation (contains(lit, col) ==
        within(col, lit)). Unrecognized conjuncts are applied unchanged as
        native ``filter`` expressions (register the UDFs via
        :meth:`register_sql` for those).
        """
        from .planner_rules import rewrite_spatial_predicate

        return rewrite_spatial_predicate(df, predicate)
