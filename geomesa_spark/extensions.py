"""Real Catalyst extension wiring (the reference's SQLRules analog, JVM side).

The engine's primary spatial API builds the cell-prefilter + exact-refine
plan explicitly with DataFrame ops (operators/spatial_join.py) and the
``where_spatial`` facade parses predicate strings at the API layer
(planner_rules.py). This module closes the remaining gap the survey declared
a stretch: a REAL ``SparkSessionExtensions`` injection — a Catalyst
optimizer rule living in the JVM (reference: geomesa-spark/geomesa-spark-sql
/src/main/scala/org/apache/spark/sql/SQLRules.scala:204-256) — so even a
plain ``spark.sql(...)``/``df.filter(udf(...))`` query that never touches
this package's planner gets the index-prefilter treatment automatically.

The rule (jvm/src/geomesaspark/ext/BBoxPrefilterRule.java, compiled into
the engine jar by ``session.engine_jar`` with nothing but javac + the Spark
distribution's own jars; ``jvm/build.sh`` builds the same classes into
dist/geomesa-spark-ext.jar for spark-submit) rewrites

    Filter(... st_pip_wkt(lon, lat, '<WKT literal>') ...)

into the same Filter AND'ed with native ``lon BETWEEN minx AND maxx AND lat
BETWEEN miny AND maxy`` bbox conjuncts — a necessary condition of the exact
predicate, so results are unchanged — which Catalyst's own pushdown then
carries into the parquet scan (PushedFilters + row-group pruning). The
Arrow-batched exact point-in-polygon UDF only ever sees bbox survivors.

Static-conf caveat: ``spark.sql.extensions`` and ``spark.jars`` bind at JVM
launch, so :func:`extended_session` must run in a process with no prior
SparkContext (tests spawn a subprocess; a deployment passes
``--conf spark.sql.extensions=... --jars dist/geomesa-spark-ext.jar`` to
spark-submit next to the --py-files zip).
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# unique temp-view names per facade call: a fixed global name lets two
# interleaved lazy uses in one session clobber each other's input before
# either executes
_VIEW_SEQ = itertools.count()


def _unique_view(prefix: str) -> str:
    return f"_{prefix}_input_{next(_VIEW_SEQ)}"


def _sql_over_view(spark: SparkSession, df: DataFrame, prefix: str, where: str):
    """Register ``df`` under a unique temp view, run ``SELECT * WHERE
    <where>`` against it, and ALWAYS drop the view: spark.sql analyzes
    eagerly, so the returned plan has the view inlined and the catalog
    entry is droppable at once — and the drop sits in a finally so a bad
    predicate (AnalysisException) can't leak the view either."""
    view = _unique_view(prefix)
    df.createOrReplaceTempView(view)
    cols = ", ".join(f"`{c}`" for c in df.columns)
    try:
        return spark.sql(f"SELECT {cols} FROM {view} WHERE {where}")
    finally:
        spark.catalog.dropTempView(view)

EXTENSION_CLASS = "geomesaspark.ext.SpatialExtensions"


def build_extensions_jar() -> str:
    """Path of the engine jar that holds the rule: ``session.engine_jar``,
    compiled from jvm/src into the user cache once per hash of the
    sources. Raises RuntimeError when it cannot be built."""
    from .session import engine_jar

    return engine_jar()


def extended_session(
    cpus: int = 8, app: str = "geomesa-spark-ext", **conf
) -> SparkSession:
    """SparkSession with the Catalyst rule injected. Must be the process's
    FIRST session (static confs); raises if a SparkContext already exists."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        raise RuntimeError(
            "spark.sql.extensions is a static conf: build the extended "
            "session in a fresh process (no prior SparkContext)"
        )
    from .session import get_spark

    return get_spark(
        cpus=cpus,
        app=app,
        extra_conf={
            "spark.jars": build_extensions_jar(),
            "spark.sql.extensions": EXTENSION_CLASS,
            **conf,
        },
    )


def register_st_pip_wkt(spark: SparkSession):
    """Register the exact point-in-polygon refine UDF the JVM rule
    recognizes: st_pip_wkt(lon, lat, wkt) -> boolean — the spatial join's
    PIP UDF keyed by the WKT literal, so each distinct polygon parses once
    per task. Returns the UDF handle for DataFrame-API use; also
    registered for spark.sql use."""
    from .core.geometry import from_wkt, polygon_edges
    from .operators.spatial_join import _pip_refine_udf

    pip = _pip_refine_udf(lambda wkt: polygon_edges(from_wkt(wkt)))
    return spark.udf.register("st_pip_wkt", pip)


def register_st_dwithin_pt(spark: SparkSession):
    """Register the exact haversine-radius refine UDF the JVM rule also
    recognizes: st_dwithin_pt(lon, lat, lon0, lat0, meters) -> boolean,
    the great-circle distance of ``core.geometry.haversine_m``."""
    from .core.geometry import haversine_m

    @F.pandas_udf(T.BooleanType())
    def st_dwithin_pt(
        lon: pd.Series,
        lat: pd.Series,
        lon0: pd.Series,
        lat0: pd.Series,
        meters: pd.Series,
    ) -> pd.Series:
        d = haversine_m(lon, lat, lon0, lat0)
        return pd.Series(d <= meters.to_numpy(dtype=np.float64))

    return spark.udf.register("st_dwithin_pt", st_dwithin_pt)


_BBOX = ("xmin", "xmax", "ymin", "ymax")


def with_bbox_columns(df: DataFrame, geom_col: str = "geom") -> DataFrame:
    """Writer-side step for WKB geometry tables, and the package's one WKB
    -> bounding-box parser: materialize the per-row box as four plain
    double columns ``{geom}_xmin/_xmax/_ymin/_ymax`` next to the opaque
    binary column — the XZ-storage analog (reference: geomesa-index-api
    XZ2/XZ3 write keys derived from the geometry envelope). Parquet keeps
    min/max row-group statistics for plain doubles, so the JVM rule's
    injected range conjuncts prune IO where a predicate over WKB bytes
    never could, and ``geometry_join_tables`` keys each side by these
    columns when it carries them. One Arrow-batched parse per row at WRITE
    time; queries pay nothing.

    CONTRACT (the same trust class for the JVM rule and the table join):
    the columns must be the bounds of the geometry beside them — a stale
    box prunes or misses real rows. Null geometry -> null bbox columns
    (any range conjunct then evaluates null and the row drops, and the
    join emits no cell for it, matching the refine's False on null)."""
    from .core.geometry import from_wkb

    @F.pandas_udf(", ".join(f"{p} double" for p in _BBOX))
    def geom_bbox(wkb: pd.Series) -> pd.DataFrame:
        rows = [(None,) * 4 if w is None else from_wkb(bytes(w)).bounds() for w in wkb]
        # bounds() is (xmin, ymin, xmax, ymax); emit in the declared order
        return pd.DataFrame(rows, columns=["xmin", "ymin", "xmax", "ymax"])[list(_BBOX)]

    b = f"__{geom_col}_bbox"
    return df.withColumn(b, geom_bbox(F.col(geom_col))).withColumns(
        {f"{geom_col}_{p}": F.col(f"{b}.{p}") for p in _BBOX}
    ).drop(b)


def with_point_cell_column(
    df: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    res: int = 8,
    name: str = "p_cell",
) -> DataFrame:
    """Writer-side step for point tables: materialize the Z2 cell of
    (lon, lat) at ``res`` as a LongType column — the layout key the JVM
    rule's cell-IN-list injection prunes against (reference: the Z2 index
    write key, geomesa-index-api Z2IndexKeySpace). Native codegen expression
    (core.cells.cell_sql_expr), zero Python at write OR read time. Pair with
    ``.write.partitionBy(name)`` so the injected IN list becomes a
    PartitionFilter (directory pruning), and activate with
    :func:`cell_pruning_conf`."""
    from .core import cells

    return df.withColumn(name, F.expr(cells.cell_sql_expr(lon, lat, res)))


def cell_pruning_conf(
    column: str = "p_cell",
    res: int = 8,
    max_cells: int = 2048,
    lon: str = "lon",
    lat: str = "lat",
) -> dict:
    """Session confs activating the JVM rule's cell-IN-list injection.
    Runtime confs (settable via ``spark.conf.set`` or passed to
    :func:`extended_session`). CONTRACT: ``column`` must equal
    ``core.cells.encode(lon, lat, res)`` of the coordinate columns the
    spatial UDFs receive — :func:`with_point_cell_column` writes exactly
    that. Same trust class as the ``{geom}_xmin`` bbox-column contract.

    The confs are session-global while the contract is per-table, so the
    coordinate column names are PART OF the registration: the rule injects
    only into predicates over exactly (``lon``, ``lat``), which keeps a
    second table's same-named cell column over DIFFERENT coordinates from
    being pruned with the wrong cover. Consequence: if your table's
    coordinate columns are not literally named lon/lat, you MUST pass
    their names here — otherwise the guard (correctly) refuses to inject
    and queries silently fall back to bbox-only pruning (visible as a
    missing p_cell PartitionFilter in the plan, never as wrong rows). Tables sharing all three names but
    written at different resolutions cannot be told apart — run one cell
    layout per session, or encode the res in the column name
    (``p_cell_r8`` / ``p_cell_r10``) and re-register between queries."""
    return {
        "spark.geomesaspark.cell.column": column,
        "spark.geomesaspark.cell.res": str(int(res)),
        "spark.geomesaspark.cell.maxCells": str(int(max_cells)),
        "spark.geomesaspark.cell.lonColumn": lon,
        "spark.geomesaspark.cell.latColumn": lat,
    }


def register_st_intersects_wkb(spark: SparkSession):
    """Register the exact geometry-column refine UDF the JVM rule
    recognizes: st_intersects_wkb(geom_wkb, wkt) -> boolean — full DE-9IM
    intersects of each row's WKB geometry against the WKT literal, through
    the geometry joins' batch refine; each distinct literal parses once per
    task. Null geometry -> False."""
    from .core.geometry import from_wkt
    from .operators.geometry_join import _relate_mask

    cache: dict[str, object] = {}

    @F.pandas_udf(T.BooleanType())
    def st_intersects_wkb(geom: pd.Series, wkt: pd.Series) -> pd.Series:
        for w in pd.unique(wkt):
            if w not in cache:
                cache[w] = from_wkt(w)
        queries = map(cache.__getitem__, wkt)
        return pd.Series(_relate_mask(geom, queries, "intersects"))

    return spark.udf.register("st_intersects_wkb", st_intersects_wkb)


def where_intersects_sql(
    spark: SparkSession, df: DataFrame, geom: str, wkt: str
) -> DataFrame:
    """Filter ``df`` to rows whose WKB geometry intersects the WKT literal
    through the PLAIN SQL path. With the extension active AND the table
    carrying with_bbox_columns' materialized bbox, the JVM rule injects
    bbox-overlap conjuncts that push into the scan; without either, the
    exact DE-9IM UDF scans every row."""
    register_st_intersects_wkb(spark)
    lit = wkt.replace("'", "''")
    return _sql_over_view(
        spark, df, "intersects", f"st_intersects_wkb(`{geom}`, '{lit}')"
    )


def where_dwithin_sql(
    spark: SparkSession,
    df: DataFrame,
    lon: str,
    lat: str,
    lon0: float,
    lat0: float,
    meters: float,
) -> DataFrame:
    """Filter ``df`` to rows within ``meters`` of (lon0, lat0) through the
    PLAIN SQL path; with the extension active the JVM rule injects the
    latitude-corrected bbox prefilter, without it the exact haversine UDF
    scans every row."""
    register_st_dwithin_pt(spark)
    return _sql_over_view(
        spark,
        df,
        "dwithin",
        f"st_dwithin_pt(`{lon}`, `{lat}`, "
        f"{float(lon0)!r}, {float(lat0)!r}, {float(meters)!r})",
    )


def where_pip_sql(
    spark: SparkSession, df: DataFrame, lon: str, lat: str, wkt: str
) -> DataFrame:
    """Filter ``df`` to rows inside the WKT polygon through the PLAIN SQL
    path — no engine planner involved; with the extension active the JVM
    rule injects the bbox prefilter, without it the UDF scans every row."""
    register_st_pip_wkt(spark)
    lit = wkt.replace("'", "''")  # SQL-literal escape
    return _sql_over_view(
        spark, df, "pip", f"st_pip_wkt(`{lon}`, `{lat}`, '{lit}')"
    )
