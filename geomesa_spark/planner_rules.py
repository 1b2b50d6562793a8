"""Spatial predicate rewrite — the SpatialOptimizationsRule content.

From-scratch analog of the reference's Catalyst extension
(``org/apache/spark/sql/SQLRules.scala``): its rule walks Filter/Join nodes,
translates ``st_*`` ScalaUDF calls over literal geometries into GeoTools
filters pushed into the relation (:216-254, translation table :36-141), and
leaves untranslatable conjuncts behind as residual Spark filters. Two layers
share that job here. A real Catalyst rule (``extensions.py`` +
``jvm/src/geomesaspark/ext/BBoxPrefilterRule.java``) injects bbox and
``p_cell IN (...)`` pushdown conjuncts into plain ``spark.sql`` filters over
the exact refine UDFs. This module works on the predicate STRING before any
plan exists (``Engine.where_spatial``): it picks the physical strategy a
Filter rule cannot choose, routing each conjunct to the cell-cover spatial
join, the proximity join or the geometry join, with the rest left as
residual filters.

Parser: a tiny top-level call/arg splitter (quote- and paren-aware), not
regexes — so nested constructors (``st_makeBBOX`` inside ``st_intersects``)
and any argument order compose.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

_NUM = re.compile(r"^[-+]?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?$")
_IDENT = re.compile(r"^[A-Za-z_]\w*$")

# predicate -> include_boundary for the cell-cover join refine
_COVER_PREDS_GEOM_FIRST = {"st_intersects": True, "st_contains": False, "st_covers": True}
_COVER_PREDS_POINT_FIRST = {"st_intersects": True, "st_within": False}

# WKB geometry COLUMN routes (the XZ path): st_pred(geom_lit, geom_col) /
# st_pred(geom_col, geom_lit) -> geometry_join predicate, expressed in the
# row-geom <predicate> polygon orientation geometry_join uses.
# contains(lit, col) == within(col, lit); covers(lit, col) == coveredby(col, lit).
_GEOM_PREDS_LIT_FIRST = {
    "st_intersects": "intersects",
    "st_contains": "within",
    "st_covers": "coveredby",
}
_GEOM_PREDS_COL_FIRST = {
    "st_intersects": "intersects",
    "st_within": "within",
    "st_coveredby": "coveredby",
}


def _parse_call(s: str):
    """'st_foo(a, b, ...)' -> (name_lower, [raw_args]) or None."""
    m = re.match(r"^\s*(st_\w+)\s*\((.*)\)\s*$", s, re.S)
    if not m:
        return None
    name, inner = m.group(1).lower(), m.group(2)
    args, depth, cur, quoted = [], 0, [], False
    for ch in inner:
        if ch == "'":
            quoted = not quoted
        if not quoted:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                args.append("".join(cur).strip())
                cur = []
                continue
        cur.append(ch)
    if depth != 0 or quoted:
        return None
    last = "".join(cur).strip()
    if last:
        args.append(last)
    return name, args


def _as_geom_wkt(arg: str) -> str | None:
    """Literal geometry argument -> WKT (st_geomFromWKT string or
    st_makeBBOX over numeric literals), else None."""
    c = _parse_call(arg)
    if not c:
        return None
    name, a = c
    if name in ("st_geomfromwkt", "st_geometryfromtext", "st_polygonfromtext"):
        if len(a) == 1 and len(a[0]) >= 2 and a[0][0] == "'" and a[0][-1] == "'":
            return a[0][1:-1]
        return None
    if name in ("st_makebbox", "st_makebox2d"):
        if len(a) == 4 and all(_NUM.match(x) for x in a):
            x0, y0, x1, y1 = (float(x) for x in a)
            return (
                f"POLYGON(({x0} {y0}, {x1} {y0}, {x1} {y1}, "
                f"{x0} {y1}, {x0} {y0}))"
            )
    return None


def _as_point_cols(arg: str):
    """st_makePoint(lon_col, lat_col) over identifiers -> (lon, lat)."""
    c = _parse_call(arg)
    if c and c[0] in ("st_makepoint", "st_point") and len(c[1]) == 2 and all(
        _IDENT.match(x) for x in c[1]
    ):
        return c[1][0], c[1][1]
    return None


def _as_geom_col(arg: str, df: DataFrame) -> str | None:
    """Bare identifier naming a BINARY column of df -> that column name
    (WKB geometry columns are opaque binary, the reference's attribute
    convention — SparkUtils.scala:126-129), else None."""
    from pyspark.sql.types import BinaryType

    if not _IDENT.match(arg):
        return None
    for f in df.schema.fields:
        if f.name == arg and isinstance(f.dataType, BinaryType):
            return arg
    return None


def _point_coords(wkt: str):
    m = re.match(
        r"^\s*POINT\s*\(\s*([-+0-9.eE]+)\s+([-+0-9.eE]+)\s*\)\s*$", wkt, re.I
    )
    return (float(m.group(1)), float(m.group(2))) if m else None


def split_conjuncts(s: str) -> list[str]:
    """Top-level AND split (paren- and quote-aware)."""
    out, depth, cur, quoted = [], 0, [], False
    tokens = re.split(r"('|\(|\)|\bAND\b)", s, flags=re.IGNORECASE)
    for t in tokens:
        if t == "'":
            quoted = not quoted
        elif not quoted:
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            elif depth == 0 and t.upper().strip() == "AND":
                out.append("".join(cur).strip())
                cur = []
                continue
        cur.append(t)
    out.append("".join(cur).strip())
    return [c for c in out if c]


def rewrite_spatial_predicate(df: DataFrame, predicate: str) -> DataFrame:
    """Apply ``predicate`` to ``df`` with spatial conjuncts rewritten to
    index-backed operators; see Engine.where_spatial for the contract."""
    from .operators.geometry_join import geometry_join
    from .operators.proximity import proximity_join
    from .operators.spatial_join import spatial_join

    for i, conj in enumerate(split_conjuncts(predicate)):
        call = _parse_call(conj)
        rewritten = False
        if call:
            name, args = call
            if name in _COVER_PREDS_GEOM_FIRST and len(args) == 2:
                wkt = _as_geom_wkt(args[0])
                cols = _as_point_cols(args[1])
                if wkt and cols:
                    df = spatial_join(
                        df, {f"__q{i}": wkt}, lon=cols[0], lat=cols[1],
                        include_boundary=_COVER_PREDS_GEOM_FIRST[name],
                    ).drop("poly_id")
                    rewritten = True
            if not rewritten and name in _COVER_PREDS_POINT_FIRST and len(args) == 2:
                cols = _as_point_cols(args[0])
                wkt = _as_geom_wkt(args[1])
                if wkt and cols:
                    df = spatial_join(
                        df, {f"__q{i}": wkt}, lon=cols[0], lat=cols[1],
                        include_boundary=_COVER_PREDS_POINT_FIRST[name],
                    ).drop("poly_id")
                    rewritten = True
            # WKB geometry column vs literal geometry -> the XZ join path
            # (SQLRules.scala:36-141 translates non-point geometry
            # predicates too; round-3 handled point columns only)
            if not rewritten and name in _GEOM_PREDS_LIT_FIRST and len(args) == 2:
                wkt = _as_geom_wkt(args[0])
                gcol = _as_geom_col(args[1], df)
                if wkt and gcol:
                    df = geometry_join(
                        df, {f"__q{i}": wkt}, geom_col=gcol,
                        predicate=_GEOM_PREDS_LIT_FIRST[name],
                    ).drop("poly_id")
                    rewritten = True
            if not rewritten and name in _GEOM_PREDS_COL_FIRST and len(args) == 2:
                gcol = _as_geom_col(args[0], df)
                wkt = _as_geom_wkt(args[1])
                if wkt and gcol:
                    df = geometry_join(
                        df, {f"__q{i}": wkt}, geom_col=gcol,
                        predicate=_GEOM_PREDS_COL_FIRST[name],
                    ).drop("poly_id")
                    rewritten = True
            if not rewritten and name == "st_dwithin" and len(args) == 3 and _NUM.match(args[2]):
                meters = float(args[2])
                for lit_arg, col_arg in ((args[0], args[1]), (args[1], args[0])):
                    wkt = _as_geom_wkt(lit_arg)
                    cols = _as_point_cols(col_arg)
                    pt = _point_coords(wkt) if wkt else None
                    if pt and cols:
                        df = proximity_join(
                            df, {f"__q{i}": pt}, meters,
                            lon=cols[0], lat=cols[1],
                        ).drop("site_id", "dist_m")
                        rewritten = True
                        break
        if not rewritten:
            df = df.filter(conj)
    return df
