"""Non-point geometry join (XZ analog): parity vs brute-force relate()."""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geomesa_spark.core.geometry import box, from_wkt, relate, to_wkb
from geomesa_spark.operators.geometry_join import geometry_join

POLYS = {
    "west": "POLYGON((-30 -20, 10 -20, 10 25, -30 25, -30 -20))",
    "east": "POLYGON((5 -10, 40 -5, 45 30, 10 35, 5 -10))",  # non-box
}


def _fixture_geoms():
    rng = np.random.default_rng(5)
    geoms = []
    # small boxes scattered around the polygons (some straddle edges)
    for i in range(120):
        cx, cy = rng.uniform(-60, 70), rng.uniform(-40, 50)
        w, h = rng.uniform(0.5, 6, 2)
        geoms.append((f"box{i}", box(cx, cy, cx + w, cy + h)))
    # lines crossing / avoiding
    for i in range(40):
        x0, y0 = rng.uniform(-60, 70), rng.uniform(-40, 50)
        dx, dy = rng.uniform(-15, 15, 2)
        geoms.append(
            (
                f"line{i}",
                from_wkt(f"LINESTRING({x0} {y0}, {x0+dx} {y0+dy})"),
            )
        )
    return geoms


@pytest.mark.parametrize("predicate", ["intersects", "within"])
def test_geometry_join_parity(spark, predicate):
    geoms = _fixture_geoms()
    pdf = pd.DataFrame(
        {"gid": [g[0] for g in geoms], "geom": [to_wkb(g[1]) for g in geoms]}
    )
    df = spark.createDataFrame(pdf)
    got = (
        geometry_join(df, POLYS, geom_col="geom", predicate=predicate)
        .select("gid", "poly_id")
        .toPandas()
    )
    got_pairs = set(zip(got["gid"], got["poly_id"]))

    want_pairs = set()
    parsed = {pid: from_wkt(w) for pid, w in POLYS.items()}
    for gid, g in geoms:
        for pid, poly in parsed.items():
            if relate(g, poly, predicate):
                want_pairs.add((gid, pid))
    assert got_pairs == want_pairs
    assert len(want_pairs) > 10  # fixture actually exercises matches


def test_geometry_join_box_around_concave_polygon(spark):
    """The refine must find a row whose box contains a concave driver
    polygon with no boundary contact (the C's vertex mean lies in its gap)."""
    polys = {"c": "POLYGON((0 0, 3 0, 3 1, 1 1, 1 2, 3 2, 3 3, 0 3, 0 0))"}
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "gid": ["around", "gap", "far"],
                "geom": [
                    to_wkb(box(-1, -1, 4, 4)),
                    to_wkb(box(1.5, 1.2, 2.5, 1.8)),  # inside the C's gap
                    to_wkb(box(10, 10, 11, 11)),
                ],
            }
        )
    )
    out = geometry_join(df, polys, geom_col="geom", predicate="intersects")
    assert sorted(out.select("gid", "poly_id").collect()) == [("around", "c")]


def test_geometry_join_dedup(spark):
    """A geometry spanning many cells must appear once per polygon."""
    big = box(-25.0, -15.0, 8.0, 20.0)  # inside 'west', spans many cells
    df = spark.createDataFrame(
        pd.DataFrame({"gid": ["big"], "geom": [to_wkb(big)]})
    )
    out = geometry_join(df, POLYS, geom_col="geom").toPandas()
    assert list(out["poly_id"]).count("west") == 1


def test_geometry_join_generated_rid(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"geom": [to_wkb(box(0, 0, 1, 1))], "tag": ["t"]})
    )
    out = geometry_join(df, POLYS, geom_col="geom").toPandas()
    assert set(out.columns) == {"geom", "tag", "poly_id"}
    assert set(out["poly_id"]) == {"west"}  # box(0..1) is west of east's x>=5


def _matcher(polys=POLYS, res_j=8):
    """geometry_join's row-local batch body over ``polys``, called on the
    driver: (geoms, ts, windows) -> per row, the matched poly ids."""
    from geomesa_spark.operators.geometry_join import _geom_match, _poly_cells_at
    from geomesa_spark.operators.spatial_join import prepare_polygons

    parsed = {pid: from_wkt(w) for pid, w in polys.items()}
    cell_polys = _poly_cells_at(prepare_polygons(parsed, max_cells=2048).cover_rows, res_j)

    def match(geoms, ts=None, windows=None, predicate="intersects"):
        wkb = [None if g is None else to_wkb(g) for g in geoms]
        ts = [None] * len(geoms) if ts is None else ts
        return _geom_match(wkb, ts, cell_polys, parsed, predicate, res_j, windows)

    return match


def test_geom_match_distinct_ids_and_nulls():
    """A row spanning many cells of both polygons gets each id once; a null
    geometry, or a null ts when windows are given, matches nothing."""
    match = _matcher()
    big = box(-25.0, -15.0, 30.0, 20.0)  # many res-8 cells of west and east
    assert match([big, None, box(60, 60, 61, 61)]) == [["east", "west"], [], []]
    windows = {"west": (0.0, 10.0), "east": (0.0, 10.0)}
    assert match([big, big, big], ts=[5.0, None, float("nan")], windows=windows) == [
        ["east", "west"], [], []
    ]


def test_geom_match_half_open_windows():
    """[t0, t1) is half-open: a row at exactly t0 matches, one at t1 does
    not; an empty or reversed window matches nothing, and neither does a
    polygon missing from the windows."""
    match = _matcher()
    g = box(-10, -10, -8, -8)  # inside 'west' only
    t0, t1 = 1_704_067_200.0, 1_705_276_800.0
    rows, ts = [g] * 3, [t0, t1 - 1.0, t1]
    assert match(rows, ts, {"west": (t0, t1)}) == [["west"], ["west"], []]
    assert match(rows, ts, {"west": (t0, t0)}) == [[], [], []]
    assert match(rows, ts, {"west": (t1, t0)}) == [[], [], []]
    both = box(6, 0, 9, 3)  # inside 'west' and 'east'
    assert match([both], [t0], {"east": (t0, t1)}) == [["east"]]
    assert match([both], [t0], {}) == [[]]


def test_geometry_join_time_semantics_and_pruning(spark):
    """XZ3 analog: a row joins a polygon iff it intersects spatially AND
    its ts falls in the polygon's window. Pruning: the time test runs on
    the row's candidate ids, so an out-of-window row never reaches a
    relate, end to end and in the batch body."""
    from unittest import mock

    from geomesa_spark.operators.geometry_join import geometry_join_time

    gj = sys.modules["geomesa_spark.operators.geometry_join"]

    week = 604_800
    t0 = 1_704_067_200  # 2024-01-01
    geoms = [
        box(-10, -10, -8, -8),   # a: in west, week 0
        box(-10, -10, -8, -8),   # b: in west, week 5 (outside)
        box(11, 2, 13, 4),       # c: in east only, week 1
        box(60, 60, 61, 61),     # d: in neither
    ]
    ts = [
        float(t0 + 3 * 86400),
        float(t0 + 5 * week + 3600),
        float(t0 + week + 86400),
        float(t0),
    ]
    pdf = pd.DataFrame(
        {"gid": ["a", "b", "c", "d"], "geom": [to_wkb(g) for g in geoms], "ts_s": ts}
    )
    df = spark.createDataFrame(pdf)
    windows = {
        "west": (float(t0), float(t0 + 2 * week)),       # weeks 0-1
        "east": (float(t0 + week), float(t0 + 2 * week)),  # week 1 only
    }
    out = geometry_join_time(df, POLYS, windows, geom_col="geom", ts="ts_s").toPandas()
    assert set(zip(out["gid"], out["poly_id"])) == {("a", "west"), ("c", "east")}

    match = _matcher()
    with mock.patch.object(gj, "relate", wraps=gj.relate) as spy:
        assert match(geoms, ts, windows) == [["west"], [], ["east"], []]
    related = [c.args[0].bounds() for c in spy.call_args_list]
    # row a only: b is the same box in week 5, out of every window
    assert related.count(geoms[1].bounds()) == 1
    assert geoms[3].bounds() not in related  # d has no candidate cell


def test_geometry_join_tables_brute_force(spark):
    """Two-relation join vs brute force: multi-cell geometries pair ONCE
    (dedup), disjoint pairs absent, intersects includes containment."""
    import struct

    from geomesa_spark.operators.geometry_join import geometry_join_tables

    def box_wkb(x0, y0, x1, y1):
        coords = [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]
        return (
            b"\x01" + struct.pack("<III", 3, 1, 5)
            + b"".join(struct.pack("<dd", x, y) for x, y in coords)
        )

    # left: three boxes — one HUGE (spans many res-8 cells), one small, one far
    lrows = [
        (1, box_wkb(-30.0, -30.0, 30.0, 30.0)),   # huge
        (2, box_wkb(10.0, 10.0, 11.0, 11.0)),     # small, inside huge's range
        (3, box_wkb(150.0, 70.0, 151.0, 71.0)),   # far away
    ]
    # right: one box inside huge (containment), one overlapping small,
    # one disjoint from everything
    rrows = [
        (100, box_wkb(-1.0, -1.0, 1.0, 1.0)),
        (200, box_wkb(10.5, 10.5, 12.0, 12.0)),
        (300, box_wkb(-170.0, -80.0, -169.0, -79.0)),
    ]
    l = spark.createDataFrame(lrows, ["lid", "geom"])
    r = spark.createDataFrame(rrows, ["rid", "geom"])
    got = {
        (row["lid"], row["rid"])
        for row in geometry_join_tables(
            l, r, left_id="lid", right_id="rid"
        ).collect()
    }
    assert got == {(1, 100), (1, 200), (2, 200)}


@pytest.mark.parametrize("res", [4, 8, 10])
def test_geometry_join_tables_edge_geoms_brute_force(spark, res):
    """Every pair of the grid-edge geometries (plus boxes meeting on a res-8
    cell edge and a row repeating an id) against brute-force relate(), for
    several predicates: each true pair once — kept in its lowest shared
    cell — and each row of a repeated id paired on its own."""
    _edge_geoms_brute_force(spark, res, lambda df: df)


@pytest.mark.parametrize("res", [4, 8, 10])
def test_geometry_join_tables_edge_geoms_bbox_columns_brute_force(spark, res):
    """The same checks on inputs that carry ``with_bbox_columns``' boxes,
    which the join reads instead of deriving its own."""
    from geomesa_spark.extensions import with_bbox_columns

    _edge_geoms_brute_force(spark, res, with_bbox_columns)


def _edge_geoms_brute_force(spark, res, prepare):
    from geomesa_spark.operators.geometry_join import (
        geometry_join_tables,
        geometry_join_tables_candidates,
    )

    geoms = _edge_geoms() + [
        box(0.0, 0.0, 1.40625, 1.40625),          # meets the next two on
        box(1.40625, 0.0, 2.8125, 0.703125),      # res-8 cell edges
        box(-1.0, 1.40625, 1.40625, 2.0),
    ]
    ids = list(range(len(geoms))) + [0]           # id 0 twice
    geoms = geoms + [geoms[0]]
    pdf = pd.DataFrame({"gid": ids, "geom": [to_wkb(g) for g in geoms]})
    l = prepare(spark.createDataFrame(pdf.rename(columns={"gid": "lid"})))
    r = prepare(spark.createDataFrame(pdf.rename(columns={"gid": "rid"})))
    for predicate in ("intersects", "within", "touches"):
        got = sorted(
            (row["lid"], row["rid"])
            for row in geometry_join_tables(
                l, r, "lid", "rid", predicate=predicate, res_j=res
            ).collect()
        )
        want = sorted(
            (i, j)
            for i, a in zip(ids, geoms)
            for j, b in zip(ids, geoms)
            if relate(a, b, predicate)
        )
        assert got == want, predicate
        assert any(i != j for i, j in want), predicate
    # the candidate stage pairs rows, not ids: each row pairing once, so a
    # repeated id repeats its pairs
    cand = Counter(
        tuple(row)
        for row in geometry_join_tables_candidates(l, r, "lid", "rid", res_j=res).collect()
    )
    assert all(n == ids.count(i) * ids.count(j) for (i, j), n in cand.items())
    assert cand[(0, 0)] == 4
    assert {(i, j) for i, a in zip(ids, geoms) for j, b in zip(ids, geoms)
            if relate(a, b, "intersects")} <= set(cand)


def test_geometry_joins_refuse_disjoint(spark):
    """The joins only test pairs that share a grid cell, so ``disjoint``
    would silently return almost nothing: every join refuses it."""
    from geomesa_spark.operators.geometry_join import (
        geometry_join_tables,
        geometry_join_time,
    )

    df = spark.createDataFrame(
        pd.DataFrame({"gid": [1], "geom": [to_wkb(box(0, 0, 1, 1))], "ts_s": [0.0]})
    )
    other = df.withColumnRenamed("gid", "oid")
    with pytest.raises(ValueError, match="disjoint"):
        geometry_join(df, POLYS, predicate="disjoint")
    with pytest.raises(ValueError, match="disjoint"):
        geometry_join_time(df, POLYS, {"west": (0.0, 1.0)}, predicate="DISJOINT")
    with pytest.raises(ValueError, match="disjoint"):
        geometry_join_tables(df, other, "gid", "oid", predicate="disjoint")


def test_geometry_join_tables_int32_ids_and_same_name_guard(spark):
    """int32 id columns must work without caller-side casts (the native
    cell keys carry any id dtype), and identical id names on both sides
    are rejected up front."""
    import struct

    from pyspark.sql import functions as F

    from geomesa_spark.operators.geometry_join import geometry_join_tables

    def box_wkb(x0, y0, x1, y1):
        coords = [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]
        return (
            b"\x01" + struct.pack("<III", 3, 1, 5)
            + b"".join(struct.pack("<dd", x, y) for x, y in coords)
        )

    l = spark.createDataFrame(
        [(1, box_wkb(0.0, 0.0, 2.0, 2.0))], ["lid", "geom"]
    ).withColumn("lid", F.col("lid").cast("int"))
    r = spark.createDataFrame(
        [(9, box_wkb(1.0, 1.0, 3.0, 3.0))], ["rid", "geom"]
    ).withColumn("rid", F.col("rid").cast("int"))
    got = geometry_join_tables(l, r, left_id="lid", right_id="rid").collect()
    assert [(row["lid"], row["rid"]) for row in got] == [(1, 9)]
    with pytest.raises(ValueError, match="must differ"):
        geometry_join_tables(l, r.withColumnRenamed("rid", "lid"),
                             left_id="lid", right_id="lid")


def test_geometry_join_time_window_ending_on_bin_boundary(spark):
    """A half-open window [t0, t1) whose t1 falls on a week boundary: at
    epoch-second magnitudes (~1.7e9) ``t1 - 1e-9 == t1``, so an end test
    written that way would admit a row at t1; an empty window on a
    boundary matches nothing."""
    from geomesa_spark.operators.geometry_join import geometry_join_time

    week = 604_800
    t0, t1 = float(2817 * week + 100), float(2819 * week)
    g = box(-10, -10, -8, -8)  # inside 'west'
    match = _matcher({"west": POLYS["west"]})
    assert match([g] * 3, [t1 - 1.0, t1, t1 + 1.0], {"west": (t0, t1 + 1.0)}) == [
        ["west"], ["west"], []
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"gid": ["in", "at_end", "after"], "geom": [to_wkb(g)] * 3,
                      "ts_s": [t0 + 3600.0, t1, t1 + 3600.0]})
    )

    def ids(window):
        out = geometry_join_time(
            df, {"west": POLYS["west"]}, {"west": window}, geom_col="geom", ts="ts_s"
        )
        return {r["gid"] for r in out.collect()}

    assert ids((t0, t1)) == {"in"}
    assert ids((t1, t1)) == set()
    assert ids((t1, t0)) == set()


def _edge_geoms():
    """Bounding boxes on the grid's awkward spots."""
    return [
        box(-180.0, -90.0, -179.0, -89.0),        # lon -180 / lat -90 corner
        box(179.5, 89.5, 180.0, 90.0),            # lon +180 / lat +90 corner
        box(-180.0, -1.0, 180.0, 1.0),            # full-width band
        box(12.3, 45.6, 12.3, 45.6),              # zero area
        box(1.40625, 0.703125, 2.8125, 1.40625),  # exact res-8 cell edges
        from_wkt("LINESTRING(-20.5 -33.2, 14.1 8.7)"),
    ]


@pytest.mark.parametrize("res", [4, 8, 10])
def test_bbox_cell_keys_match_numpy_reference(spark, res):
    """Native bbox cells over ``with_bbox_columns``' boxes equal the numpy
    grid coords over Geometry.bounds(), each row carrying its box's first
    cell; the int32 id and the geometry pass through, the bbox columns are
    dropped, and a null geometry emits no row (a null bound must not clamp
    into cell 0)."""
    from geomesa_spark.core import cells
    from geomesa_spark.extensions import with_bbox_columns
    from geomesa_spark.operators.geometry_join import _bbox_cell_keys

    geoms = _edge_geoms()
    want = set()
    for gid, g in enumerate(geoms):
        x0, y0, x1, y1 = g.bounds()
        (cx0, cx1), (cy0, cy1) = cells.xy_of([x0, x1], [y0, y1], res)
        want |= {
            (gid, int(x), int(y), int(cx0), int(cy0))
            for x in range(cx0, cx1 + 1)
            for y in range(cy0, cy1 + 1)
        }
    null_gid = len(geoms)
    wkb = [to_wkb(g) for g in geoms] + [None]
    df = spark.createDataFrame(
        pd.DataFrame({"gid": np.arange(null_gid + 1, dtype=np.int32), "geom": wkb}),
        schema="gid int, geom binary",
    )
    keys = _bbox_cell_keys(with_bbox_columns(df), "geom", res)
    assert keys.columns == ["gid", "geom", "__x", "__y", "__x0", "__y0"]
    assert keys.schema["gid"].dataType.simpleString() == "int"
    rows = keys.collect()
    assert all(bytes(r["geom"]) == wkb[r["gid"]] for r in rows)
    got = [(r["gid"], r["__x"], r["__y"], r["__x0"], r["__y0"]) for r in rows]
    assert len(got) == len(set(got))
    assert null_gid not in {gid for gid, *_ in got}
    assert set(got) == want


def _python_nodes(df):
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts"))
    from show_plans import PYTHON_NODES

    plan = df._jdf.queryExecution().executedPlan().toString()
    return [ln for ln in plan.splitlines() if re.search("|".join(PYTHON_NODES), ln)]


def _subtrees(df, node):
    """The plan lines below each ``node`` of df's physical plan."""
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    col = [ln.find("+- ") + 3 for ln in lines]  # where each node's name starts
    out = []
    for i, ln in enumerate(lines):
        if ln[col[i]:].startswith(node):
            j = i + 1
            while j < len(lines) and col[j] > col[i]:
                j += 1
            out.append(lines[i + 1:j])
    return out


def test_geometry_join_tables_bbox_udf_once_per_side(spark):
    """Over UDF-built WKB a side without bbox columns parses its geometry
    for the bbox in ONE geom_bbox ArrowEvalPython, and the refine reads the
    geometries the join carried: no re-fetch of either side. With small
    inputs the re-spread exchange sits between the WKB UDF and geom_bbox,
    and each side's WKB UDF still runs once per row. A side that carries
    ``{geom}_xmin/..`` columns (as the catalog entry's do) is keyed by them
    as is: no geom_bbox node and no exchange below its cell explode."""
    from geomesa_spark.operators.geometry_join import geometry_join_tables

    calls = spark.sparkContext.accumulator(0)

    @F.pandas_udf("binary")
    def box_wkb(v: pd.Series) -> pd.Series:
        calls.add(len(v))
        return pd.Series([to_wkb(box(x, x / 2, x + 3, x / 2 + 3)) for x in v])

    def side(n, id_col, parts=None, boxed=False):
        x = (F.col("id") % 40).cast("double")
        bbox = {"xmin": x, "xmax": x + 3, "ymin": x / 2, "ymax": x / 2 + 3}
        return spark.range(n, numPartitions=parts).select(
            F.col("id").alias(id_col), box_wkb(x).alias("geom"),
            *(c.alias(f"geom_{p}") for p, c in bbox.items() if boxed),
        )

    def bbox_nodes(nodes):
        return [n for n in nodes if re.search(r"\bgeom_bbox\(", n)]

    joined = geometry_join_tables(side(200, "lid"), side(50, "rid"), "lid", "rid")
    nodes = _python_nodes(joined)
    assert len(bbox_nodes(nodes)) == 2
    assert all("ArrowEvalPython" in n for n in bbox_nodes(nodes))
    # one bbox node per side and the refine: no re-fetch, no dedup
    assert len(nodes) == 3

    small = geometry_join_tables(side(200, "lid", 1), side(50, "rid", 1), "lid", "rid")
    nodes = _python_nodes(small)
    assert len(nodes) == 5
    assert sum("box_wkb" in n for n in nodes) == 2
    assert not any("box_wkb" in n and "geom_bbox" in n for n in nodes)
    calls.value = 0
    assert small.count() > 0
    assert calls.value == 250

    boxed = geometry_join_tables(
        side(200, "lid", 1, boxed=True), side(50, "rid", 1, boxed=True), "lid", "rid"
    )
    nodes = _python_nodes(boxed)
    assert len(nodes) == 3 and not bbox_nodes(nodes)
    assert sum("box_wkb" in n for n in nodes) == 2
    below = _subtrees(boxed, "Generate")
    assert below and not any("Exchange" in ln for sub in below for ln in sub)
    want = sorted(small.collect())
    calls.value = 0
    assert sorted(boxed.collect()) == want
    assert calls.value == 250


def test_bbox_udf_fields_in_schema_order(spark):
    """geom_bbox emits its columns in the declared (xmin, xmax, ymin, ymax)
    order, so the struct is right also when Spark assigns pandas columns
    by position rather than by name."""
    from geomesa_spark.extensions import with_bbox_columns

    key = "spark.sql.legacy.execution.pandas.groupedMap.assignColumnsByName"
    df = spark.createDataFrame(
        pd.DataFrame({"geom": [to_wkb(box(1.0, 2.0, 3.0, 4.0))]})
    )
    spark.conf.set(key, "false")
    try:
        row = with_bbox_columns(df).first()
    finally:
        spark.conf.unset(key)
    assert (row["geom_xmin"], row["geom_xmax"], row["geom_ymin"],
            row["geom_ymax"]) == (1.0, 3.0, 2.0, 4.0)


def test_geometry_join_plan_one_python_node_per_side(spark):
    """Over UDF-built WKB the polygon-dict join is one row-local step: one
    geom_match ArrowEvalPython, the fixture UDF evaluated once, and no
    exchange below geom_match but the round-robin spread (no dedup
    exchange, no re-fetch join)."""
    from geomesa_spark.operators.geometry_join import geometry_join

    def fixture_box(x):
        return box(x, x / 2, x + 3, x / 2 + 3)

    @F.pandas_udf("binary")
    def box_wkb(v: pd.Series) -> pd.Series:
        return pd.Series([to_wkb(fixture_box(x)) for x in v])

    rows = spark.range(200, numPartitions=1).select(
        F.col("id").alias("gid"), box_wkb((F.col("id") % 40 - 20).cast("double")).alias("geom")
    )
    joined = geometry_join(rows, POLYS)
    nodes = _python_nodes(joined)
    assert len(nodes) == 2
    assert sum("geom_match" in n and "ArrowEvalPython" in n for n in nodes) == 1
    assert sum("box_wkb" in n for n in nodes) == 1
    plan = joined._jdf.queryExecution().executedPlan().toString().splitlines()
    exchanges = [i for i, ln in enumerate(plan) if "Exchange" in ln]
    match_at = next(i for i, ln in enumerate(plan) if "geom_match" in ln)
    assert len(exchanges) == 1 and exchanges[0] > match_at
    assert "RoundRobinPartitioning" in plan[exchanges[0]]
    got = {(r["gid"], r["poly_id"]) for r in joined.collect()}
    parsed = {pid: from_wkt(w) for pid, w in POLYS.items()}
    want = {
        (i, pid)
        for i in range(200)
        for pid, poly in parsed.items()
        if relate(fixture_box(i % 40 - 20), poly, "intersects")
    }
    assert got == want and want
