#!/usr/bin/env python
"""Dump physical plans for headline queries into PLANS.md — the evidence that
filters push to the scan, joins broadcast, and hot paths stay in codegen."""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")

HEADLINE = [
    "geo_pip_join",
    "geo_pip_convex",
    "geo_cell_density",
    "geo_tile_pyramid",
    "geo_z3_cells",
    "geo_knn",
    "geo_knn_table",
    "tpch_q1",
    "join_revenue_by_nation",
    "geo_proximity_join",
    "geo_tube_select",
    "geo_route_search",
    "ann_ivf_udf",
    "ann_pq",
    "geo_geom_join_time",
    "geo_where_spatial",
    "embed_neardup",
    "minhash_pairs_banded",
    "text_winnow_pairs",
    "text_dup_spans",
    "text_dup_spans_hashed",
    "text_bm25",
    "events_sessionize",
    "events_asof",
    "events_funnel",
    "events_transitions",
    "events_cohorts",
    "geo_geom_join_tables",
    "geo_where_geom",
    "geo_pip_s2",
    "img_phash_pairs",
    "img_tile_mosaic",
    "img_resize",
    "text_scrub",
]


# the physical nodes that run Python workers; tests count them too
PYTHON_NODES = ("ArrowEvalPython", "MapInArrow", "MapInPandas", "FlatMapGroupsInPandas")
PYTHON_NODE = re.compile(rf"^\(\d+\) ({'|'.join(PYTHON_NODES)})\b", re.M)


def python_nodes(formatted_plan: str) -> int:
    """Python plan nodes in an ``explain("formatted")`` dump: each node has
    exactly one numbered detail entry, ``(N) <name>``."""
    return len(PYTHON_NODE.findall(formatted_plan))


def main() -> None:
    from geomesa_spark.catalog import ALL_QUERIES as QUERIES
    from geomesa_spark.session import get_spark

    spark = get_spark(cpus=8, app="plans")
    spark.sparkContext.setLogLevel("ERROR")
    out = ["# PLANS — physical plans of headline queries (sf0.01)\n"]
    out.append(
        "Generated by `python scripts/show_plans.py`. Things to check per plan:\n"
        "filters appear in `PushedFilters`/partition filters at the scan;\n"
        "small sides broadcast (`BroadcastHashJoin`); `WholeStageCodegen` spans\n"
        "cover the hot expressions; Python appears only in deliberate\n"
        "`ArrowEvalPython`/`MapInArrow`/`MapInPandas`/`FlatMapGroupsInPandas`\n"
        "stages, counted per query as `Python nodes: N`.\n"
    )
    for name in HEADLINE:
        fn, _ = QUERIES[name]
        df = fn(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue().strip()
        out.append(
            f"\n## {name}\n\nPython nodes: {python_nodes(plan)}\n\n```\n{plan}\n```\n"
        )
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
