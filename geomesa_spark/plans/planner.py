"""Query planner: strategy selection + scan guards + plan explain.

Re-creates the decision layer of the reference's query lifecycle
(SURVEY.md §3.1 steps 2-3) in the Spark idiom:

- index/strategy choice by cost: ``StrategyDecider.getFilterPlan``
  (geomesa-index-api/.../planning/StrategyDecider.scala:67-168) scores each
  candidate FilterStrategy; static costs spatial=400, spatio-temporal=200,
  attribute-equality=1 (strategies/SpatialFilterStrategy.scala:46,
  SpatioTemporalFilterStrategy.scala:70, AttributeFilterStrategy) and the
  cheapest wins. Here the candidates are partition/cover pruning schemes.
- full-table-scan guard: ``QueryProperties.scala:40-54`` blocks unfiltered
  scans above a threshold unless explicitly allowed.
- physical join strategy: broadcast vs salted shuffle by cover size —
  ``spatial_join.join_strategy``; the planner exposes and explains it.

The planner does NOT re-do what Catalyst already does (predicate pushdown,
column pruning, join reordering, AQE). It decides the things Catalyst cannot
know: which cell cover to generate, whether the polygon side broadcasts, and
whether a scan without any index predicate should be refused.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from ..core.geometry import Geometry, from_wkt

# static costs, reference parity
COST_ATTRIBUTE_EQ = 1      # AttributeFilterStrategy equality
COST_SPATIOTEMPORAL = 200  # SpatioTemporalFilterStrategy.scala:70
COST_SPATIAL = 400         # SpatialFilterStrategy.scala:46
COST_TEMPORAL = 450
COST_FULL_SCAN = 10_000

BLOCK_FULL_SCAN_THRESHOLD = 1_000  # QueryProperties.scala:40-54 analog


class FullTableScanBlocked(Exception):
    pass


@dataclass
class SpatialQueryPlan:
    strategy: str                 # z2 | z3 | attribute | full-scan
    join_exec: str | None = None  # broadcast | shuffle | None
    cost: float = 0.0
    cover_contained: int = 0
    cover_overlapping: int = 0
    cover_resolutions: list[int] = field(default_factory=list)
    refine: str = "none"          # none | native-box | arrow-pip
    notes: list[str] = field(default_factory=list)

    def explain(self) -> str:
        lines = [
            f"== SpatialQueryPlan ==",
            f"strategy: {self.strategy} (cost {self.cost})",
        ]
        if self.join_exec:
            lines.append(f"join execution: {self.join_exec}")
        if self.cover_contained or self.cover_overlapping:
            lines.append(
                f"cover: {self.cover_contained} contained + "
                f"{self.cover_overlapping} overlapping cells "
                f"@ res {self.cover_resolutions}"
            )
        lines.append(f"row refine: {self.refine}")
        for n in self.notes:
            lines.append(f"note: {n}")
        return "\n".join(lines)


def plan_query(
    geom: Geometry | str | None = None,
    time_range: tuple | None = None,
    attr_equality: bool = False,
    est_rows: int | None = None,
    allow_full_scan: bool = False,
    res: int = 14,
    max_cells: int = 2048,
) -> SpatialQueryPlan:
    """Choose the scan strategy for a predicate spec (cheapest static cost
    wins, as CostBasedStrategyDecider does without stats)."""
    candidates: list[tuple[float, str]] = []
    if attr_equality:
        candidates.append((COST_ATTRIBUTE_EQ, "attribute"))
    if geom is not None and time_range is not None:
        candidates.append((COST_SPATIOTEMPORAL, "z3"))
    if geom is not None:
        candidates.append((COST_SPATIAL, "z2"))
    if geom is None and time_range is not None:
        candidates.append((COST_TEMPORAL, "temporal"))
    if not candidates:
        if not allow_full_scan and (est_rows or 0) > BLOCK_FULL_SCAN_THRESHOLD:
            raise FullTableScanBlocked(
                f"unfiltered scan over ~{est_rows} rows blocked "
                f"(> {BLOCK_FULL_SCAN_THRESHOLD}); pass allow_full_scan=True"
            )
        plan = SpatialQueryPlan(strategy="full-scan", cost=COST_FULL_SCAN)
        plan.notes.append("no indexable predicate; plain df.filter")
        return plan

    cost, strategy = min(candidates)
    plan = SpatialQueryPlan(strategy=strategy, cost=cost)

    if geom is not None and strategy in ("z2", "z3"):
        from ..operators.spatial_join import join_strategy, prepare_polygons

        if isinstance(geom, str):
            geom = from_wkt(geom)
        prepared = prepare_polygons({"q": geom}, res=res, max_cells=max_cells)
        plan.cover_contained = prepared.n_contained
        plan.cover_overlapping = prepared.n_overlapping
        plan.cover_resolutions = sorted({r for r, *_ in prepared.cover_rows})
        plan.join_exec = join_strategy(len(prepared.cover_rows))
        if prepared.n_overlapping == 0:
            plan.refine = "none"
            plan.notes.append("cover fully contained: loose-bbox fast path")
        elif prepared.all_boxes:
            plan.refine = "native-box"
        else:
            plan.refine = "arrow-pip"
    if strategy == "z3":
        plan.notes.append("partition pruning on (p_date range, p_cell in cover)")
    elif strategy == "z2":
        plan.notes.append("partition pruning on (p_cell in cover)")
    return plan
