"""Driver-side planning decisions (SURVEY.md §4 — "the optimizer we own").

Catalyst handles pushdown / pruning / codegen / AQE; the engine's own
decisions are the ones Catalyst cannot make because they depend on
engine-level statistics:

- join *level*: the cell-prefix level used for the coarse spatial join —
  finer level = fewer false candidates but a larger polygon covering;
- join *mode*: broadcast vs shuffle, from the covering size (the exploded
  build side, not the polygon count — SURVEY.md §4 "don't trust the 10MB
  default for exploded builds");
- *salt factor*: from heavy-hitter counts (engine/geo/skew.py);
- kNN ring level / initial radius from point-density estimates.
"""

from __future__ import annotations

from dataclasses import dataclass

from engine.geo.join import join_mode
from engine.geo.layer import PolygonLayer


@dataclass
class SpatialJoinPlan:
    level: int
    mode: str           # "broadcast" | "shuffle"
    covering_rows: int  # bbox upper bound


def choose_join_level(layer: PolygonLayer, max_cells: int = 4096,
                      min_level: int = 4, max_level: int = 16) -> int:
    """Finest level whose covering upper-bound stays within budget.

    Finer cells shrink the PIP candidate set (fewer partial-cell rows) at
    the cost of a bigger broadcast; max_cells bounds the build side.
    Cost is a driver-side bbox computation — no Spark job.
    """
    level = min_level
    for cand in range(min_level, max_level + 1):
        if layer.covering_size(cand) <= max_cells:
            level = cand
        else:
            break
    return level


def plan_spatial_join(layer: PolygonLayer, max_cells: int = 4096) -> SpatialJoinPlan:
    level = choose_join_level(layer, max_cells=max_cells)
    rows = layer.covering_size(level)
    return SpatialJoinPlan(level=level, mode=join_mode(rows), covering_rows=rows)


def choose_knn_level(n_points: int, k: int, min_level: int = 2,
                     max_level: int = 14) -> int:
    """Level where a 3x3 cell disk is expected to hold ~4k points.

    E[points per cell] = n / 4^level; want 9 * E >= 4k so that the first
    ring pass usually satisfies k and the expansion loop terminates in
    one round.
    """
    level = min_level
    for cand in range(min_level, max_level + 1):
        exp_per_disk = 9.0 * n_points / float(4 ** cand)
        if exp_per_disk >= 4.0 * k:
            level = cand
        else:
            break
    return level
