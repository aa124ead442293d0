"""Frontier traversal over KG edge frames (SURVEY §2.8 G1-G2).

Reference parity: /root/reference/knovex/utils/pyg_graph_functionals.py —
mask propagation (27-56) and BFS layers (59-82) — re-expressed as
DataFrame join loops (the GraphX/Pregel aggregateMessages pattern: a
frontier join per superstep).  ``queries/reasoning.py`` uses BFS to
bound the reachable sub-KG; ``ops/graph.py`` re-exports these beside
its other graph functionals.

Scale notes: each BFS level is one equi-join frontier ⋈ edges plus a
distinct.  The frontier side carries an EXPLICIT broadcast hint by
default (``small_frontier=True``): frontier frames come from
createDataFrame/localCheckpoint and carry no stats, so without the
hint Spark plans a SortMergeJoin that SHUFFLES THE WHOLE EDGE SET per
superstep — and AQE cannot save the cost, because by the time runtime
stats exist the edge shuffle has already run (measured round 4: 2 SMJ,
0 broadcasts on a 1-node frontier against 2.7M edges).  Pass
``small_frontier=False`` for expander-scale frontiers that would not
fit a broadcast.  ``localCheckpoint`` per level truncates the
iterative lineage (SURVEY §4.2).  Iteration count is bounded by graph
diameter, the standard Pregel assumption.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def propagate(
    frontier: DataFrame,
    edges: DataFrame,
    direction: str = "forward",
    small_frontier: bool = True,
) -> DataFrame:
    """G1: one-step neighbor expansion.  frontier: (node); edges:
    (h, t [, r])."""
    if direction == "forward":
        src, dst = "h", "t"
    elif direction == "backward":
        src, dst = "t", "h"
    else:
        raise ValueError(direction)
    f = frontier.withColumnRenamed("node", src)
    if small_frontier:
        f = F.broadcast(f)
    return (
        f.join(edges.select(src, dst), src)
        .select(F.col(dst).alias("node"))
        .distinct()
    )


def _bfs_next(
    frontier: DataFrame,
    edges: DataFrame,
    visited: DataFrame,
    direction: str = "forward",
    small_frontier: bool = True,
) -> DataFrame:
    """One BFS superstep BEFORE checkpointing: expand the frontier one
    hop and anti-join the visited set away.  Factored out so the
    plan-shape tests can pin the per-level join strategy (the loop
    checkpoints each level, which hides the joins from the returned
    frame's plan).  The visited side carries the same broadcast policy
    as the frontier: both are level-set-sized frames with no stats, and
    without the hint the anti-join plans as a whole-edge-output SMJ."""
    vis = visited.select("node")
    if small_frontier:
        vis = F.broadcast(vis)
    return (
        propagate(frontier, edges, direction, small_frontier=small_frontier)
        .join(vis, "node", "left_anti")
        .distinct()
    )


def bfs_layers(
    seeds: DataFrame,
    edges: DataFrame,
    max_depth: int = 20,
    direction: str = "forward",
    small_frontier: bool = True,
) -> DataFrame:
    """G2: BFS level sets — (node, layer), layer 0 = seeds.  Repeated G1
    with visited-set subtraction; terminates on empty frontier or
    max_depth."""
    visited = seeds.select("node").distinct().withColumn("layer", F.lit(0))
    frontier = visited.select("node")
    for depth in range(1, max_depth + 1):
        nxt = _bfs_next(
            frontier, edges, visited, direction, small_frontier
        ).localCheckpoint()
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt.withColumn("layer", F.lit(depth)))
        frontier = nxt
    return visited
