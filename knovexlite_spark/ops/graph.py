"""Generic graph functionals (SURVEY §2.8 G1-G3).

Reference parity: /root/reference/knovex/utils/pyg_graph_functionals.py —
topological order (85-117) — re-expressed as a DataFrame join loop
(the GraphX/Pregel aggregateMessages pattern: a frontier join per
superstep); connected components and PageRank follow the same
pattern.  Mask propagation and BFS layers (G1-G2) live in the core,
``knovexlite_spark.kg.traverse``, and are re-exported here; their
scale notes (broadcast frontier sides, ``localCheckpoint`` per level)
hold for the Kahn loop below too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from knovexlite_spark.kg.traverse import _bfs_next, bfs_layers, propagate  # noqa: F401 - re-export


def _kahn_strip_nodes(
    remaining_nodes: DataFrame, zero_in: DataFrame, small_layer: bool = True
) -> DataFrame:
    """Remove the eliminated layer from the node set.  zero_in is one
    Kahn layer (usually small); hinting it makes the anti-join build a
    broadcast hash set instead of shuffling the node set per round.
    Factored out (with _kahn_strip_edges) so plan-shape tests can pin
    the per-round join strategy the loop's checkpoints would hide."""
    layer = F.broadcast(zero_in) if small_layer else zero_in
    return remaining_nodes.join(layer, "node", "left_anti")


def _kahn_strip_edges(
    remaining_edges: DataFrame, zero_in: DataFrame, small_layer: bool = True
) -> DataFrame:
    """Remove edges whose source was eliminated this round (same
    broadcast policy as _kahn_strip_nodes)."""
    layer = zero_in.withColumnRenamed("node", "h")
    if small_layer:
        layer = F.broadcast(layer)
    return remaining_edges.join(layer, "h", "left_anti")


def topological_order(
    nodes: DataFrame,
    edges: DataFrame,
    max_iter: int = 100,
    small_layer: bool = True,
) -> DataFrame:
    """G3: Kahn frontier elimination — (node, topo_layer).  Each round
    removes the current zero-in-degree set; cycles leave a non-empty
    residue, reported with topo_layer = -1.

    Unlike a BFS frontier, a Kahn layer is not diameter-bounded — in a
    wide/shallow DAG the first layer (every zero-in-degree node) can be
    nearly the whole node set.  ``small_layer=False`` drops the
    broadcast hint for such graphs, mirroring ``small_frontier``."""
    remaining_nodes = nodes.select("node").distinct().localCheckpoint()
    remaining_edges = edges.select("h", "t").localCheckpoint()
    out = None
    for layer in range(max_iter):
        with_preds = remaining_edges.select(F.col("t").alias("node")).distinct()
        zero_in = remaining_nodes.join(with_preds, "node", "left_anti").localCheckpoint()
        if zero_in.isEmpty():
            break
        tagged = zero_in.withColumn("topo_layer", F.lit(layer))
        out = tagged if out is None else out.unionByName(tagged)
        remaining_nodes = _kahn_strip_nodes(
            remaining_nodes, zero_in, small_layer
        ).localCheckpoint()
        remaining_edges = _kahn_strip_edges(
            remaining_edges, zero_in, small_layer
        ).localCheckpoint()
    if out is None:
        out = remaining_nodes.withColumn("topo_layer", F.lit(-1)).limit(0)
    cyclic = remaining_nodes.join(out.select("node"), "node", "left_anti").withColumn(
        "topo_layer", F.lit(-1)
    )
    return out.unionByName(cyclic)


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over undirected edges: (node, component),
    component = MIN node id in the component (so singletons label
    themselves and the component id doubles as a canonical
    representative — the thing a dedup pipeline keeps).

    Algorithm: hash-to-min label propagation WITH pointer jumping —
    each round every node takes the min over {its label, its neighbors'
    labels, its label's label}.  The label-of-label hop is what turns
    O(diameter) rounds into O(log diameter) (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14): long
    chains collapse by doubling instead of one hop per round.  Each
    round is two equi-joins plus one combinable min-agg; no step ever
    materializes more than |edges| + |nodes| rows, so the shape holds
    at 100 TB where a collect-and-union-find would not.

    Convergence detection is O(1) per round: labels only ever decrease,
    so the global SUM(label) strictly decreases until fixpoint — one
    scalar agg per round instead of an old-vs-new anti-join.
    ``localCheckpoint`` per round truncates the iterative lineage.

    nodes: (node) — must cover every endpoint plus any singletons that
    should appear in the output; edges: (h, t), treated as undirected.
    """
    und = edges.select("h", "t").unionByName(
        edges.select(F.col("t").alias("h"), F.col("h").alias("t"))
    )
    labels = (
        nodes.select("node").distinct().withColumn("label", F.col("node"))
    ).localCheckpoint()
    prev_sum = labels.agg(F.sum("label")).first()[0]
    for _ in range(max_iter):
        nbr = und.join(labels.withColumnRenamed("node", "h"), "h").select(
            F.col("t").alias("node"), "label"
        )
        jump = labels.alias("a").join(
            labels.select(
                F.col("node").alias("label"), F.col("label").alias("label2")
            ),
            "label",
        ).select("node", F.col("label2").alias("label"))
        labels = (
            labels.unionByName(nbr)
            .unionByName(jump)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        ).localCheckpoint()
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.withColumnRenamed("label", "component")


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src_col: str = "h",
    dst_col: str = "t",
    ckpt_every: int = 4,
    tol: float | None = None,
    redistribute_dangling: bool = False,
    stats: dict | None = None,
) -> DataFrame:
    """PageRank over a directed edge list: (node, pr) after
    ``iterations`` synchronous power steps of

        pr'(v) = (1 - d) + d * sum over in-edges (pr(u) / outdeg(u))

    (the un-normalized per-node form of Brin & Page 1998, the one
    GraphX ships; dangling nodes contribute nothing, so total mass
    decays by their share per step — the standard simplification,
    documented rather than hidden).

    ``redistribute_dangling=True`` switches to the standard normalized
    treatment: each step the dangling nodes' summed rank is shared
    equally — pr'(v) = (1-d) + d*(sum contribs + D/n) with
    D = sum pr(u) over outdeg-less u — so total mass converges to n
    instead of decaying.  Cost: ONE extra scalar aggregation per step
    (a 1-row broadcast crossJoin; no new node- or edge-sized joins).

    ``stats``: optional dict; on return ``stats["iterations"]`` holds
    the number of power steps actually run (== iterations unless
    ``tol`` stopped early).  This replaces reading the legacy
    ``pagerank.last_iterations`` function attribute, which is shared
    module state — concurrent pagerank calls in one driver race on it
    (it is still written, last-caller-wins, for compatibility).

    ``tol``: optional early stop — after each step the L1 delta
    sum(|pr' - pr|) is reduced to ONE scalar (the connected_components
    sum-trick shape: a single agg per round, never an old-vs-new
    anti-join) and iteration stops when delta <= tol.  The previous
    rank rides along as a column in the step frame, so the check adds
    zero joins — the step output already holds both generations.
    Checking forces per-step materialization (the frame is checkpointed
    anyway to compute the scalar), so leave ``tol=None`` for short
    fixed runs where lazy whole-stage fusion across steps wins.

    Spark shape: one pass per iteration — edges (with outdeg folded in
    ONCE at materialization; the per-step outdeg join of the round-8
    form is gone) join the node-sized rank frame on src (AQE
    broadcasts it at bench scale — edges never re-shuffle; at cluster
    scale it degrades to a keyed shuffle of the RANK frame, still
    never the edges), one division per edge, ONE combinable
    groupBy(dst) sum (hub skew collapses in the map-side partials),
    left join back onto the node spine so rankless nodes keep the
    (1-d) floor.  The edge+outdeg frame is materialized ONCE
    (localCheckpoint) so no step rescans the source.  At 100 TB:
    persist the edge list pre-partitioned by ``src_col`` instead —
    every iteration then reuses the edge partitioning and only the
    rank frame (node-sized) moves.  Without ``tol``, lineage is
    truncated every ``ckpt_every`` steps, not every step: consecutive
    lazy steps whole-stage-fuse, and checkpointing each one forfeits
    that (measured at sf0.1 over 5 steps: per-step 8.8-9.1 s, every-4
    6.2-7.2 s); the cap keeps the plan from growing unboundedly."""
    e0 = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    outdeg = e0.groupBy("src").agg(F.count("*").alias("deg"))
    # LAZY checkpoints (round-15 optimization): the eager form ran
    # edge-materialize and node-distinct as separate driver-blocking
    # jobs before any step (measured 3.1 s of the 7.6 s row at sf0.1);
    # lazily they materialize inside the first consuming job and the
    # node spine is not computed until the final select needs it.
    e = e0.join(outdeg, "src").localCheckpoint(eager=False)
    nodes = (
        e0.select(F.col("src").alias("node"))
        .unionByName(e0.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    floor = F.lit(1.0 - damping)
    if tol is None and not redistribute_dangling:
        # FOLDED-FLOOR fast path (round-15 optimization): the loop
        # carries only the contribution-sum frame s_i(dst); every
        # node's rank is pr_i(u) = (1-d) + d*coalesce(s_i(u), 0) —
        # absent from s_i exactly when u has no in-edges, i.e. the old
        # pr column held the floor.  The per-edge expression below is
        # the SAME IEEE tree the spine-join form produced, so values
        # are identical; what disappears is the per-step node-spine
        # left join (an Exchange + two Sorts per step in the measured
        # plan, plans/r15/pagerank_before.txt) — the spine joins ONCE
        # at the end.  (tol / redistribute_dangling need per-step
        # node-complete frames and keep the spine-join loop below.)
        s = None
        for i in range(iterations):
            if s is None:
                c = (F.lit(1.0) / F.col("deg")).alias("c")
                contrib = e.select("dst", c)
            else:
                c = (
                    (floor + F.lit(damping) * F.coalesce("s", F.lit(0.0)))
                    / F.col("deg")
                ).alias("c")
                contrib = e.join(
                    s.withColumnRenamed("dst", "src"), "src", "left"
                ).select("dst", c)
            s = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
            if (i + 1) % ckpt_every == 0 and i + 1 < iterations:
                s = s.localCheckpoint(eager=False)
        if s is None:
            out = nodes.withColumn("pr", F.lit(1.0))
        else:
            out = nodes.join(
                s.withColumnRenamed("dst", "node"), "node", "left"
            ).select(
                "node",
                (
                    floor + F.lit(damping) * F.coalesce("s", F.lit(0.0))
                ).alias("pr"),
            )
        if stats is not None:
            stats["iterations"] = iterations
        pagerank.last_iterations = iterations
        return out.select("node", "pr")
    pr = nodes.withColumn("pr", F.lit(1.0))
    if redistribute_dangling:
        # mark dangling nodes ONCE on the checkpointed spine; the
        # per-step extra is a scalar agg + 1-row broadcast, never a join
        has_out = outdeg.select(
            F.col("src").alias("node"), F.lit(True).alias("__has_out")
        )
        pr = (
            pr.join(has_out, "node", "left")
            .select(
                "node",
                "pr",
                F.coalesce("__has_out", F.lit(False)).alias("__has_out"),
            )
            .localCheckpoint()
        )
        n_nodes = pr.count()
    steps = 0
    for i in range(iterations):
        contrib = (
            e.join(pr.select("node", "pr").withColumnRenamed("node", "src"), "src")
            .select("dst", (F.col("pr") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        if redistribute_dangling:
            dshare = pr.agg(
                (
                    F.coalesce(
                        F.sum(F.when(~F.col("__has_out"), F.col("pr"))),
                        F.lit(0.0),
                    )
                    / n_nodes
                ).alias("__dshare")
            )
            step = (
                pr.join(contrib.withColumnRenamed("dst", "node"), "node", "left")
                .crossJoin(F.broadcast(dshare))
                .select(
                    "node",
                    F.col("pr").alias("pr_prev"),
                    (
                        F.lit(1.0 - damping)
                        + F.lit(damping)
                        * (F.coalesce("s", F.lit(0.0)) + F.col("__dshare"))
                    ).alias("pr"),
                    "__has_out",
                )
            )
        else:
            step = pr.join(
                contrib.withColumnRenamed("dst", "node"), "node", "left"
            ).select(
                "node",
                F.col("pr").alias("pr_prev"),
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping) * F.coalesce("s", F.lit(0.0))
                ).alias("pr"),
            )
        carry = ["node", "pr"] + (
            ["__has_out"] if redistribute_dangling else []
        )
        steps = i + 1
        if tol is not None:
            step = step.localCheckpoint()
            delta = step.agg(
                F.sum(F.abs(F.col("pr") - F.col("pr_prev")))
            ).first()[0]
            pr = step.select(*carry)
            if delta is None or delta <= tol:
                break
        else:
            pr = step.select(*carry)
            if (i + 1) % ckpt_every == 0 and i + 1 < iterations:
                pr = pr.localCheckpoint()
    if stats is not None:
        stats["iterations"] = steps
    # legacy introspection; module-shared, last-caller-wins (see doc)
    pagerank.last_iterations = steps
    return pr.select("node", "pr")


# initialize the legacy attribute so reading it before any call is not
# an AttributeError (ADVICE r9); prefer the stats= parameter
pagerank.last_iterations = 0


def pagerank_scaled(
    edges: DataFrame,
    iterations: int = 2,
    scale: int = 10**12,
    src_col: str = "h",
    dst_col: str = "t",
    ckpt_every: int = 4,
    redistribute_dangling: bool = False,
) -> DataFrame:
    """EXACT-INTEGER PageRank twin (the kmeans_exact gate pattern):
    ranks as BIGINTs at ``scale``, every step

        pr'(v) = (15*scale) div 100 + (85 * sum(pr(u) div outdeg(u))) div 100

    — floor divisions only, so the trajectory is bit-identical in any
    engine (DuckDB replays it as unrolled CTEs at the gate) while
    tracking the float operator to ~1/scale per step.  Same job shape
    as :func:`pagerank` (edge frame materialized once, outdeg folded
    in at materialization).

    ``redistribute_dangling=True`` mirrors the float twin's normalized
    mode exactly: per step the dangling nodes' summed rank D (one
    scalar agg riding as a 1-row broadcast — the plan stays one lazy
    unroll) is shared as ``D div n`` inside the damped term,
    pr' = base + (85 * (s + D div n)) div 100 — still floor divisions
    only, still engine-replayable.

    Overflow contract: the hot expression is ``85 * s`` where s is a
    hub's summed in-contributions.  Total mass never exceeds
    n_nodes * scale (induction: pr_0 = scale per node, and
    sum pr' <= n*(0.15*scale) + 0.85 * sum pr, whose fixpoint is
    n*scale), so s <= n*scale and the product stays in int64 iff
    85 * n_nodes * scale < 2^63.  That bound is ASSERTED here (one
    count on the checkpointed node spine) rather than documented-only:
    non-ANSI Spark would wrap silently where DuckDB errors, breaking
    the bit-identical contract exactly on large graphs — a loud
    ValueError with the max safe scale beats a silent divergence."""
    e0 = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    outdeg = e0.groupBy("src").agg(F.count("*").alias("deg"))
    # lazy edge checkpoint (see pagerank); the node spine stays EAGER
    # here because the overflow assertion needs its count up front
    e = e0.join(outdeg, "src").localCheckpoint(eager=False)
    nodes = (
        e0.select(F.col("src").alias("node"))
        .unionByName(e0.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n_nodes = nodes.count()
    if 85 * n_nodes * scale >= 2**63:
        raise ValueError(
            f"scale={scale} can overflow int64 on {n_nodes} nodes "
            f"(needs 85 * n * scale < 2^63); use scale <= "
            f"{2**63 // (85 * n_nodes)}"
        )
    base = (15 * scale) // 100
    if not redistribute_dangling:
        # folded-floor fast path (see pagerank): carry only the
        # contribution-sum frame; pr(u) = base + (85*coalesce(s,0))
        # div 100 — floor divisions only, so the trajectory stays
        # bit-identical to the spine-join form (oracle-replayed at
        # the graph gate's 'pr2' member)
        s = None
        for i in range(iterations):
            if s is None:
                contrib = e.selectExpr(
                    "dst", f"CAST({scale} AS BIGINT) div deg AS c"
                )
            else:
                contrib = e.join(
                    s.withColumnRenamed("dst", "src"), "src", "left"
                ).selectExpr(
                    "dst",
                    f"({base} + 85 * coalesce(s, CAST(0 AS BIGINT)) "
                    f"div 100) div deg AS c",
                )
            s = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
            if (i + 1) % ckpt_every == 0 and i + 1 < iterations:
                s = s.localCheckpoint(eager=False)
        if s is None:
            return nodes.withColumn("pr", F.lit(scale).cast("long"))
        return nodes.join(
            s.withColumnRenamed("dst", "node"), "node", "left"
        ).selectExpr(
            "node",
            f"CAST({base} + 85 * coalesce(s, CAST(0 AS BIGINT)) "
            f"div 100 AS BIGINT) AS pr",
        )
    pr = nodes.withColumn("pr", F.lit(scale).cast("long"))
    if redistribute_dangling:
        has_out = outdeg.select(
            F.col("src").alias("node"), F.lit(True).alias("__has_out")
        )
        flags = (
            nodes.join(has_out, "node", "left")
            .select(
                "node",
                F.coalesce("__has_out", F.lit(False)).alias("__has_out"),
            )
            .localCheckpoint()
        )
    for i in range(iterations):
        contrib = (
            e.join(pr.withColumnRenamed("node", "src"), "src")
            .select("dst", F.expr("pr div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        if redistribute_dangling:
            dshare = (
                pr.join(flags, "node")
                .agg(
                    F.expr(
                        "coalesce(sum(CASE WHEN NOT __has_out THEN pr END),"
                        f" CAST(0 AS BIGINT)) div {n_nodes}"
                    ).alias("__dsh")
                )
            )
            pr = (
                nodes.join(
                    contrib.withColumnRenamed("dst", "node"), "node", "left"
                )
                .crossJoin(F.broadcast(dshare))
                .select(
                    "node",
                    (
                        F.lit(base)
                        + F.expr("(85 * (coalesce(s, 0) + __dsh)) div 100")
                    ).cast("long").alias("pr"),
                )
            )
        else:
            pr = nodes.join(
                contrib.withColumnRenamed("dst", "node"), "node", "left"
            ).select(
                "node",
                (
                    F.lit(base)
                    + F.expr("85 * coalesce(s, 0) div 100")
                ).cast("long").alias("pr"),
            )
        if (i + 1) % ckpt_every == 0 and i + 1 < iterations:
            pr = pr.localCheckpoint()
    return pr
