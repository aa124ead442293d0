"""Plan-shape regression tests: the SCALE.md claims, asserted
mechanically.  These pin that filters/projections reach the parquet
scans, small dims broadcast, and anchored EFO plans start from a
constant-filtered scan — the properties that make the 100-TB story
true — so a refactor that silently loses pushdown fails CI, not a
cluster bill.
"""

from pyspark.sql import functions as F

from knovexlite_spark.engine import Engine
from tests.conftest import SF_SMALL


def _final_plan(df) -> str:
    df.collect()  # AQE finalizes the physical plan on execution
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_and_projection_reach_scan(spark):
    from knovexlite_spark.queries import relational

    # plan metadata strings truncate at ~100 chars by default, which
    # would make the ReadSchema assertion pass even on an UNpruned scan
    # (review finding) — widen for the assertion, then restore
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try:
        df = relational.queries()["q1_filter_project"](spark, SF_SMALL)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity," in plan
    # column pruning: the scan reads exactly the 3 projected columns
    assert (
        "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,"
        "l_quantity:double>" in plan
    )
    assert "l_comment" not in plan


def test_q3_dims_broadcast(spark):
    from knovexlite_spark.queries import relational

    df = relational.queries()["q3_multiway_join"](spark, SF_SMALL)
    plan = _final_plan(df)
    assert "BroadcastHashJoin" in plan  # nation/region never shuffle


def test_anchored_efo_pushes_constant_filter(spark):
    """cq1 (1p anchored at s1) on the Spark interpreter: the
    triples-side scans carry the pushed anchor equality — the frontier
    starts at one entity's neighborhood, not a full-edge shuffle.
    (``Engine.efo`` answers this KG on the driver, below the size gate,
    so the plan is taken from ``answer_exact`` directly.)"""
    from knovexlite_spark.plans.exact import answer_exact
    from knovexlite_spark.queries.efo import CQ_DEFS, _pinned_constants

    engine = Engine.for_dir(spark, SF_SMALL)
    lstr, rels, _ = CQ_DEFS["cq1_1p"]
    bindings = {**rels, "s1": _pinned_constants(engine)["s1"]}
    df = answer_exact(engine.triples_with_inverses(), lstr, bindings)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "EqualTo(o_custkey," in plan


def test_exact_dedup_partial_aggregates(spark):
    """The exact-dedup groupBy must be a partial/final hash aggregate
    (map-side combinable), not a sort-based full shuffle of raw rows."""
    from knovexlite_spark.queries import pipeline

    df = pipeline.queries()["dedup_exact"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_batched_atom_joins_broadcast_the_instance_side(spark):
    """The QAA batch's atom joins must be BroadcastHashJoins of the
    driver-sized instance frame against the edge scan — without the
    explicit hint Spark (stats-less createDataFrame input) planned a
    SortMergeJoin that shuffled the WHOLE edge set keyed by relation id
    (~10 distinct values: maximal skew) per atom.  Round-4 finding."""
    from knovexlite_spark.kg.triples import pair_encode_inverse
    from knovexlite_spark.plans.exact import answer_counts_batched
    from knovexlite_spark.queries.efo import _pinned_constants, PLACED, CONTAINS

    engine = Engine.for_dir(spark, SF_SMALL)
    pinned = _pinned_constants(engine)
    inst = spark.createDataFrame(
        [(0, {"r1": PLACED, "r2": CONTAINS, "s1": int(pinned["s1"])})],
        "query_id long, bindings map<string,long>",
    )
    df = answer_counts_batched(
        pair_encode_inverse(engine.triples), "r1(s1,e1)&r2(e1,f)", inst
    )
    plan = _final_plan(df)
    # every instance-side join is a broadcast; no edge-set shuffle keyed
    # by the (few-valued) bound relation survives anywhere
    assert "SortMergeJoin [element_at" not in plan
    assert "ShuffledHashJoin [element_at" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # one per atom


def test_jaccard_verify_broadcasts_the_pair_list(spark):
    """jaccard_for_pairs must broadcast the candidate pair list into
    the shingle join: the pair list is a stats-less post-shuffle frame,
    and without the hint the verify stage plans a SortMergeJoin that
    shuffles the shingle set — the same stats-less-frame failure mode
    as the batched-atom and BFS-frontier fixes (round-5 finding)."""
    from knovexlite_spark.ops.dedup import (
        jaccard_for_pairs,
        minhash_lsh_candidates,
        minhash_signatures,
        shingle_sets,
    )

    docs = Engine.for_dir(spark, SF_SMALL).table("documents").select(
        "doc_id", "text"
    )
    pairs = minhash_lsh_candidates(minhash_signatures(docs))
    sh = shingle_sets(docs, "text", "doc_id", 3)
    plan = _final_plan(jaccard_for_pairs(pairs, sh))
    assert "BroadcastHashJoin" in plan


def test_graph_loop_frontier_joins_broadcast(spark):
    """The BFS/Kahn per-level joins must broadcast the frontier/layer
    side — frontier frames are stats-less (createDataFrame /
    localCheckpoint) and without the hint Spark plans SortMergeJoins
    that shuffle the WHOLE edge set per superstep, a cost AQE cannot
    rescue because the edge shuffle has run before runtime stats exist
    (round-4 fix 40a4498; this test is the round-5 pin so a stats-less
    refactor cannot silently revert it)."""
    from knovexlite_spark.kg.triples import pair_encode_inverse
    from knovexlite_spark.kg.traverse import _bfs_next, propagate
    from knovexlite_spark.ops.graph import _kahn_strip_edges, _kahn_strip_nodes

    engine = Engine.for_dir(spark, SF_SMALL)
    edges = pair_encode_inverse(engine.triples).select("h", "t")
    some = edges.limit(1).collect()[0]["h"]
    frontier = spark.createDataFrame([(int(some),)], "node LONG")

    # G1 propagate: frontier side broadcasts, edge set never shuffles
    plan = _final_plan(propagate(frontier, edges))
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" in plan

    # G2 one BFS superstep: expansion join AND visited anti-join both
    # broadcast under the default small_frontier=True
    visited = frontier
    plan = _final_plan(_bfs_next(frontier, edges, visited))
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # expand + anti

    # G3 Kahn strips: the layer side broadcasts against nodes and edges
    nodes = edges.select(F.col("h").alias("node")).distinct()
    for strip in (
        _kahn_strip_nodes(nodes, frontier),
        _kahn_strip_edges(edges, frontier),
    ):
        plan = _final_plan(strip)
        assert "SortMergeJoin" not in plan
        assert "ShuffledHashJoin" not in plan
        assert "BroadcastHashJoin" in plan

    # the escape hatch (expander-scale path) is semantics-preserving;
    # its plan is AQE's choice (runtime stats may still broadcast here,
    # which is fine — the point of the hatch is removing the COMPILE-
    # time hint for frames too big to safely broadcast)
    hinted = {r["node"] for r in _kahn_strip_nodes(nodes, frontier).collect()}
    unhinted = {
        r["node"]
        for r in _kahn_strip_nodes(nodes, frontier, small_layer=False).collect()
    }
    assert hinted == unhinted


def test_densify_entities_no_single_partition_exchange(spark):
    """The dense-id assignment on the reasoning gate path must never
    funnel the entity set through one partition (round-2 judge finding:
    the old global row_number window was the first 100x-scale chokepoint
    on an otherwise green path).  The two-phase rank keeps every
    exchange parallel AND still produces contiguous 0..N-1 ids in
    global orig order."""
    from knovexlite_spark.functions.oracle import densify_entities
    from knovexlite_spark.kg.triples import pair_encode_inverse

    engine = Engine.for_dir(spark, SF_SMALL)
    mapping, _ = densify_entities(pair_encode_inverse(engine.triples))
    plan = _final_plan(mapping)
    assert "Exchange SinglePartition" not in plan
    # the local rank windows by the literal-boundary range id — a
    # parallel hash exchange on pid, not a global sort
    assert "hashpartitioning(pid" in plan
    stats = mapping.agg(
        F.count("*").alias("n"),
        F.countDistinct("dense").alias("nd"),
        F.min("dense").alias("lo"),
        F.max("dense").alias("hi"),
    ).collect()[0]
    assert stats["nd"] == stats["n"]
    assert stats["lo"] == 0 and stats["hi"] == stats["n"] - 1
    # global-order parity with the old single-partition formulation
    sample = mapping.orderBy("orig").limit(5).collect()
    assert [r["dense"] for r in sample] == [0, 1, 2, 3, 4]


def test_blocked_near_pairs_gate_plan_equijoins_only(spark):
    """The exact tiled-GEMM near-dup operator must move tile payloads
    through EQUI-joins on block ids — never a corpus-level
    BroadcastNestedLoopJoin/CartesianProduct (the N^2 term lives inside
    the kernel as BLAS flops, not in the plan as row pairs).  The only
    permissible join without keys is the tiny driver-generated
    (blk_a, blk_b) upper-triangle pair list (n_blocks^2 rows of two
    longs), which is what makes the plan's shuffle volume
    N*d*4*n_blocks instead of N^2 rows."""
    from knovexlite_spark.ops.similarity import blocked_near_pairs

    from knovexlite_spark.ops.similarity import lsh_near_pairs

    emb = Engine.for_dir(spark, SF_SMALL).table("embeddings")
    df = blocked_near_pairs(emb, threshold=0.4, block_size=64)
    plan = _final_plan(df)
    # the pair-id list comes from ONE spark.range via triangular-index
    # inversion, so there is no non-equi join anywhere in the plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") + plan.count("ShuffledHashJoin") + plan.count(
        "SortMergeJoin"
    ) >= 2  # ids/mat payloads joined per side via equi-join
    # pair enumeration parity: same pair set as the exact formulations
    want = lsh_near_pairs(emb, threshold=0.4, n_planes=192, band_bits=3)
    got_pairs = {(r["a"], r["b"]) for r in df.collect()}
    # lsh is recall<1 by construction; the exact operator must be a
    # superset of whatever lsh finds at the same threshold
    assert {(r["a"], r["b"]) for r in want.collect()} <= got_pairs


def test_densify_dense_triples_stay_inside_id_space(spark):
    """The re-keyed triple frame is computed by separate jobs from the
    mapping; both must agree on the assignment (the 6x rehearsal caught
    repartitionByRange's per-job boundary sampling producing dense ids
    BEYOND N — the literal-boundary rewrite makes the range id a pure
    function of the row)."""
    from knovexlite_spark.functions.oracle import densify_entities
    from knovexlite_spark.kg.triples import pair_encode_inverse

    engine = Engine.for_dir(spark, SF_SMALL)
    mapping, dense = densify_entities(pair_encode_inverse(engine.triples))
    n = mapping.count()
    hi = dense.agg(
        F.greatest(F.max("h"), F.max("t")).alias("hi")
    ).collect()[0]["hi"]
    assert hi < n
