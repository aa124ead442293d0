"""Graph functionals G1-G3 vs hand-computed results + bridge-graph BFS."""

from knovexlite_spark.engine import Engine
from knovexlite_spark.kg.traverse import bfs_layers, propagate
from knovexlite_spark.ops.graph import topological_order
from tests.conftest import SF_SMALL

# diamond with a tail: 0->1, 0->2, 1->3, 2->3, 3->4
EDGES = [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4)]


def _edges(spark):
    return spark.createDataFrame(EDGES, "h long, t long")


def _nodes(spark):
    return spark.createDataFrame([(i,) for i in range(5)], "node long")


def test_propagate_one_step(spark):
    fr = spark.createDataFrame([(0,)], "node long")
    out = {r["node"] for r in propagate(fr, _edges(spark)).collect()}
    assert out == {1, 2}
    back = {r["node"] for r in propagate(fr, _edges(spark), "backward").collect()}
    assert back == set()


def test_bfs_layers(spark):
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["layer"] for r in bfs_layers(seeds, _edges(spark)).collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 2, 4: 3}


def test_topological_order(spark):
    got = {r["node"]: r["topo_layer"] for r in topological_order(_nodes(spark), _edges(spark)).collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 2, 4: 3}


def test_topological_order_cycle_residue(spark):
    edges = spark.createDataFrame(EDGES + [(4, 0)], "h long, t long")  # cycle
    got = {r["node"]: r["topo_layer"] for r in topological_order(_nodes(spark), edges).collect()}
    assert all(v == -1 for v in got.values())  # whole graph cyclic now


def test_bfs_on_bridge_graph(spark):
    """3 hops from a customer reach exactly the §B1 schema neighborhoods:
    orders(1), parts+suppliers(2), nations(3)."""
    eng = Engine(spark, SF_SMALL)
    edges = eng.triples.select("h", "t")
    c0 = eng.table("customer").selectExpr("MIN(c_custkey) AS node")
    layers = bfs_layers(c0, edges, max_depth=3).collect()
    by_layer = {}
    for r in layers:
        by_layer.setdefault(r["layer"], []).append(r["node"])
    # layer 1 = the customer's orders plus its own nation (direct edge)
    assert all(
        1_000_000 <= n < 2_000_000 or n >= 4_000_000 for n in by_layer[1]
    )
    assert all(2_000_000 <= n < 4_000_000 for n in by_layer[2])  # parts+supps
    # layer 3 (if present): supplier nations not already seen at layer 1
    assert all(n >= 4_000_000 for n in by_layer.get(3, []))


# --- connected components ---------------------------------------------------


def _uf_components(nodes, edges):
    """Brute-force union-find oracle: node -> min-id of its component."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for n in nodes:
        comp[n] = find(n)
    return comp


def _cc_check(spark, nodes, edges):
    from knovexlite_spark.ops.graph import connected_components

    ndf = spark.createDataFrame([(n,) for n in nodes], "node long")
    edf = (
        spark.createDataFrame(list(edges), "h long, t long")
        if edges
        else spark.createDataFrame([], "h long, t long")
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(ndf, edf).collect()
    }
    assert got == _uf_components(nodes, edges)


def test_connected_components_chain_star_singletons(spark):
    # chain 0-1-2-3-4, star 10-{11,12,13}, singletons 20/21
    _cc_check(
        spark,
        list(range(5)) + [10, 11, 12, 13, 20, 21],
        [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13)],
    )


def test_connected_components_long_path_converges_in_log_rounds(spark):
    # a 64-node path needs pointer jumping to converge inside max_iter;
    # pass a tight budget so O(diameter) propagation would fail loudly
    nodes = list(range(64))
    edges = [(i, i + 1) for i in range(63)]
    from knovexlite_spark.ops.graph import connected_components

    ndf = spark.createDataFrame([(n,) for n in nodes], "node long")
    edf = spark.createDataFrame(edges, "h long, t long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(ndf, edf, max_iter=10).collect()
    }
    assert got == {n: 0 for n in nodes}


def test_connected_components_random_vs_union_find(spark):
    import random

    rng = random.Random(1234)
    nodes = list(range(40))
    edges = [
        (rng.randrange(40), rng.randrange(40)) for _ in range(30)
    ]
    _cc_check(spark, nodes, edges)


def test_connected_components_no_edges_all_singletons(spark):
    _cc_check(spark, [3, 7, 9], [])


# -- PageRank -----------------------------------------------------------------


def _pr_reference(edges, iterations, damping=0.85):
    """Pure-Python synchronous PageRank, the operator's contract."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    outdeg = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    pr = {n: 1.0 for n in nodes}
    for _ in range(iterations):
        s = {n: 0.0 for n in nodes}
        for u, v in edges:
            s[v] += pr[u] / outdeg[u]
        pr = {n: (1 - damping) + damping * s[n] for n in nodes}
    return pr


PR_EDGES = [
    (1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (4, 2), (5, 4),
    (6, 1), (2, 6),
]


def test_pagerank_matches_python_reference(spark):
    from knovexlite_spark.ops.graph import pagerank

    e = spark.createDataFrame(PR_EDGES, "h long, t long")
    got = {r["node"]: r["pr"] for r in pagerank(e, iterations=6).collect()}
    want = _pr_reference(PR_EDGES, 6)
    assert set(got) == set(want)
    for n in want:
        assert abs(got[n] - want[n]) < 1e-9, n


def test_pagerank_scaled_tracks_float_and_is_deterministic(spark):
    """The integer trajectory tracks the float one to ~iterations/scale
    and is bit-identical across runs (the gate's engine-exact form)."""
    from knovexlite_spark.ops.graph import pagerank, pagerank_scaled

    e = spark.createDataFrame(PR_EDGES, "h long, t long")
    scale = 10**12
    s1 = {r["node"]: r["pr"] for r in pagerank_scaled(e, 3, scale).collect()}
    s2 = {r["node"]: r["pr"] for r in pagerank_scaled(e, 3, scale).collect()}
    assert s1 == s2
    f = {r["node"]: r["pr"] for r in pagerank(e, iterations=3).collect()}
    for n, v in s1.items():
        assert abs(v / scale - f[n]) < 1e-6, n


def test_pagerank_scaled_python_reference_exact(spark):
    """Bit-exact vs a pure-Python integer replay — floor division at
    every step, no tolerance machinery."""
    from knovexlite_spark.ops.graph import pagerank_scaled

    scale = 10**12
    nodes = sorted({u for u, _ in PR_EDGES} | {v for _, v in PR_EDGES})
    outdeg = {}
    for u, _ in PR_EDGES:
        outdeg[u] = outdeg.get(u, 0) + 1
    pr = {n: scale for n in nodes}
    for _ in range(2):
        s = {n: 0 for n in nodes}
        for u, v in PR_EDGES:
            s[v] += pr[u] // outdeg[u]
        pr = {n: (15 * scale) // 100 + (85 * s[n]) // 100 for n in nodes}

    e = spark.createDataFrame(PR_EDGES, "h long, t long")
    got = {r["node"]: r["pr"] for r in pagerank_scaled(e, 2, scale).collect()}
    assert got == pr


def test_pagerank_tol_stops_early_on_converged_graph(spark):
    """tol= early stop: on a directed cycle every node's rank is the
    fixpoint 1.0 from the start, so the first step's L1 delta is 0 and
    the loop exits after ONE power step — result identical to the
    full fixed-iteration run."""
    from knovexlite_spark.ops.graph import pagerank

    cycle = [(i, (i + 1) % 6) for i in range(6)]
    e = spark.createDataFrame(cycle, "h long, t long")
    got = {
        r["node"]: r["pr"]
        for r in pagerank(e, iterations=25, tol=1e-9).collect()
    }
    assert pagerank.last_iterations == 1
    assert all(abs(v - 1.0) < 1e-12 for v in got.values())
    full = {r["node"]: r["pr"] for r in pagerank(e, iterations=25).collect()}
    assert pagerank.last_iterations == 25
    assert got == full


def test_pagerank_tol_converges_to_fixed_run(spark):
    """On a non-trivial graph a tight tol run lands within tol of the
    long fixed run and takes fewer steps than the cap."""
    from knovexlite_spark.ops.graph import pagerank

    e = spark.createDataFrame(PR_EDGES, "h long, t long")
    tol_pr = {
        r["node"]: r["pr"]
        for r in pagerank(e, iterations=100, tol=1e-10).collect()
    }
    assert 1 < pagerank.last_iterations < 100
    ref = _pr_reference(PR_EDGES, 200)
    for n, v in ref.items():
        assert abs(tol_pr[n] - v) < 1e-8, n


def test_pagerank_scaled_overflow_guard(spark):
    """85 * n_nodes * scale >= 2^63 raises loudly (silent int64 wrap
    under non-ANSI Spark would break the engine-exact contract)."""
    import pytest

    from knovexlite_spark.ops.graph import pagerank_scaled

    e = spark.createDataFrame(PR_EDGES, "h long, t long")  # 6 nodes
    with pytest.raises(ValueError, match="overflow int64"):
        pagerank_scaled(e, iterations=1, scale=2**63 // (85 * 6) + 1)
    # just under the bound still runs
    ok = pagerank_scaled(e, iterations=1, scale=10**15).collect()
    assert len(ok) == 6


def test_pagerank_dangling_nodes_keep_floor(spark):
    """A sink (no out-edges) still receives rank; a source with no
    in-edges settles at the (1-d) floor."""
    from knovexlite_spark.ops.graph import pagerank

    e = spark.createDataFrame([(1, 2), (3, 2)], "h long, t long")
    got = {r["node"]: r["pr"] for r in pagerank(e, iterations=4).collect()}
    assert abs(got[1] - 0.15) < 1e-12 and abs(got[3] - 0.15) < 1e-12
    assert got[2] > got[1]


SINK_EDGES = PR_EDGES + [(3, 7), (5, 7)]  # node 7 is dangling


def _pr_reference_dangling(edges, iterations, damping=0.85):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    outdeg = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    pr = {n: 1.0 for n in nodes}
    for _ in range(iterations):
        dmass = sum(v for n, v in pr.items() if n not in outdeg)
        s = {n: dmass / len(nodes) for n in nodes}
        for u, v in edges:
            s[v] += pr[u] / outdeg[u]
        pr = {n: (1 - damping) + damping * s[n] for n in nodes}
    return pr


def test_pagerank_redistribute_dangling_matches_reference(spark):
    """redistribute_dangling=True is the standard normalized treatment:
    dangling mass is shared equally each step, so total mass converges
    to n instead of decaying — parity vs a NumPy-style reference on a
    graph WITH sinks."""
    from knovexlite_spark.ops.graph import pagerank

    e = spark.createDataFrame(SINK_EDGES, "h long, t long")
    got = {
        r["node"]: r["pr"]
        for r in pagerank(e, iterations=6, redistribute_dangling=True).collect()
    }
    want = _pr_reference_dangling(SINK_EDGES, 6)
    assert set(got) == set(want)
    for n in want:
        assert abs(got[n] - want[n]) < 1e-9, n
    # mass conservation: the redistributed run keeps total mass near n,
    # the default run leaks the dangling share
    assert abs(sum(got.values()) - len(want)) < 0.2
    leaky = {
        r["node"]: r["pr"] for r in pagerank(e, iterations=6).collect()
    }
    assert sum(leaky.values()) < sum(got.values()) - 0.5


def test_pagerank_redistribute_dangling_with_tol_and_stats(spark):
    """The dangling mode composes with tol= early stop, and stats=
    reports the step count without the module-shared attribute."""
    from knovexlite_spark.ops.graph import pagerank

    e = spark.createDataFrame(SINK_EDGES, "h long, t long")
    stats: dict = {}
    got = pagerank(
        e, iterations=100, tol=1e-10, redistribute_dangling=True, stats=stats
    )
    res = {r["node"]: r["pr"] for r in got.collect()}
    assert set(res.keys()) == {n for e_ in SINK_EDGES for n in e_}
    assert 1 < stats["iterations"] < 100
    ref = _pr_reference_dangling(SINK_EDGES, 200)
    for n, v in ref.items():
        assert abs(res[n] - v) < 1e-8, n


def test_pagerank_scaled_redistribute_dangling_integer_exact(spark):
    """The exact-integer twin's dangling mode is bit-exact vs a pure-
    Python floor-division replay."""
    from knovexlite_spark.ops.graph import pagerank_scaled

    scale = 10**12
    nodes = sorted({u for u, _ in SINK_EDGES} | {v for _, v in SINK_EDGES})
    outdeg = {}
    for u, _ in SINK_EDGES:
        outdeg[u] = outdeg.get(u, 0) + 1
    pr = {n: scale for n in nodes}
    for _ in range(3):
        dmass = sum(v for n, v in pr.items() if n not in outdeg)
        dsh = dmass // len(nodes)
        s = {n: 0 for n in nodes}
        for u, v in SINK_EDGES:
            s[v] += pr[u] // outdeg[u]
        pr = {
            n: (15 * scale) // 100 + (85 * (s[n] + dsh)) // 100 for n in nodes
        }

    e = spark.createDataFrame(SINK_EDGES, "h long, t long")
    got = {
        r["node"]: r["pr"]
        for r in pagerank_scaled(
            e, 3, scale, redistribute_dangling=True
        ).collect()
    }
    assert got == pr


def test_pagerank_last_iterations_initialized(spark):
    """The legacy attribute exists before any call (ADVICE r9) — a
    fresh import must not raise AttributeError."""
    import importlib

    import knovexlite_spark.ops.graph as g

    importlib.reload(g)
    assert g.pagerank.last_iterations == 0
