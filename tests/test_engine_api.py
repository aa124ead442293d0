"""Engine public-surface regression tests (facade behaviors that the
gate exercises implicitly but deserve direct pins)."""

import logging
import os
import re
import sys
import threading
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

import pandas as pd
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from knovexlite_spark import engine as engine_mod
from knovexlite_spark.engine import Engine
from knovexlite_spark.plans import local as local_mod
from knovexlite_spark.queries.efo import CQ_DEFS, _pinned_constants
from tests.conftest import SF_SMALL


def _fresh_engine(spark) -> Engine:
    """An engine over SF_SMALL's KG with no EFO state yet (no held
    view, no gate decision), without re-registering the views."""
    eng = Engine(spark, SF_SMALL, register=False)
    eng.triples = Engine.for_dir(spark, SF_SMALL).triples
    return eng


def _cq_bindings(spark) -> dict[str, dict[str, int]]:
    pinned = _pinned_constants(Engine.for_dir(spark, SF_SMALL))
    return {
        name: {**rels, **{s: pinned[k] for s, k in consts.items()}}
        for name, (_, rels, consts) in CQ_DEFS.items()
    }


def _answers(eng: Engine, spark) -> dict[str, tuple[set[int], int]]:
    """Every CQ's answer set and the Spark jobs its collect ran."""
    tracker = spark.sparkContext.statusTracker()
    out = {}
    for name, b in _cq_bindings(spark).items():
        group = f"test-efo-{id(eng)}-{name}"
        spark.sparkContext.setJobGroup(group, group)
        try:
            rows = eng.efo(CQ_DEFS[name][0], b, augmented=True).collect()
        finally:
            spark.sparkContext.setJobGroup(None, None)
        out[name] = ({r[0] for r in rows}, len(tracker.getJobIdsForGroup(group)))
    return out


def test_efo_augmented_inverse_query(spark):
    eng = Engine.for_dir(spark, SF_SMALL)
    x = 2_000_000 + eng.table("part").agg(F.min("p_partkey")).collect()[0][0]
    # orders containing part x: only expressible via the inverse edge
    inv = eng.efo("r1(s1,f)", {"r1": 3, "s1": int(x)}, augmented=True)
    base = eng.efo("r1(s1,f)", {"r1": 3, "s1": int(x)}, augmented=False)
    n_inv, n_base = inv.count(), base.count()
    assert n_inv > 0 and n_base == 0
    # cross-check against a direct join
    want = (
        eng.table("lineitem")
        .filter(F.col("l_partkey") == x - 2_000_000)
        .select("l_orderkey")
        .distinct()
        .count()
    )
    assert n_inv == want


def test_register_function_roundtrip(spark):
    eng = Engine.for_dir(spark, SF_SMALL)
    eng.register_function("plus_one", lambda v: v + 1, "long")
    row = eng.sql(
        "SELECT plus_one(MIN(c_custkey)) AS p FROM customer"
    ).collect()[0]
    base = eng.table("customer").agg(F.min("c_custkey")).collect()[0][0]
    assert row["p"] == base + 1


def test_sql_and_table_surfaces_agree(spark):
    eng = Engine.for_dir(spark, SF_SMALL)
    a = eng.sql("SELECT COUNT(*) AS n FROM lineitem").collect()[0]["n"]
    b = eng.table("lineitem").count()
    assert a == b


def test_triples_view_shape(spark):
    eng = Engine.for_dir(spark, SF_SMALL)
    assert eng.triples.columns == ["h", "r", "t"]
    rels = {r["r"] for r in eng.triples.select("r").distinct().collect()}
    assert rels == {0, 1, 2, 3, 4}


def test_for_dir_concurrent_first_calls_share_one_engine(spark):
    """Four threads racing on an uncached sf_dir get one Engine."""
    key = os.path.join(SF_SMALL, "")  # same data, a key no other test caches
    assert key not in Engine._cache.get(spark, {})
    barrier = threading.Barrier(4)

    def call(_):
        barrier.wait()
        return Engine.for_dir(spark, key)

    with ThreadPoolExecutor(4) as pool:
        engines = list(pool.map(call, range(4)))
    assert all(e is engines[0] for e in engines)
    assert Engine._cache[spark][key] is engines[0]


def test_triples_with_inverses_pairs_each_edge_with_its_twin(spark):
    """The held view is the pair encoding of the bridge KG: relation k's
    edges appear as 2k, and every (h, 2k+1, t) has its (t, 2k, h) twin."""
    eng = Engine.for_dir(spark, SF_SMALL)
    edges = {tuple(r) for r in eng.triples_with_inverses().select("h", "r", "t").collect()}
    base = {tuple(r) for r in eng.triples.select("h", "r", "t").collect()}
    assert {(h, r // 2, t) for h, r, t in edges if r % 2 == 0} == base
    assert all((t, r - 1, h) in edges for h, r, t in edges if r % 2 == 1)
    assert eng.triples_with_inverses() is eng.triples_with_inverses()


def test_efo_below_gate_runs_no_spark_job(spark, monkeypatch):
    """Below the gate every CQ answers with no Spark job, and its frame
    acts as a Spark table of the same ids: the same rows in the same
    order, count, schema (for a non-default free variable too),
    toPandas, filter, join, unionByName and a temp view.  Its collect
    makes no py4j call."""
    eng = Engine.for_dir(spark, SF_SMALL)
    assert eng._local_adjacency() is not None  # SF_SMALL is below the gate
    answers = _answers(eng, spark)
    assert all(jobs == 0 for _, jobs in answers.values()), answers
    b = _cq_bindings(spark)["cq2_2p"]
    df = eng.efo("r1(s1,e1)&r2(e1,f1)", b, free_var="f1", augmented=True)
    assert df.schema == StructType([StructField("f1", LongType())])
    assert {r[0] for r in df.collect()} == answers["cq2_2p"][0]

    checks, expected = [], []
    for k, (name, b) in enumerate(sorted(_cq_bindings(spark).items())):
        fv = ("f", "f1")[k % 2]
        lstr = re.sub(r"\bf\b", fv, CQ_DEFS[name][0])
        got = eng.efo(lstr, b, free_var=fv, augmented=True)
        ids = sorted(answers[name][0])
        pdf = pd.DataFrame({fv: ids}, dtype="int64")
        want = spark.createDataFrame(pdf, f"{fv} long")
        assert [r.asDict() for r in got.collect()] == pdf.to_dict("records"), name
        assert got.count() == len(ids) and got.schema == want.schema, name
        assert got.toPandas().equals(pdf), name
        got.createOrReplaceTempView("efo_answer")
        # the relational methods, checked in one job over all CQs
        for op, df, rows in (
            ("filter", got.filter(F.col(fv) % 2 == 0), [i for i in ids if i % 2 == 0]),
            ("join", got.join(want, fv), ids),
            ("union", got.unionByName(want), ids * 2),
            ("view", spark.sql(f"SELECT {fv} FROM efo_answer"), ids),
        ):
            checks.append(df.select(F.lit(f"{name} {op}").alias("check"), F.col(fv).alias("id")))
            expected += [(f"{name} {op}", i) for i in rows]
    spark.catalog.dropTempView("efo_answer")
    assert sorted(map(tuple, reduce(DataFrame.unionByName, checks).collect())) == sorted(expected)

    def no_call(*_a, **_k):
        raise AssertionError("py4j call during collect")

    b = _cq_bindings(spark)["cq2_2p"]
    fresh = eng.efo(CQ_DEFS["cq2_2p"][0], b, augmented=True)
    with monkeypatch.context() as m:
        m.setattr(spark, "createDataFrame", no_call)
        m.setattr(spark.sparkContext._gateway._gateway_client, "send_command", no_call)
        assert {r["f"] for r in fresh.collect()} == answers["cq2_2p"][0]

    # Eight threads race to build the unbuilt JVM frame: each gets a
    # frame of the same ids.
    barrier = threading.Barrier(8, timeout=60)

    def count(_):
        barrier.wait()
        return fresh.count()

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            counts = [f.result(timeout=300) for f in [pool.submit(count, i) for i in range(8)]]
    finally:
        sys.setswitchinterval(prev)
    assert counts == [len(answers["cq2_2p"][0])] * 8


def test_efo_empty_answer_keeps_schema(spark):
    eng = Engine.for_dir(spark, SF_SMALL)
    df = eng.efo("r1(s1,f)", {"r1": 0, "s1": -1})
    assert df.schema == StructType([StructField("f", LongType())])
    assert df.collect() == []


def test_efo_concurrent_first_calls_build_adjacency_once(spark, monkeypatch, caplog):
    """Eight threads (more than the test session's 4 cores) race on a
    fresh engine's first ``efo`` call, with a short switch interval: one
    adjacency build, one logged gate decision, and every thread gets the
    full answer."""
    caplog.set_level(logging.INFO, logger="knovexlite_spark")
    eng = _fresh_engine(spark)
    builds = []

    class Counting(local_mod.Adjacency):
        def __init__(self, *a):
            builds.append(1)
            super().__init__(*a)

    monkeypatch.setattr(engine_mod, "Adjacency", Counting)
    lstr, b = CQ_DEFS["cq2_2p"][0], _cq_bindings(spark)["cq2_2p"]
    n_threads = 8
    barrier = threading.Barrier(n_threads, timeout=60)

    def call(_):
        barrier.wait()
        return {r[0] for r in eng.efo(lstr, b, augmented=True).collect()}

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(n_threads) as pool:
            futures = [pool.submit(call, i) for i in range(n_threads)]
            results = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(prev)
    assert len(builds) == 1
    assert results[0] and all(r == results[0] for r in results)
    decisions = [r.getMessage() for r in caplog.records if "efo backend" in r.getMessage()]
    assert len(decisions) == 1 and ": local (" in decisions[0]


def test_efo_gate_and_row_cap_fallbacks_match_local(spark, monkeypatch, caplog):
    """Every CQ (cq9 included) answers the same on the local path, with
    the size gate at 0 (all Spark) and with the row cap at 0 (every
    query with a non-empty join falls back to Spark, and says so)."""
    caplog.set_level(logging.INFO, logger="knovexlite_spark")
    local = _answers(Engine.for_dir(spark, SF_SMALL), spark)
    monkeypatch.setattr(engine_mod, "LOCAL_MAX_EDGES", 0)
    gated = _fresh_engine(spark)
    assert gated._local_adjacency() is None
    above_gate = _answers(gated, spark)
    monkeypatch.setattr(local_mod, "LOCAL_MAX_JOIN_ROWS", 0)
    capped = _answers(Engine.for_dir(spark, SF_SMALL), spark)
    for name, (want, _) in local.items():
        assert above_gate[name][0] == want, name
        assert capped[name][0] == want, name
        assert above_gate[name][1] > 0, name
    assert capped["cq1_1p"][1] == 0  # no join: stays local
    assert capped["cq9_samenation"][1] > 0
    assert any(
        "efo row cap: r1(f,e1)&" in r.getMessage() for r in caplog.records
    ), "the cq9 fallback is logged with its clause"


def test_efo_row_cap_is_the_exact_join_size(spark, monkeypatch, caplog):
    """A query whose join builds exactly ``LOCAL_MAX_JOIN_ROWS`` rows
    stays local; one row over, it runs on Spark and logs the size.  The
    size is the one the cap-0 log line reports."""
    caplog.set_level(logging.INFO, logger="knovexlite_spark")
    eng = Engine.for_dir(spark, SF_SMALL)

    def run(cap: int) -> tuple[set[int], int, list[str]]:
        monkeypatch.setattr(local_mod, "LOCAL_MAX_JOIN_ROWS", cap)
        caplog.clear()
        lstr, b = CQ_DEFS["cq2_2p"][0], _cq_bindings(spark)["cq2_2p"]
        group = f"test-row-cap-{cap}"
        spark.sparkContext.setJobGroup(group, group)
        try:
            ids = {r[0] for r in eng.efo(lstr, b, augmented=True).collect()}
        finally:
            spark.sparkContext.setJobGroup(None, None)
        jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
        return ids, jobs, [r.getMessage() for r in caplog.records if "efo row cap" in r.getMessage()]

    _, _, logged = run(0)
    size = int(re.search(r"joins to (\d+) rows", logged[0]).group(1))
    assert size > 0
    want, jobs, logged = run(size)
    assert want and jobs == 0 and not logged
    got, jobs, logged = run(size - 1)
    assert got == want and jobs > 0
    assert logged == [
        f"efo row cap: r1(s1,e1)&r2(e1,f) joins to {size} rows (cap {size - 1}); running on Spark"
    ]


@pytest.mark.parametrize(
    "lstr, bindings, free_var, match",
    [
        ("r1(s1,f)&r2(e1,f)", {"r1": 0}, "f", "unbound symbols"),
        ("r1(s1,f)&!r2(e2,f)", {"r1": 0, "r2": 0, "s1": 1}, "f", "unsafe negation"),
        ("r1(s1,e1)", {"r1": 0, "s1": 1}, "f", "free variable"),
    ],
)
def test_efo_errors_match_on_both_paths(spark, monkeypatch, lstr, bindings, free_var, match):
    with pytest.raises(ValueError, match=match) as local_err:
        Engine.for_dir(spark, SF_SMALL).efo(lstr, bindings, free_var=free_var)
    monkeypatch.setattr(engine_mod, "LOCAL_MAX_EDGES", 0)
    with pytest.raises(ValueError, match=match) as spark_err:
        _fresh_engine(spark).efo(lstr, bindings, free_var=free_var)
    assert str(local_err.value) == str(spark_err.value)
