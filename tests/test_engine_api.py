"""Engine public-surface regression tests (facade behaviors that the
gate exercises implicitly but deserve direct pins)."""

import os
import threading
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from knovexlite_spark.engine import Engine
from tests.conftest import SF_SMALL


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
