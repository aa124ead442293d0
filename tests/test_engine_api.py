"""Engine public-surface regression tests (facade behaviors that the
gate exercises implicitly but deserve direct pins)."""

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

