"""Approx-aggregate tolerance checks + new gate entries at sf0.001."""

import pytest

from knovexlite_spark.queries import extras, streaming_gate
from knovexlite_spark.queries.relational import SHARED_SQL
from tests.conftest import SF_SMALL
from tests.oracle_util import check_query


def test_approx_distinct_within_tolerance(spark):
    rows = extras.q_approx_distinct(spark, SF_SMALL).collect()
    assert rows
    from knovexlite_spark.engine import Engine
    from pyspark.sql import functions as F

    exact = {
        r["o_orderpriority"]: r["c"]
        for r in Engine.for_dir(spark, SF_SMALL)
        .table("orders")
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("c"))
        .collect()
    }
    for r in rows:
        e = exact[r["o_orderpriority"]]
        assert abs(r["approx_custs"] - e) <= max(3, 0.05 * e), (r, e)


def test_approx_quantiles_ordered(spark):
    row = extras.q_approx_quantiles(spark, SF_SMALL).collect()[0]
    assert row["p50"] <= row["p90"] <= row["p99"]


def test_approx_sketches_oracle_green(spark):
    """The tolerance-verdict gate row must hash-match its DuckDB all-1s
    mirror (i.e. every sketch is within its accuracy contract)."""
    check_query(
        spark, SF_SMALL, "approx_sketches",
        extras.queries()["approx_sketches"],
        extras.oracle_sql()["approx_sketches"],
    )


def test_multimodal_features_oracle_green(spark):
    """The byte-stripe fake decoder's features must hash-match the
    DuckDB hex-substring replay (value-level multimodal check)."""
    check_query(
        spark, SF_SMALL, "multimodal_features",
        extras.queries()["multimodal_features"],
        extras.oracle_sql()["multimodal_features"],
    )


@pytest.mark.parametrize("name", sorted(streaming_gate.ORACLES))
def test_streaming_gate(spark, name):
    check_query(
        spark, SF_SMALL, name,
        streaming_gate.queries()[name], streaming_gate.oracle_sql()[name],
    )


@pytest.mark.parametrize(
    "name", ["q9_grouping_multi", "q21_exists_correlated", "q22_pivot_case"]
)
def test_new_relational(spark, name):
    from knovexlite_spark.queries import relational

    check_query(
        spark, SF_SMALL, name,
        relational.queries()[name], relational.oracle_sql()[name],
    )
