"""KG triple storage as DataFrames.

Reference parity (SURVEY.md §1.1, §2.1, §2.8):

- S1 TSV scan  — /root/reference/knovex/utils/data.py:12-31
- S2 validated ingest — /root/reference/knovex/structure/kg/graph.py:81-95
- G4 inverse-edge augmentation — /root/reference/knovex/utils/dataloader.py:32-61
- inverse-relation convention ``rel XOR 1`` —
  /root/reference/knovex/utils/dataloader.py:16-29

Design notes for scale: the triples DataFrame *is* the edge list; the
reference's nine adjacency hash-maps (graph.py:30-51) are never built
as hash-maps.  On Spark every ``hr2t``-style lookup is an equi-join
that Catalyst plans as broadcast or shuffled hash join depending on the
probe side.  Below the KG-size gate in ``engine.py`` the engine also
holds one driver-local adjacency (``plans/local.py``): the pair-encoded
edges as arrays sorted by (r, h), where an ``hr2t`` lookup is a
``searchsorted`` slice and ``tr2h`` is the same lookup on r XOR 1.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from knovexlite_spark import schemas


def read_triples_tsv(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """S1: schema'd TSV scan (head, rel, tail as longs).

    The reference whitespace-splits and int-casts each line with an
    arity-3 assertion (utils/data.py:12-31); a schema'd CSV read does the
    cast in the scan and the arity check via FAILFAST.
    """
    return (
        spark.read.option("sep", "\t")
        .option("mode", "FAILFAST")
        .schema(schemas.TRIPLES)
        .csv(paths)
    )


def validate_triples(
    triples: DataFrame, entities: DataFrame, relations: DataFrame
) -> tuple[DataFrame, int]:
    """S2: every h/r/t must exist in the catalog (graph.py:81-95).

    Returns (valid_triples, n_invalid).  Implemented as left-anti joins —
    the catalog sides are dims, so AQE broadcasts them.
    """
    ent_ids = entities.select(F.col("id"))
    rel_ids = relations.select(F.col("id"))
    bad = (
        triples.join(ent_ids.withColumnRenamed("id", "h"), "h", "left_anti")
        .unionByName(triples.join(rel_ids.withColumnRenamed("id", "r"), "r", "left_anti"))
        .unionByName(triples.join(ent_ids.withColumnRenamed("id", "t"), "t", "left_anti"))
    )
    n_bad = bad.count()
    if n_bad:
        valid = (
            triples.join(ent_ids.withColumnRenamed("id", "h"), "h", "left_semi")
            .join(rel_ids.withColumnRenamed("id", "r"), "r", "left_semi")
            .join(ent_ids.withColumnRenamed("id", "t"), "t", "left_semi")
        )
        return valid, n_bad
    return triples, 0


def inverse_relation_id(rel: Column | str) -> Column:
    """Inverse-pair convention: ids 2i / 2i+1 are mutual inverses, so the
    inverse id is ``rel XOR 1`` (utils/dataloader.py:16-29)."""
    c = F.col(rel) if isinstance(rel, str) else rel
    return c.bitwiseXOR(F.lit(1))


def pair_encode_inverse(triples: DataFrame) -> DataFrame:
    """Re-encode arbitrary relation ids into the reference's inverse-pair
    convention and augment: forward (h, 2r, t) + reverse (t, 2r+1, h).
    Use when the base ids are not already paired (e.g. the relational
    bridge view's 0..4)."""
    fwd = triples.select("h", (F.col("r") * 2).alias("r"), "t")
    rev = triples.select(
        F.col("t").alias("h"), (F.col("r") * 2 + 1).alias("r"), F.col("h").alias("t")
    )
    return fwd.unionByName(rev)


def add_inverse_edges(triples: DataFrame) -> DataFrame:
    """G4: append reversed edges with XOR-flipped relation ids
    (utils/dataloader.py:32-61).  A union of two projections of the same
    scan — no shuffle, read once."""
    fwd = triples.select("h", "r", "t")
    rev = triples.select(
        F.col("t").alias("h"),
        inverse_relation_id("r").alias("r"),
        F.col("h").alias("t"),
    )
    return fwd.unionByName(rev)


# Entity-id encoding for the relational->KG bridge view (FIXTURES.md §B1):
# customer c, order 1M+o, part 2M+p, supplier 3M+s, nation 4M+n.
ORDER_BASE = 1_000_000
PART_BASE = 2_000_000
SUPP_BASE = 3_000_000
NATION_BASE = 4_000_000

REL_PLACED = 0  # cust -> order
REL_CONTAINS = 1  # order -> part
REL_SUPPLIED_BY = 2  # order -> supp
REL_FROM_NATION = 3  # supp -> nation
REL_CUST_NATION = 4  # cust -> nation

TRIPLES_VIEW_SQL = f"""
SELECT o_custkey                    AS h, {REL_PLACED} AS r, {ORDER_BASE} + o_orderkey  AS t FROM orders
UNION ALL
SELECT {ORDER_BASE} + l_orderkey    AS h, {REL_CONTAINS} AS r, {PART_BASE} + l_partkey  AS t FROM lineitem
UNION ALL
SELECT {ORDER_BASE} + l_orderkey    AS h, {REL_SUPPLIED_BY} AS r, {SUPP_BASE} + l_suppkey AS t FROM lineitem
UNION ALL
SELECT {SUPP_BASE} + s_suppkey      AS h, {REL_FROM_NATION} AS r, {NATION_BASE} + s_nationkey AS t FROM supplier
UNION ALL
SELECT c_custkey                    AS h, {REL_CUST_NATION} AS r, {NATION_BASE} + c_nationkey AS t FROM customer
"""


def build_triples_view(spark: SparkSession) -> DataFrame:
    """SURVEY §2.10 KG view over the relational tables (views must already
    be registered).  Disjoint id spaces keep the graph well-formed."""
    df = spark.sql(TRIPLES_VIEW_SQL).select(
        F.col("h").cast("long"), F.col("r").cast("long"), F.col("t").cast("long")
    )
    df.createOrReplaceTempView("triples")
    return df
