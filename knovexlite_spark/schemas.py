"""Fixed StructType schemas (SURVEY.md §1.2-1.3).

The reference is schema-fixed (always ``(h, r, t)`` long triples,
/root/reference/knovex/structure/kg/graph.py:10-64); we keep explicit
schemas so reads never pay inference and writers can't drift.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- KG model (reference parity) ------------------------------------------

TRIPLES = T.StructType(
    [
        T.StructField("h", T.LongType(), False),
        T.StructField("r", T.LongType(), False),
        T.StructField("t", T.LongType(), False),
    ]
)

# Catalog dims (KGIndex, /root/reference/knovex/structure/kg/index.py:4-44)
ENTITIES = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), False),
    ]
)
RELATIONS = ENTITIES

# QAA instances (/root/reference/knovex/utils/dataloader.py:109-125)
QAA = T.StructType(
    [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("lstr", T.StringType(), False),
        T.StructField("bindings", T.MapType(T.StringType(), T.LongType()), False),
        T.StructField("easy_answers", T.ArrayType(T.LongType()), False),
        T.StructField("hard_answers", T.ArrayType(T.LongType()), False),
    ]
)

# --- Relational testdata tables (FIXTURES.md §A) --------------------------

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
