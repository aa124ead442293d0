"""Scale blow-up: write the sf0.1 testdata K-fold (at most 6 for the
shipped data; see ``build_blowup``) as a new parquet directory, for
measuring the Spark paths at a size the test data does not reach.

The blow-up is K id-shifted copies with FULL foreign-key consistency:
orders are densely renumbered first (TPC-H orderkeys are sparse; dense
keys keep every copy inside the KG bridge encoding's 1M id band, so the
EFO queries stay semantically well-formed), then each copy shifts every
key family by copy_index * (max_key + 1).  nation/region stay shared
dims — Kx customers over the same 25 nations, which also makes the
dim-broadcast behavior representative.  REHEARSAL_SALT_DOCS=1 salts
each copy's document text so near-duplicate density stays at the
baseline rate.

Usage: python scripts/scale_rehearsal.py [K] [dst_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from knovexlite_spark.datasets import load_tables
from knovexlite_spark.session import get_spark

SRC = "/root/testdata/sf0.1"


def build_blowup(spark, k: int | None, dst: str) -> int:
    """Write the K-fold blow-up; returns the K actually used.  k=None
    picks min(10, max safe K) — the id-band guard below computes the
    ceiling from the data, and the shipped sf0.1 orders table caps it
    at 6, so a hard default of 10 would always raise (round-2 advisor
    finding)."""
    t = load_tables(spark, SRC)

    def next_key(df: DataFrame, col: str) -> int:
        return int(df.agg(F.max(col)).first()[0]) + 1

    # dense order ids (1-based) so K copies stay under the 1M id band
    omap = (
        t["orders"]
        .select("o_orderkey")
        .select(
            F.col("o_orderkey").alias("__okey"),
            F.row_number().over(Window.orderBy("o_orderkey")).cast("long").alias("__dense"),
        )
    )
    orders = (
        t["orders"]
        .join(omap, t["orders"].o_orderkey == omap["__okey"])
        .drop("o_orderkey", "__okey")
        .withColumnRenamed("__dense", "o_orderkey")
    )
    lineitem = (
        t["lineitem"]
        .join(omap, t["lineitem"].l_orderkey == omap["__okey"])
        .drop("l_orderkey", "__okey")
        .withColumnRenamed("__dense", "l_orderkey")
    )

    shifts: dict[str, tuple[DataFrame, dict[str, int]]] = {}
    C = next_key(t["customer"], "c_custkey")
    O = int(orders.count()) + 1
    P = next_key(t["part"], "p_partkey")
    S = next_key(t["supplier"], "s_suppkey")
    shifts["customer"] = (t["customer"], {"c_custkey": C})
    shifts["orders"] = (orders, {"o_orderkey": O, "o_custkey": C})
    shifts["lineitem"] = (
        lineitem,
        {"l_orderkey": O, "l_partkey": P, "l_suppkey": S},
    )
    shifts["part"] = (t["part"], {"p_partkey": P})
    shifts["supplier"] = (t["supplier"], {"s_suppkey": S})
    shifts["events"] = (
        t["events"],
        {
            "event_id": next_key(t["events"], "event_id"),
            "user_id": next_key(t["events"], "user_id"),
        },
    )
    shifts["documents"] = (t["documents"], {"doc_id": next_key(t["documents"], "doc_id")})
    shifts["embeddings"] = (t["embeddings"], {"vec_id": next_key(t["embeddings"], "vec_id")})

    # The KG bridge encodes entities into 1M-wide id bands (order =
    # 1M+key, part = 2M+key, ...).  Every shifted key family must stay
    # inside its band or copies cross-wire the graph (orders aliasing
    # parts), which would silently corrupt the EFO measurements.
    band = 1_000_000
    max_k = min(band // C, band // O, band // P, band // S)
    if k is None:
        k = min(10, max_k)
    if k > max_k:
        raise ValueError(
            f"blow-up factor {k} overflows the KG id bands "
            f"(max safe K for this source data is {max_k}); the widest "
            f"family is orders with {O - 1} dense keys per copy"
        )
    copies = spark.range(k).select(F.col("id").alias("__copy"))
    for name, (df, keymap) in shifts.items():
        out = df.crossJoin(copies)
        for col, base in keymap.items():
            out = out.withColumn(col, (F.col(col) + F.col("__copy") * base).cast("long"))
        if name == "documents" and os.environ.get("REHEARSAL_SALT_DOCS"):
            # Identical-text copies give every document 2K near-dups, so
            # near-dup OUTPUT (pairs per group = C(2K,2)) grows as K^2 —
            # an output-size effect, not a plan effect.  Salting each
            # copy's text holds duplicate density at the baseline rate
            # to measure plan scaling in isolation.
            # every TOKEN gets the copy id (an end-of-text salt leaves
            # interior shingles — and so the min-signatures — identical)
            salt = F.col("__copy").cast("string")
            out = out.withColumn(
                "text",
                F.array_join(
                    F.transform(
                        F.split(F.trim(F.col("text")), r"\s+"),
                        lambda w: F.concat(w, F.lit("_"), salt),
                    ),
                    " ",
                ),
            )
        out.drop("__copy").write.mode("overwrite").parquet(f"{dst}/{name}.parquet")
    for name in ("nation", "region"):  # shared dims
        t[name].write.mode("overwrite").parquet(f"{dst}/{name}.parquet")
    return k


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else None
    dst = sys.argv[2] if len(sys.argv) > 2 else f"/tmp/sf_blowup_{k or 'auto'}x"
    spark = get_spark(app_name="scale_rehearsal")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    k = build_blowup(spark, k, dst)
    print(f"blow-up x{k} written to {dst} in {time.time() - t0:.1f}s", file=sys.stderr)


if __name__ == "__main__":
    main()
