"""Seeded TPC-H-shaped tables for the benchmark.

Writes one parquet file per table the engine registers
(``knovexlite_spark.schemas.TESTDATA_TABLES``) with the column names and
types of the repo's test data.  Only the key columns feed the bridge KG
(customers, orders, parts, suppliers, nations); the other columns are
filled cheaply so every table scans like the real one.

Sizes follow TPC-H per scale factor ``sf``: 150,000*sf customers,
10 orders per customer, 4 line items per order, 200,000*sf parts,
10,000*sf suppliers, 25 nations, 5 regions.  Keys start at 0, orders pick
customers uniformly, line items pick orders, parts and suppliers
uniformly — so some orders have no line items, as in the test data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_NATIONS = 25
N_REGIONS = 5
_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds


def table_sizes(sf: float) -> dict[str, int]:
    cust = max(int(150_000 * sf), 30)
    return {
        "customer": cust,
        "orders": 10 * cust,
        "lineitem": 40 * cust,
        "part": max(int(200_000 * sf), 40),
        "supplier": max(int(10_000 * sf), 10),
    }


def _ts(rng: np.random.Generator, n: int) -> pa.Array:
    us = _T0_US + rng.integers(0, 365 * 86_400 * 1_000_000, size=n)
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}{k}" for k in keys.tolist()], type=pa.string())


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    nat = np.arange(N_NATIONS, dtype=np.int32)
    reg = np.arange(N_REGIONS, dtype=np.int32)
    cust = np.arange(n["customer"], dtype=np.int64)
    supp = np.arange(n["supplier"], dtype=np.int64)
    part = np.arange(n["part"], dtype=np.int64)
    orders = np.arange(n["orders"], dtype=np.int64)
    n_li = n["lineitem"]
    l_order = np.sort(rng.integers(0, n["orders"], size=n_li))
    # 1-based line number within each order (l_order is sorted)
    first = np.searchsorted(l_order, l_order, side="left")
    linenumber = (np.arange(n_li) - first + 1).astype(np.int32)
    tables = {
        "region": pa.table(
            {"r_regionkey": reg, "r_name": _names("REGION_", reg)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": nat,
                "n_name": _names("NATION_", nat),
                "n_regionkey": (nat % N_REGIONS).astype(np.int32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": cust,
                "c_name": _names("Customer#", cust),
                "c_nationkey": rng.integers(0, N_NATIONS, size=len(cust)).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999, 9999, len(cust)), 2),
                "c_mktsegment": pa.array(
                    np.array(["AUTOMOBILE", "BUILDING", "MACHINERY"])[
                        rng.integers(0, 3, len(cust))
                    ]
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": supp,
                "s_name": _names("Supplier#", supp),
                "s_nationkey": rng.integers(0, N_NATIONS, size=len(supp)).astype(np.int32),
                "s_acctbal": np.round(rng.uniform(-999, 9999, len(supp)), 2),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": part,
                "p_name": _names("part ", part),
                "p_brand": pa.array(
                    np.array(["Brand#1", "Brand#2", "Brand#3"])[rng.integers(0, 3, len(part))]
                ),
                "p_type": pa.array(np.full(len(part), "STANDARD")),
                "p_size": rng.integers(1, 51, size=len(part)).astype(np.int32),
                "p_retailprice": np.round(rng.uniform(900, 2000, len(part)), 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": orders,
                "o_custkey": rng.integers(0, n["customer"], size=len(orders)),
                "o_orderstatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, len(orders))]),
                "o_totalprice": np.round(rng.uniform(1000, 400_000, len(orders)), 2),
                "o_orderdate": _ts(rng, len(orders)),
                "o_orderpriority": pa.array(np.full(len(orders), "3-MEDIUM")),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": l_order,
                "l_partkey": rng.integers(0, n["part"], size=n_li),
                "l_suppkey": rng.integers(0, n["supplier"], size=n_li),
                "l_linenumber": linenumber,
                "l_quantity": rng.integers(1, 51, size=n_li).astype(np.float64),
                "l_extendedprice": np.round(rng.uniform(900, 100_000, n_li), 2),
                "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
                "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
                "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
                "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
                "l_shipdate": _ts(rng, n_li),
            }
        ),
    }
    n_ev = 1000
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(rng, n_ev),
            "user_id": rng.integers(0, 100, size=n_ev),
            "event_type": pa.array(np.array(["click", "view", "error"])[rng.integers(0, 3, n_ev)]),
            "value": np.round(rng.uniform(0, 100, n_ev), 2),
            "props": pa.array(np.full(n_ev, '{"k": 1}')),
        }
    )
    n_doc = 50
    doc = np.arange(n_doc, dtype=np.int64)
    tables["documents"] = pa.table(
        {
            "doc_id": doc,
            "text": _names("document ", doc),
            "lang": pa.array(np.full(n_doc, "en")),
            "source": _names("src", doc % 5),
            "n_chars": np.full(n_doc, 12, dtype=np.int64),
        }
    )
    emb = rng.standard_normal((n_doc, 8)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": doc,
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": (doc % 4).astype(np.int32),
        }
    )
    return tables


def write_dataset(out_dir: str, seed: int, sf: float) -> str:
    """Write every table under ``out_dir`` (reused when already complete)
    and return the directory."""
    marker = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write(f"seed={seed} sf={sf}\n")
    return out_dir
