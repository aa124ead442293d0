"""DuckDB oracle for the benchmark's graph answers.

Independent of the engine under test: the bridge KG is re-expressed in
DuckDB SQL over the same parquet files, the dense re-identification is a
window rank, and EFO queries go through this module's own small parser
and a SQL compiler —

- each positive atom becomes an aliased scan of the triple table,
  shared variables become equalities between aliases;
- each negated atom becomes ``NOT EXISTS`` over one more scan;
- the DNF disjuncts are combined with ``UNION``.

Relation ids follow the engine's pair encoding: base relation k is 2k
forward and 2k+1 backward, so an inverse edge is ``r XOR 1``.
"""

from __future__ import annotations

import os
import re
from itertools import product

import duckdb
import numpy as np

ORDER_BASE, PART_BASE, SUPP_BASE, NATION_BASE = 1_000_000, 2_000_000, 3_000_000, 4_000_000

# customer -placed-> order, order -contains-> part, order -supplied_by->
# supplier, supplier -from_nation-> nation, customer -cust_nation-> nation
BRIDGE_SQL = f"""
SELECT o_custkey AS h, 0 AS r, {ORDER_BASE} + o_orderkey AS t FROM orders
UNION ALL SELECT {ORDER_BASE} + l_orderkey, 1, {PART_BASE} + l_partkey FROM lineitem
UNION ALL SELECT {ORDER_BASE} + l_orderkey, 2, {SUPP_BASE} + l_suppkey FROM lineitem
UNION ALL SELECT {SUPP_BASE} + s_suppkey, 3, {NATION_BASE} + s_nationkey FROM supplier
UNION ALL SELECT c_custkey, 4, {NATION_BASE} + c_nationkey FROM customer
"""

TABLES = ("customer", "orders", "lineitem", "supplier", "part", "nation")


# -- EFO parsing: lstr -> DNF ----------------------------------------------

_TOKEN = re.compile(r"\s*(?:([A-Za-z_][A-Za-z0-9_]*)|(.))")


def _tokens(lstr: str) -> list[str]:
    out = []
    for name, ch in _TOKEN.findall(lstr):
        tok = name or ch
        if tok.strip():
            out.append(tok)
    return out


def parse(lstr: str):
    """Grammar: or := and ('|' and)*, and := un ('&' un)*,
    un := '!' un | '(' or ')' | rel '(' term ',' term ')'.
    Returns nested tuples ('atom', rel, head, tail), ('not', x),
    ('and', a, b), ('or', a, b)."""
    toks = _tokens(lstr)
    pos = 0

    def take(expect: str | None = None) -> str:
        nonlocal pos
        if pos >= len(toks):
            raise ValueError(f"unexpected end of {lstr!r}")
        tok = toks[pos]
        if expect is not None and tok != expect:
            raise ValueError(f"expected {expect!r} at token {pos} of {lstr!r}, got {tok!r}")
        pos += 1
        return tok

    def peek() -> str:
        return toks[pos] if pos < len(toks) else ""

    def p_or():
        node = p_and()
        while peek() == "|":
            take("|")
            node = ("or", node, p_and())
        return node

    def p_and():
        node = p_un()
        while peek() == "&":
            take("&")
            node = ("and", node, p_un())
        return node

    def p_un():
        if peek() == "!":
            take("!")
            return ("not", p_un())
        if peek() == "(":
            take("(")
            node = p_or()
            take(")")
            return node
        rel = take()
        take("(")
        head = take()
        take(",")
        tail = take()
        take(")")
        return ("atom", rel, head, tail)

    node = p_or()
    if pos != len(toks):
        raise ValueError(f"trailing input in {lstr!r}")
    return node


def dnf(node, negated: bool = False) -> list[tuple[list, list]]:
    """Clauses as (positive atoms, negated atoms); an atom is
    (rel, head, tail).  Negation is pushed down by De Morgan."""
    kind = node[0]
    if kind == "atom":
        atom = node[1:]
        return [([], [atom])] if negated else [([atom], [])]
    if kind == "not":
        return dnf(node[1], not negated)
    left, right = dnf(node[1], negated), dnf(node[2], negated)
    if (kind == "or") != negated:  # a plain OR, or a negated AND
        return left + right
    return [(lp + rp, ln + rn) for (lp, ln), (rp, rn) in product(left, right)]


def clause_sql(pos: list, neg: list, bindings: dict[str, int], table: str, free: str = "f") -> str:
    if not pos:
        raise ValueError("clause without positive atoms")
    var_col: dict[str, str] = {}
    where: list[str] = []
    for i, (rel, head, tail) in enumerate(pos):
        where.append(f"a{i}.r = {int(bindings[rel])}")
        for term, col in ((head, f"a{i}.h"), (tail, f"a{i}.t")):
            if term.startswith("s"):
                where.append(f"{col} = {int(bindings[term])}")
            elif term in var_col:
                where.append(f"{col} = {var_col[term]}")
            else:
                var_col[term] = col

    def ref(term: str) -> str:
        if term.startswith("s"):
            return str(int(bindings[term]))
        if term not in var_col:
            raise ValueError(f"unsafe negation: {term} is not bound by a positive atom")
        return var_col[term]

    for rel, head, tail in neg:
        where.append(
            f"NOT EXISTS (SELECT 1 FROM {table} n WHERE n.r = {int(bindings[rel])} "
            f"AND n.h = {ref(head)} AND n.t = {ref(tail)})"
        )
    scans = ", ".join(f"{table} a{i}" for i in range(len(pos)))
    return f"SELECT DISTINCT {ref(free)} AS f FROM {scans} WHERE {' AND '.join(where)}"


def efo_sql(lstr: str, bindings: dict[str, int], table: str, free: str = "f") -> str:
    return "\nUNION\n".join(
        clause_sql(pos, neg, bindings, table, free) for pos, neg in dnf(parse(lstr))
    )


# -- the oracle ----------------------------------------------------------------


class Oracle:
    """DuckDB connection over one dataset directory, with the augmented
    bridge KG (``aug``: original ids) and its dense form (``dense``)."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        for name in TABLES:
            path = os.path.join(data_dir, f"{name}.parquet").replace("'", "''")
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        self.con.execute(f"CREATE TABLE base AS {BRIDGE_SQL}")
        self.con.execute(
            "CREATE TABLE aug AS SELECT h, 2 * r AS r, t FROM base "
            "UNION ALL SELECT t, 2 * r + 1, h FROM base"
        )
        # dense id = rank of the original id among all entities
        self.con.execute(
            "CREATE TABLE ents AS SELECT orig, (row_number() OVER (ORDER BY orig)) - 1 AS dense "
            "FROM (SELECT h AS orig FROM base UNION SELECT t FROM base)"
        )
        self.con.execute(
            "CREATE TABLE dense AS SELECT eh.dense AS h, a.r, et.dense AS t FROM aug a "
            "JOIN ents eh ON eh.orig = a.h JOIN ents et ON et.orig = a.t"
        )

    def close(self) -> None:
        self.con.close()

    def answers(self, lstr: str, bindings: dict[str, int], table: str = "aug") -> set[int]:
        rows = self.con.execute(efo_sql(lstr, bindings, table)).fetchall()
        return {int(r[0]) for r in rows}

    def sql_set(self, sql: str) -> set[int]:
        return {int(r[0]) for r in self.con.execute(sql).fetchall()}

    def num_entities(self) -> int:
        return int(self.con.execute("SELECT count(*) FROM ents").fetchone()[0])

    def entity_ids(self) -> np.ndarray:
        """Original ids in dense order (index = dense id)."""
        return self.con.execute("SELECT orig FROM ents ORDER BY dense").fetchnumpy()["orig"]

    def triples(self, table: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        cols = self.con.execute(f"SELECT h, r, t FROM {table}").fetchnumpy()
        return (
            cols["h"].astype(np.int64),
            cols["r"].astype(np.int64),
            cols["t"].astype(np.int64),
        )
