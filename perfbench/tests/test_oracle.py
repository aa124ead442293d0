"""The benchmark's EFO->SQL compiler against the 13 hand-written
``CQ_ORACLE`` queries of ``knovexlite_spark.queries.efo``.

Runs on a generated sf0.01 dataset.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

_HERE = os.path.dirname(os.path.abspath(__file__))
_BENCH = os.path.dirname(_HERE)
sys.path[:0] = [_BENCH, os.path.dirname(_BENCH)]

import datagen  # noqa: E402
import oracle  # noqa: E402
from knovexlite_spark.queries.efo import CQ_DEFS, CQ_ORACLE  # noqa: E402


@pytest.fixture(scope="module")
def orc(tmp_path_factory):
    o = oracle.Oracle(datagen.write_dataset(str(tmp_path_factory.mktemp("data")), seed=7, sf=0.01))
    yield o
    o.close()


def _pinned(o: oracle.Oracle) -> dict[str, int]:
    s = [r[0] for r in o.con.execute("SELECT c_custkey FROM customer ORDER BY 1 LIMIT 3").fetchall()]
    x = oracle.PART_BASE + o.con.execute("SELECT min(p_partkey) FROM part").fetchone()[0]
    return {"s1": s[0], "s2": s[1], "s3": s[2], "x": x}


@pytest.mark.parametrize("name", sorted(CQ_DEFS))
def test_compiler_matches_hand_written_oracle(orc, name):
    lstr, rels, consts = CQ_DEFS[name]
    pinned = _pinned(orc)
    bindings = dict(rels) | {sym: pinned[key] for sym, key in consts.items()}
    got = orc.answers(lstr, bindings, table="aug")
    want = orc.sql_set(CQ_ORACLE[name])
    assert got == want, (name, len(got), len(want))


def test_dense_ids_are_a_bijection(orc):
    n = orc.num_entities()
    h, r, t = orc.triples("dense")
    assert h.min() >= 0 and t.min() >= 0 and max(h.max(), t.max()) == n - 1
    assert sorted(set(r.tolist())) == list(range(10))
    ids = orc.entity_ids()
    assert len(ids) == n and (ids[1:] > ids[:-1]).all()


def test_dnf_pushes_negation():
    clauses = oracle.dnf(oracle.parse("!(r1(s1,f)|r2(s2,f))&r3(s3,f)"))
    assert clauses == [([("r3", "s3", "f")], [("r1", "s1", "f"), ("r2", "s2", "f")])]
    assert len(oracle.dnf(oracle.parse("(r1(s1,e1)|r2(s2,e1))&r3(e1,f)"))) == 2
