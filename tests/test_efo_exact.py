"""Exact EFO evaluation vs brute force on a tiny random KG — all 26
standard query types, random instances (SURVEY.md §5.3), through both
interpreters of the compiled plan: Spark joins and the driver-local
adjacency."""

import random

import numpy as np
import pytest

from knovexlite_spark.language.query import QUERY_TYPES
from knovexlite_spark.plans.exact import answer_exact, compile_plan
from knovexlite_spark.plans.local import Adjacency, answer_local
from tests.efo_bruteforce import answers_bruteforce, make_tiny_kg, sample_bindings

N_INSTANCES = 4

# Inputs no standard type reaches: a disconnected clause (a cross join)
# and a repeated-variable atom.  They run on the tiny KG plus a
# self-loop on every 7th entity in every relation (still inverse-closed),
# so that r(e1,e1) can match.
EXTRA_TYPES = {
    "x_cross": "r1(s1,e1)&r2(s2,f)",
    "x_loop": "r1(e1,e1)&r2(e1,f)",
}
LOOPS = {(e, r, e) for e in range(0, 100, 7) for r in range(12)}


def _facts(name):
    return make_tiny_kg() | (LOOPS if name in EXTRA_TYPES else set())


@pytest.fixture(scope="module")
def kg(spark):
    """``kg(name)`` -> the facts ``name`` runs on and their cached frame."""
    frames = {}

    def get(name):
        facts = _facts(name)
        key = frozenset(facts)
        if key not in frames:
            df = spark.createDataFrame(sorted(facts), schema="h LONG, r LONG, t LONG")
            frames[key] = df.cache()
            frames[key].count()
        return facts, frames[key]

    return get


def _check_bruteforce(facts, name, answer):
    """``answer(lstr, bindings)`` -> set of ids, on N_INSTANCES samples."""
    lstr = {**QUERY_TYPES, **EXTRA_TYPES}[name]
    rng = random.Random(hash(name) & 0xFFFF)
    n_nonempty = 0
    for _ in range(N_INSTANCES):
        bindings = sample_bindings(facts, lstr, rng)
        expected = answers_bruteforce(facts, lstr, bindings)
        got = answer(lstr, bindings)
        assert got == expected, f"{name} bindings={bindings}"
        n_nonempty += bool(expected)
    # the sampler should produce at least one non-trivial instance
    # for the simple anchored types
    if name in ("1p", "2i", "2u", *EXTRA_TYPES):
        assert n_nonempty > 0


@pytest.mark.parametrize("name", sorted(QUERY_TYPES) + sorted(EXTRA_TYPES))
def test_exact_matches_bruteforce(kg, spark, name):
    facts, triples = kg(name)
    _check_bruteforce(
        facts,
        name,
        lambda lstr, b: {row["f"] for row in answer_exact(triples, lstr, b).collect()},
    )


def _edges(facts):
    h, r, t = (np.array(c, np.int64) for c in zip(*sorted(facts)))
    return h, r, t


@pytest.mark.parametrize("name", sorted(QUERY_TYPES) + sorted(EXTRA_TYPES))
def test_local_matches_bruteforce(name):
    """The driver-local interpreter, in both relation encodings: raw ids
    over the facts themselves, and pair-encoded ids over the forward
    half of the facts (the tiny KG is inverse-closed, relation 2i's
    mate is 2i+1, so pair-encoding that half rebuilds the facts)."""
    facts = _facts(name)
    raw = Adjacency(*_edges(facts))
    fwd_h, fwd_r, fwd_t = _edges({(h, r // 2, t) for h, r, t in facts if r % 2 == 0})
    paired = Adjacency(fwd_h, fwd_r, fwd_t)
    for adj, augmented in ((raw, False), (paired, True)):
        _check_bruteforce(
            facts,
            name,
            lambda lstr, b: set(
                answer_local(compile_plan(lstr, "f", b), adj, b, augmented).tolist()
            ),
        )
