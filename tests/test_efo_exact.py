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


@pytest.fixture(scope="module")
def kg(spark):
    facts = make_tiny_kg()
    df = spark.createDataFrame(sorted(facts), schema="h LONG, r LONG, t LONG")
    df = df.cache()
    df.count()
    return facts, df


def _check_bruteforce(facts, name, answer):
    """``answer(lstr, bindings)`` -> set of ids, on N_INSTANCES samples."""
    lstr = QUERY_TYPES[name]
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
    if name in ("1p", "2i", "2u"):
        assert n_nonempty > 0


@pytest.mark.parametrize("name", sorted(QUERY_TYPES))
def test_exact_matches_bruteforce(kg, spark, name):
    facts, triples = kg
    _check_bruteforce(
        facts,
        name,
        lambda lstr, b: {row["f"] for row in answer_exact(triples, lstr, b).collect()},
    )


def _edges(facts):
    h, r, t = (np.array(c, np.int64) for c in zip(*sorted(facts)))
    return h, r, t


@pytest.mark.parametrize("name", sorted(QUERY_TYPES))
def test_local_matches_bruteforce(name):
    """The driver-local interpreter, in both relation encodings: raw ids
    over the facts themselves, and pair-encoded ids over the forward
    half of the facts (the tiny KG is inverse-closed, relation 2i's
    mate is 2i+1, so pair-encoding that half rebuilds the facts)."""
    facts = make_tiny_kg()
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
