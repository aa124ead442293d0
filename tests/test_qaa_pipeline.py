"""End-to-end QAA lifecycle (SURVEY §3 entry point 1): JSON source ->
CQD scoring under the fact oracle -> filtered ranking -> MRR/Hits.

With oracle scoring every true answer ties at the top, so after the
filtered protocol MRR and all Hits@K must be exactly 1.0."""

import json
import random

import numpy as np
import pandas as pd
import pytest

from knovexlite_spark.functions.kge import EmbeddingStore
from knovexlite_spark.functions.oracle import FactOracle, id_store
from knovexlite_spark.kg.qaa import evaluate_qaa, load_qaa_json, qaa_answer_frames
from knovexlite_spark.language.query import QUERY_TYPES
from knovexlite_spark.reasoner.cqd import CQDBeam
from tests.efo_bruteforce import answers_bruteforce, make_tiny_kg, sample_bindings

N_ENT, N_RELPAIRS, N_FACTS = 30, 3, 90


def _make_qaa_file(tmp_path, facts, types=("1p", "2p", "2i")):
    """FIXTURES.md §B3: easy answers from a 90% train subset, hard
    answers = the additional full-set answers."""
    rng = random.Random(3)
    train = set(sorted(facts)[: int(len(facts) * 0.9)])
    obj = {}
    for name in types:
        lstr = QUERY_TYPES[name]
        instances = []
        tries = 0
        while len(instances) < 2 and tries < 200:
            tries += 1
            b = sample_bindings(facts, lstr, rng)
            full = answers_bruteforce(facts, lstr, b)
            easy = answers_bruteforce(train, lstr, b) & full
            hard = full - easy
            if hard:
                instances.append([b, sorted(easy), sorted(hard)])
        if instances:
            obj[lstr] = instances
    path = str(tmp_path / "qaa.json")
    with open(path, "w") as f:
        json.dump(obj, f)
    return path


def test_qaa_end_to_end(spark, tmp_path):
    facts = make_tiny_kg(seed=9, n_entities=N_ENT, n_rel_pairs=N_RELPAIRS, n_facts=N_FACTS)
    path = _make_qaa_file(tmp_path, facts)
    qaa = load_qaa_json(spark, path)
    n_q = qaa.count()
    assert n_q >= 3

    model = FactOracle.from_facts(facts, N_ENT)
    store = id_store(N_ENT, 2 * N_RELPAIRS)
    reasoner = CQDBeam(model=model, store=store, beam_size=N_ENT)

    metrics = evaluate_qaa(spark, qaa, reasoner).collect()
    assert metrics, "no metric rows"
    for row in metrics:
        assert np.isclose(row["mrr"], 1.0), row
        for k in (1, 3, 10):
            assert np.isclose(row[f"hit{k}"], 1.0), row


def test_fact_oracle_out_of_range_ids_never_alias():
    """score() with a relation id >= the observed span must return 0.0,
    not alias into another (h, r, t) packed key (round-4 advice: the
    anchor-ball restriction can drop relations the caller still probes).
    """
    # span = 2 (relations 0, 1 observed); entity space 10
    facts = [(1, 0, 3), (1, 1, 4), (2, 1, 5)]
    model = FactOracle.from_facts(facts, 10)
    assert model._rel_span == 2

    def score1(h, r, t):
        arr = lambda v: np.array([[float(v)]])
        return float(model.score(arr(h), arr(r), arr(t))[0])

    # present facts score 1, absent ones 0
    assert score1(1, 0, 3) == 1.0
    assert score1(1, 1, 3) == 0.0
    # r=2 aliases key(h + 1, 0, t) under naive packing: (1,2,4) would
    # collide with (2,1,4)... craft a real collision: key(h,r,t) with
    # r >= span equals key(h + r//span, r % span, t)
    assert score1(1, 2, 5) == 0.0  # would alias (2, 0, 5)? span math: (1*2+2)=4 -> h'=2,r'=0
    assert score1(1, 3, 5) == 0.0  # aliases (2, 1, 5) which IS a fact — must still be 0
    # out-of-range entities likewise
    assert score1(1, 0, 13) == 0.0
    assert score1(-1, 0, 3) == 0.0


def test_qaa_source_roundtrip(spark, tmp_path):
    facts = make_tiny_kg(seed=9, n_entities=N_ENT, n_rel_pairs=N_RELPAIRS, n_facts=N_FACTS)
    path = _make_qaa_file(tmp_path, facts, types=("1p",))
    qaa = load_qaa_json(spark, path)
    easy, hard, qtypes = qaa_answer_frames(qaa)
    assert hard.count() > 0
    assert qtypes.select("qtype").distinct().count() == 1


def test_answer_counts_batched_derivation_semantics(spark):
    """score(t) = number of existential assignments deriving t, per
    instance in the batch."""
    from knovexlite_spark.plans.exact import answer_counts_batched

    # edges r0: 1->10, 1->11; r1: 10->100, 11->100, 10->101 ; 2->10 only
    triples = spark.createDataFrame(
        [(1, 0, 10), (1, 0, 11), (2, 0, 10),
         (10, 1, 100), (11, 1, 100), (10, 1, 101)],
        schema="h long, r long, t long",
    )
    inst = spark.createDataFrame(
        [(0, {"r1": 0, "r2": 1, "s1": 1}), (1, {"r1": 0, "r2": 1, "s1": 2})],
        schema="query_id long, bindings map<string,long>",
    )
    got = {
        (r["query_id"], r["t"]): r["score"]
        for r in answer_counts_batched(
            triples, "r1(s1,e1)&r2(e1,f)", inst
        ).collect()
    }
    # qid0: 100 via e1 in {10,11} -> 2; 101 via 10 -> 1
    # qid1: 100 via 10 -> 1; 101 via 10 -> 1
    assert got == {(0, 100): 2, (0, 101): 1, (1, 100): 1, (1, 101): 1}


def test_answer_counts_batched_negation(spark):
    """Negated atoms anti-join per instance: answers reachable only via
    the negated edge disappear, counts of the rest are unchanged."""
    from knovexlite_spark.plans.exact import answer_counts_batched

    triples = spark.createDataFrame(
        [(1, 0, 100), (1, 0, 101), (2, 1, 101)],
        schema="h long, r long, t long",
    )
    inst = spark.createDataFrame(
        [(0, {"r1": 0, "r2": 1, "s1": 1, "s2": 2})],
        schema="query_id long, bindings map<string,long>",
    )
    got = {
        (r["query_id"], r["t"]): r["score"]
        for r in answer_counts_batched(
            triples, "r1(s1,f)&!r2(s2,f)", inst
        ).collect()
    }
    # 101 is excluded by the negated edge (2,1,101); 100 survives
    assert got == {(0, 100): 1}


def test_evaluate_qaa_requires_eval_batch(spark, tmp_path):
    """Round-6 ask #6: the per-instance driver-loop fallback is gone —
    a reasoner without eval_batch raises loudly instead of silently
    serializing one Spark job per QAA instance."""
    facts = make_tiny_kg(seed=9, n_entities=N_ENT, n_rel_pairs=N_RELPAIRS, n_facts=N_FACTS)
    path = _make_qaa_file(tmp_path, facts, types=("1p",))
    qaa = load_qaa_json(spark, path)

    class NoBatch:
        def eval_all_entity_scores(self, spark, lstr, bindings):
            raise AssertionError("per-instance path must not be reached")

    with pytest.raises(TypeError, match="eval_batch"):
        evaluate_qaa(spark, qaa, NoBatch())


class _CountingReasoner:
    """Scores entity t of every instance as -t; an accumulator counts
    the instances the eval_batch kernel has scored."""

    def __init__(self, spark, n_entities):
        self.runs = spark.sparkContext.accumulator(0)
        self.n = n_entities

    def eval_batch(self, spark, lstr, instances):
        runs, n = self.runs, self.n

        def kernel(it):
            for pdf in it:
                for qid in pdf["query_id"]:
                    runs.add(1)
                    yield pd.DataFrame(
                        {"query_id": qid, "t": np.arange(n), "score": -np.arange(n, dtype=float)}
                    )

        return instances.select("query_id").mapInPandas(
            kernel, "query_id long, t long, score double"
        )


def test_evaluate_qaa_scores_each_instance_once(spark, tmp_path):
    """The ranking reads the score frame once, so a lazy reasoner's
    kernel runs once per QAA instance, not once per consumer."""
    facts = make_tiny_kg(seed=9, n_entities=N_ENT, n_rel_pairs=N_RELPAIRS, n_facts=N_FACTS)
    qaa = load_qaa_json(spark, _make_qaa_file(tmp_path, facts)).cache()
    n_q = qaa.count()
    reasoner = _CountingReasoner(spark, N_ENT)
    assert evaluate_qaa(spark, qaa, reasoner).collect()
    assert reasoner.runs.value == n_q


def test_eval_batch_leaves_no_persisted_frame(spark):
    """Repeated ``CQDBeam.eval_batch`` calls persist nothing: the
    session's persistent RDD set does not grow across calls."""
    from knovexlite_spark.functions.kge import TransE

    beam = CQDBeam(TransE(), EmbeddingStore.xavier(8, 2, ent_dim=4, seed=5))
    inst = spark.createDataFrame(
        [(0, {"s1": 1, "r1": 0}), (1, {"s1": 3, "r1": 1})],
        "query_id long, bindings map<string,long>",
    )
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    for _ in range(3):
        assert beam.eval_batch(spark, QUERY_TYPES["1p"], inst).count() == 2 * 8
    assert set(jsc.getPersistentRDDs().keys()) <= before
