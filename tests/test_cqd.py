"""CQD beam search with a 0/1 oracle KGE must reproduce the exact
evaluator's answer sets on tree-shaped query types (SURVEY §5.4,
FIXTURES.md §B4): with beam_size >= num_entities, an entity is an
answer iff its max-sum score equals the number of positive atoms."""

import random

import numpy as np
import pytest

from knovexlite_spark.functions.kge import EmbeddingStore, KGEModel
from knovexlite_spark.language.ast import ConjunctiveClause
from knovexlite_spark.language.normalize import dnf_conjuncts
from knovexlite_spark.language.parser import parse_lstr
from knovexlite_spark.language.query import QUERY_TYPES
from knovexlite_spark.plans.exact import compile_plan
from knovexlite_spark.reasoner.cqd import CQDBeam
from tests.efo_bruteforce import answers_bruteforce, make_tiny_kg, sample_bindings

N_ENT, N_RELPAIRS, N_FACTS = 40, 4, 120

# tree-shaped types where max-sum variable elimination is exact
TREE_TYPES = ["1p", "2p", "3p", "2i", "ip", "pi", "2in", "inp", "pni", "2u", "up"]


class OracleKGE(KGEModel):
    """score(h,r,t) = 1 iff (h,r,t) is a fact. Entity/relation
    'embeddings' are just their ids (width 1)."""

    name = "oracle"

    def __init__(self, facts, n, m):
        self.mat = np.zeros((m, n, n), dtype=bool)
        for h, r, t in facts:
            self.mat[r, h, t] = True

    def score(self, head, rel, tail):
        return self.mat[
            np.asarray(rel[..., 0], dtype=int),
            np.asarray(head[..., 0], dtype=int),
            np.asarray(tail[..., 0], dtype=int),
        ].astype(np.float64)

    def score_all(self, head, rel, entities):
        h = np.asarray(head[:, 0], dtype=int)
        r = np.asarray(rel[:, 0], dtype=int)
        block = self.mat[r, h]  # [B, N] over all entity ids
        return block[:, np.asarray(entities[:, 0], dtype=int)].astype(np.float64)


@pytest.fixture(scope="module")
def oracle_setup():
    facts = make_tiny_kg(seed=7, n_entities=N_ENT, n_rel_pairs=N_RELPAIRS, n_facts=N_FACTS)
    model = OracleKGE(facts, N_ENT, 2 * N_RELPAIRS)
    ids = np.arange(N_ENT, dtype=np.float32).reshape(-1, 1)
    rel_ids = np.arange(2 * N_RELPAIRS, dtype=np.float32).reshape(-1, 1)
    store = EmbeddingStore(ent=ids, rel=rel_ids)
    return facts, model, store


@pytest.mark.parametrize("name", TREE_TYPES)
def test_oracle_beam_equals_exact(spark, oracle_setup, name):
    facts, model, store = oracle_setup
    lstr = QUERY_TYPES[name]
    rng = random.Random(hash(name) & 0xFFF)
    bindings = sample_bindings(facts, lstr, rng)
    expected = answers_bruteforce(facts, lstr, bindings)

    reasoner = CQDBeam(model=model, store=store, beam_size=N_ENT)
    scores = reasoner.eval_all_entity_scores(spark, lstr, bindings)
    rows = scores.collect()
    assert len(rows) == N_ENT

    n_pos = max(len(c.positive) for c in dnf_conjuncts(parse_lstr(lstr)))
    predicted = {r["t"] for r in rows if np.isclose(r["score"], n_pos)}
    assert predicted == expected, f"{name}: bindings={bindings}"


def test_batched_equals_single(spark, oracle_setup):
    """A 3-instance batch of 2p must equal three single-instance runs."""
    facts, model, store = oracle_setup
    lstr = QUERY_TYPES["2p"]
    rng = random.Random(5)
    instances = [sample_bindings(facts, lstr, rng) for _ in range(3)]
    reasoner = CQDBeam(model=model, store=store, beam_size=N_ENT)

    inst_df = spark.createDataFrame(
        [(i, {k: int(v) for k, v in b.items()}) for i, b in enumerate(instances)],
        schema="query_id long, bindings map<string,long>",
    )
    batch = {
        (r["query_id"], r["t"]): r["score"]
        for r in reasoner.eval_batch(spark, lstr, inst_df).collect()
    }
    for i, b in enumerate(instances):
        single = {
            r["t"]: r["score"]
            for r in reasoner.eval_all_entity_scores(spark, lstr, b).collect()
        }
        for t, s in single.items():
            assert np.isclose(batch[(i, t)], s), (i, t)


def test_level_fusion_single_exchange_per_level(spark):
    """Round-6 ask #7 plan pin: all incoming edges of a variable are
    scored in one kernel pass and both aggregations (per-edge max,
    conjunction sum) plus the disjunct merge run after ONE
    hash-exchange on (query_id, t) — HashPartitioning on a subset of
    the grouping keys satisfies both clustered distributions, and the
    root frame is deliberately not checkpoint-barriered."""
    from knovexlite_spark.functions.kge import EmbeddingStore, TransE
    from knovexlite_spark.reasoner.cqd import CQDBeam

    store = EmbeddingStore.xavier(20, 4, ent_dim=8, seed=3)
    inst = spark.createDataFrame(
        [(0, {"r1": 0, "r2": 2, "s1": 1, "s2": 2})],
        "query_id long, bindings map<string,long>",
    )
    r = CQDBeam(model=TransE(), store=store, beam_size=5)
    for lstr in ("r1(s1,f)&r2(s2,f)", "r1(s1,e1)&r2(e1,f)", "r1(s1,f)&!r2(s2,f)"):
        plan = (
            r.eval_batch(spark, lstr, inst)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Exchange hashpartitioning") == 1, lstr


def test_store_broadcast_once_per_eval_batch(spark, monkeypatch):
    """A 3p batch scores three beam levels against one broadcast pair:
    2 broadcasts per eval_batch call, not 2 per level."""
    from knovexlite_spark.functions.kge import EmbeddingStore, TransE

    store = EmbeddingStore.xavier(20, 4, ent_dim=8, seed=3)
    inst = spark.createDataFrame(
        [(0, {"r1": 0, "r2": 2, "r3": 1, "s1": 1})],
        "query_id long, bindings map<string,long>",
    )
    sc = spark.sparkContext
    made = []
    real = sc.broadcast

    def counting(value):
        made.append(value)
        return real(value)

    monkeypatch.setattr(sc, "broadcast", counting)
    out = CQDBeam(model=TransE(), store=store, beam_size=5).eval_batch(
        spark, QUERY_TYPES["3p"], inst
    )
    assert out.count() == 20
    assert len(made) == 2


def test_store_broadcast_once_per_reasoner(spark, monkeypatch):
    """Repeated eval_batch calls on one CQDBeam reuse its broadcast
    pair: 2 broadcasts in total, not 2 per call."""
    from knovexlite_spark.functions.kge import EmbeddingStore, TransE

    store = EmbeddingStore.xavier(20, 4, ent_dim=8, seed=3)
    inst = spark.createDataFrame(
        [(0, {"r1": 0, "r2": 2, "s1": 1})], "query_id long, bindings map<string,long>"
    )
    sc = spark.sparkContext
    made = []
    real = sc.broadcast

    def counting(value):
        made.append(value)
        return real(value)

    monkeypatch.setattr(sc, "broadcast", counting)
    cqd = CQDBeam(model=TransE(), store=store, beam_size=5)
    for lstr in (QUERY_TYPES["2p"], QUERY_TYPES["1p"]):
        assert cqd.eval_batch(spark, lstr, inst).count() == 20
    assert len(made) == 2


def _dnf_edges(clause: ConjunctiveClause) -> list[tuple]:
    """The oriented-edge encoding CQD built from the DNF clause before it
    read the compiled plan: every atom forward then inverted, positive
    atoms first, in written order."""
    out = []
    for atom, negated in [(a, False) for a in clause.positive] + [
        (a, True) for a in clause.negative
    ]:
        h, t = atom.head.name, atom.tail.name
        out += [(h, t, atom.relation, False, negated), (t, h, atom.relation, True, negated)]
    return out


@pytest.mark.parametrize("name", sorted(QUERY_TYPES))
def test_plan_edges_equal_dnf_encoding(name):
    lstr = QUERY_TYPES[name]
    plan = compile_plan(lstr)
    want = [_dnf_edges(c) for c in dnf_conjuncts(parse_lstr(lstr))]
    got = [
        [(e.src.name, e.dst.name, e.relation, e.inverted, e.negated) for e in c.edges]
        for c in plan.clauses
    ]
    assert got == want


def test_eval_batch_missing_binding_raises_value_error(spark):
    """An instance whose bindings lack a symbol reaches the scoring
    kernel as a NULL id, which is rejected like an out-of-range one."""
    from knovexlite_spark.functions.kge import TransE

    store = EmbeddingStore.xavier(20, 4, ent_dim=8, seed=3)
    inst = spark.createDataFrame(
        [(0, {"r1": 0})], "query_id long, bindings map<string,long>"
    )
    cqd = CQDBeam(model=TransE(), store=store, beam_size=5)
    with pytest.raises(Exception, match="ValueError: h ids are NULL"):
        cqd.eval_batch(spark, "r1(s1,f)", inst).collect()


@pytest.mark.parametrize(
    "lstr, bindings, match",
    [
        ("r1(s1,f)", {"r1": 0}, "unbound symbols"),
        ("r1(s1,f)&!r2(e1,f)", {"r1": 0, "r2": 2, "s1": 1}, "unsafe negation"),
        ("r1(s1,e1)", {"r1": 0, "s1": 1}, "free variable"),
    ],
)
def test_errors_match_exact_engine_without_a_job(spark, lstr, bindings, match):
    """CQD, LMPNN and Engine.efo reject a query through the one compiled
    plan: the same ValueError, raised before any Spark job."""
    from knovexlite_spark.engine import Engine
    from knovexlite_spark.functions.kge import TransE
    from knovexlite_spark.reasoner.lmpnn import build_query_graph_frames
    from tests.conftest import SF_SMALL

    engine = Engine.for_dir(spark, SF_SMALL)
    cqd = CQDBeam(model=TransE(), store=EmbeddingStore.xavier(20, 4, ent_dim=8, seed=3))
    calls = [
        lambda: engine.efo(lstr, bindings),
        lambda: cqd.eval_all_entity_scores(spark, lstr, bindings),
        lambda: build_query_graph_frames(spark, [(0, lstr, bindings)]),
    ]
    sc = spark.sparkContext
    group = f"plan-errors-{match}"
    sc.setJobGroup(group, group)
    try:
        messages = []
        for call in calls:
            with pytest.raises(ValueError, match=match) as err:
                call()
            messages.append(str(err.value))
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(set(messages)) == 1, messages
