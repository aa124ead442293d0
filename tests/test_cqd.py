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
    """eval_batch is one kernel stage: no exchange for any shape, also
    where a beam variable feeds two edges of one level (2nm, 3pm) or
    two edges reach the free variable from anchors (2i, 2in)."""
    from knovexlite_spark.functions.kge import EmbeddingStore, TransE
    from knovexlite_spark.reasoner.cqd import CQDBeam

    store = EmbeddingStore.xavier(20, 4, ent_dim=8, seed=3)
    inst = spark.createDataFrame(
        [(0, {"r1": 0, "r2": 2, "s1": 1, "s2": 2})],
        "query_id long, bindings map<string,long>",
    )
    r = CQDBeam(model=TransE(), store=store, beam_size=5)
    shapes = ("r1(s1,f)&r2(s2,f)", "r1(s1,e1)&r2(e1,f)", "r1(s1,f)&!r2(s2,f)")
    for lstr in shapes + (QUERY_TYPES["2nm"], QUERY_TYPES["3pm"]):
        plan = (
            r.eval_batch(spark, lstr, inst)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan, lstr


def test_eval_batch_equals_driver_beam_scores(spark):
    """The Spark kernel and a driver call of ``beam_scores`` give the
    same scores bit for bit on every query type, with a beam smaller
    than the domain, however the instance rows are partitioned."""
    from knovexlite_spark.functions.kge import TransE
    from knovexlite_spark.reasoner.cqd import beam_scores

    n, n_rel, beam, q = 30, 12, 3, 2
    store = EmbeddingStore.xavier(n, n_rel, ent_dim=8, seed=5)
    cqd = CQDBeam(model=TransE(), store=store, beam_size=beam)
    rng = np.random.default_rng(0)
    names = sorted(QUERY_TYPES)
    want, rows = {}, []
    for k, name in enumerate(names):
        plan = compile_plan(QUERY_TYPES[name])
        ids = {
            s: rng.integers(n_rel if s.startswith("r") else n, size=q) for s in plan.symbols
        }
        want[name] = beam_scores(plan, TransE(), store.ent, store.rel, beam, ids)
        rows += [(k * q + i, name, {s: int(v[i]) for s, v in ids.items()}) for i in range(q)]
    for parts in (1, 4):
        inst = spark.createDataFrame(
            rows, "query_id long, name string, bindings map<string,long>"
        ).repartition(parts)
        frames = [
            cqd.eval_batch(spark, QUERY_TYPES[name], inst.filter(inst["name"] == name))
            for name in names
        ]
        out = frames[0]
        for f_ in frames[1:]:
            out = out.unionByName(f_)
        pdf = out.toPandas()
        got = np.full((len(names) * q, n), np.nan)
        got[pdf["query_id"].to_numpy(), pdf["t"].to_numpy()] = pdf["score"].to_numpy()
        assert len(pdf) == got.size
        for k, name in enumerate(names):
            np.testing.assert_array_equal(got[k * q : (k + 1) * q], want[name], err_msg=name)


def test_beam_scores_chunks_unconstrained_leaf():
    """2il's existential leaf is the whole domain: N source rows per
    instance.  No ``score_all`` call scores more than max(N, MAX_FLUX)
    values, and the result is the closed form of the two edges."""
    from knovexlite_spark.functions.kge import MAX_FLUX, TransE
    from knovexlite_spark.reasoner.cqd import beam_scores

    n = 1_000  # N² = 10 × MAX_FLUX
    store = EmbeddingStore.xavier(n, 4, ent_dim=4, seed=2)
    model, sizes = TransE(), []
    real = model.score_all

    def counting(head, rel, entities):
        out = real(head, rel, entities)
        sizes.append(out.size)
        return out

    model.score_all = counting
    ids = {"r1": np.array([0, 2]), "r2": np.array([1, 3]), "s1": np.array([5, 7])}
    got = beam_scores(compile_plan(QUERY_TYPES["2il"]), model, store.ent, store.rel, 3, ids)
    assert max(sizes) <= max(n, MAX_FLUX)
    assert sum(sizes) >= 2 * n * n
    ent, rel = store.ent, store.rel
    for i in range(2):
        anchor = real(ent[[ids["s1"][i]]], rel[[ids["r1"][i]]], ent)[0].astype(np.float64)
        leaf = real(ent, rel[[ids["r2"][i]] * n], ent).astype(np.float64).max(axis=0)
        np.testing.assert_array_equal(got[i], anchor + leaf)


def test_reasoners_reject_store_above_broadcast_ceiling(spark, monkeypatch):
    """Both neural reasoners need the whole entity matrix: above the
    broadcast ceiling their constructors raise the same ValueError,
    before any Spark job."""
    from knovexlite_spark.functions import kge
    from knovexlite_spark.reasoner.lmpnn import LMPNN

    store = EmbeddingStore.xavier(20, 4, ent_dim=8, seed=3)
    monkeypatch.setattr(kge, "ENT_BROADCAST_MAX_BYTES", 200)
    sc = spark.sparkContext
    sc.setJobGroup("ceiling", "ceiling")
    try:
        messages = []
        for make in (CQDBeam, LMPNN):
            with pytest.raises(ValueError, match="broadcast ceiling") as err:
                make(kge.TransE(), store)
            messages.append(str(err.value))
        assert sc.statusTracker().getJobIdsForGroup("ceiling") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert messages[0] == messages[1]


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
