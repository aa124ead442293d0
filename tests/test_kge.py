"""KGE kernel math + Spark scoring operators (SURVEY §2.6)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from knovexlite_spark.functions.kge import (
    ComplEx,
    DistMult,
    EmbeddingStore,
    RESCAL,
    RotatE,
    SWTransE,
    TransE,
    score_all_tails_grouped_max,
)

RNG = np.random.default_rng(7)


def test_transe_kernel():
    h, r, t = RNG.normal(size=(3, 8)).astype(np.float32)
    m = TransE(p=2)
    assert np.isclose(m.score(h, r, t), -np.linalg.norm(h + r - t))
    assert np.allclose(m.estimate_tail(h, r), h + r)


def test_complex_kernel_matches_complex_arithmetic():
    d = 4
    h, r, t = RNG.normal(size=(3, 2 * d)).astype(np.float32)
    hc = h[:d] + 1j * h[d:]
    rc = r[:d] + 1j * r[d:]
    tc = t[:d] + 1j * t[d:]
    est = ComplEx().estimate_tail(h, r)
    assert np.allclose(est[:d] + 1j * est[d:], hc * rc, atol=1e-5)
    # score = Re(<h∘r, t>) under the [re|im] dot convention
    assert np.isclose(
        ComplEx().score(h, r, t), np.sum((hc * rc).real * tc.real + (hc * rc).imag * tc.imag),
        atol=1e-5,
    )


def test_rotate_rotation_preserves_norm():
    d = 4
    h = RNG.normal(size=2 * d).astype(np.float32)
    phase = RNG.uniform(-np.pi, np.pi, size=d).astype(np.float32)
    est = RotatE().estimate_tail(h, phase)
    hm = np.hypot(h[:d], h[d:])
    em = np.hypot(est[:d], est[d:])
    assert np.allclose(hm, em, atol=1e-5)
    # estimate_head inverts estimate_tail
    back = RotatE().estimate_head(est, phase)
    assert np.allclose(back, h, atol=1e-5)


def test_rescal_bilinear():
    d = 3
    h, t = RNG.normal(size=(2, d)).astype(np.float32)
    w = RNG.normal(size=(d, d)).astype(np.float32)
    s = RESCAL().score(h, w.reshape(-1), t)
    assert np.isclose(s, h @ w @ t, atol=1e-5)


def test_swtranse_sorted_particles():
    m = SWTransE(num_particles=2, p=2)
    # one dim, two particles; sets {1,3} and {3,1} are equal -> distance 0
    h = np.array([1.0, 3.0], dtype=np.float32)
    t = np.array([3.0, 1.0], dtype=np.float32)
    r = np.zeros(1, dtype=np.float32)
    assert np.isclose(m.score(h, r, t), 0.0)


@pytest.mark.parametrize(
    "model", [TransE(), DistMult(), ComplEx(), RotatE(), RESCAL(), SWTransE(num_particles=4)]
)
def test_score_all_consistent_with_score(model):
    n, d = 6, 4
    # entity width: 2d for the complex/particle models, d otherwise
    if isinstance(model, (ComplEx, RotatE, SWTransE)):
        ent = RNG.normal(size=(n, 2 * d)).astype(np.float32)
    else:
        ent = RNG.normal(size=(n, d)).astype(np.float32)
    # relation width per model convention
    if isinstance(model, RotatE):
        rel = RNG.uniform(-np.pi, np.pi, size=(3, d)).astype(np.float32)
    elif isinstance(model, RESCAL):
        rel = RNG.normal(size=(3, d * d)).astype(np.float32)
    elif isinstance(model, ComplEx):
        rel = RNG.normal(size=(3, 2 * d)).astype(np.float32)
    elif isinstance(model, SWTransE):
        rel = RNG.normal(size=(3, 2 * d // model.num_particles)).astype(np.float32)
    else:
        rel = RNG.normal(size=(3, d)).astype(np.float32)
    heads = ent[[0, 1]]
    rels = rel[[0, 1]]
    block = model.score_all(heads, rels, ent)
    assert block.shape == (2, n)
    for b in range(2):
        for j in range(n):
            assert np.isclose(
                block[b, j], model.score(heads[b], rels[b], ent[j]), atol=1e-4
            ), (type(model).__name__, b, j)


def _row_scores(df, model, store):
    """``score_all_tails_grouped_max`` on one-row groups (``query_id``
    = row index): each row's score at its own ``t``."""
    tails = dict(df.select("query_id", "t").collect())
    out = score_all_tails_grouped_max(df.drop("t"), model, store)
    return {r["query_id"]: r["score"] for r in out.collect() if r["t"] == tails[r["query_id"]]}


def test_spark_score_triples_matches_numpy(spark):
    """One-row groups split over several partitions: the all-tails
    score at each row's t is ``model.score(h, r, t)``."""
    store = EmbeddingStore.xavier(num_entities=20, num_relations=6, ent_dim=8, seed=1)
    model = TransE()
    rows = [(q, int(h), int(r), int(t))
            for q, (h, r, t) in enumerate(RNG.integers(0, [20, 6, 20], size=(30, 3)))]
    df = spark.createDataFrame(rows, schema="query_id long, h long, r long, t long").repartition(3)
    got = _row_scores(df, model, store)
    assert len(got) == len(rows)
    for q, h, r, t in rows:
        want = model.score(store.ent[h], store.rel[r], store.ent[t])
        assert np.isclose(got[q], want, atol=1e-4)


def test_spark_score_all_tails_negation(spark):
    store = EmbeddingStore.xavier(num_entities=10, num_relations=4, ent_dim=6, seed=2)
    model = DistMult()
    df = spark.createDataFrame(
        [(0, 3, 1, True, 0.5)], schema="query_id long, h long, r long, neg boolean, acc double"
    )
    out = {
        r["t"]: r["score"]
        for r in score_all_tails_grouped_max(df, model, store, neg_col="neg", acc_col="acc").collect()
    }
    assert len(out) == 10
    for t in range(10):
        want = -model.score(store.ent[3], store.rel[1], store.ent[t]) + 0.5
        assert np.isclose(out[t], want, atol=1e-4)


def test_spark_rank_of_tails(spark):
    """All-entity scores -> merge -> ``answer_ranks`` gives each answer
    the count of entities scored strictly better."""
    from knovexlite_spark.reasoner.metric import answer_ranks

    store = EmbeddingStore.xavier(num_entities=12, num_relations=2, ent_dim=4, seed=3)
    model = DistMult()
    rows = [(0, 0, 1, 5), (1, 2, 0, 7)]
    df = spark.createDataFrame(rows, schema="query_id long, h long, r long, t long")
    scores = (
        score_all_tails_grouped_max(df.drop("t"), model, store)
        .groupBy("query_id", "t").agg(F.max("score").alias("score"))
    )
    ranks = answer_ranks(scores, df.select("query_id", "t"))
    got = {(r["query_id"], r["t"]): r["rank"] for r in ranks.collect()}
    assert len(got) == len(rows)
    for q, h, r, t in rows:
        s = model.score_all(store.ent[[h]], store.rel[[r]], store.ent)[0]
        assert got[(q, t)] == int(np.sum(s > s[t]))


def test_conve_forward_shapes_and_determinism(spark):
    from knovexlite_spark.functions.kge import ConvE

    m = ConvE(embedding_dim=33, seed=3)
    h = RNG.normal(size=(4, 33)).astype(np.float32)
    r = RNG.normal(size=(4, 33)).astype(np.float32)
    t = RNG.normal(size=(4, 33)).astype(np.float32)
    est = m.estimate_tail(h, r)
    assert est.shape == (4, 33)
    assert np.allclose(est[:, 0], 1.0)  # constant bias feature
    assert np.all(est[:, 1:] >= 0)  # post-ReLU
    # deterministic
    assert np.allclose(ConvE(embedding_dim=33, seed=3).estimate_tail(h, r), est)
    # score_all consistency
    ents = RNG.normal(size=(6, 33)).astype(np.float32)
    block = m.score_all(h[:2], r[:2], ents)
    for b in range(2):
        for j in range(6):
            assert np.isclose(block[b, j], m.score(h[b], r[b], ents[j]), atol=1e-4)
    # bad dimension rejected
    import pytest as _pytest
    with _pytest.raises(ValueError):
        ConvE(embedding_dim=30)


def test_conve_spark_scoring(spark):
    from knovexlite_spark.functions.kge import ConvE, EmbeddingStore

    store = EmbeddingStore.xavier(num_entities=10, num_relations=4, ent_dim=33, seed=9)
    m = ConvE(embedding_dim=33, seed=9)
    rows = [(0, 1, 0, 2), (1, 3, 1, 4)]
    df = spark.createDataFrame(rows, "query_id long, h long, r long, t long")
    got = _row_scores(df, m, store)
    assert len(got) == len(rows)
    for q, h, r, t in rows:
        assert np.isclose(got[q], m.score(store.ent[h], store.rel[r], store.ent[t]), atol=1e-4)


def test_grouped_max_expansion_equals_unfused(spark):
    """Merged kernel partials == a NumPy max of ``model.score_all`` over
    each group's rows (negation and ``acc`` applied per row), however
    the rows split across partitions, for a one- and a two-column group
    key (the latter is the ``(query_id, edge_id)`` frontier that
    perfbench's ``kge.kernel`` span scores)."""
    store = EmbeddingStore.xavier(12, 4, ent_dim=6, seed=9)
    model = TransE()
    rows = [(0, 0, 1, 0, False, 0.0), (0, 1, 2, 1, True, -0.5), (0, 0, 3, 0, False, 1.5),
            (1, 0, 4, 2, False, 0.0), (1, 0, 5, 3, True, 2.0)]
    df = spark.createDataFrame(
        rows, schema="query_id long, edge_id long, h long, r long, neg boolean, acc double"
    ).repartition(3)
    for gcols in (("query_id",), ("query_id", "edge_id")):
        fused = (
            score_all_tails_grouped_max(df, model, store, acc_col="acc",
                                        neg_col="neg", group_cols=gcols)
            .groupBy(*gcols, "t").agg(F.max("score").alias("score"))
        )
        got = {(*(r[c] for c in gcols), r["t"]): r["score"] for r in fused.collect()}
        want = {}
        for g in {row[: len(gcols)] for row in rows}:
            mine = [row[2:] for row in rows if row[: len(gcols)] == g]
            s = model.score_all(store.ent[[x[0] for x in mine]],
                                store.rel[[x[1] for x in mine]], store.ent).astype(np.float64)
            s = np.where(np.array([x[2] for x in mine])[:, None], -s, s)
            s = s + np.array([x[3] for x in mine])[:, None]
            want.update({(*g, t): v for t, v in enumerate(s.max(axis=0))})
        assert got.keys() == want.keys()
        assert all(np.isclose(got[k], want[k], atol=1e-9) for k in want)


def test_grouped_max_null_group_key_raises(spark):
    """A row whose group key is NULL raises instead of vanishing from
    every group."""
    store = EmbeddingStore.xavier(6, 3, ent_dim=4, seed=4)
    df = spark.createDataFrame(
        [(0, 1, 1), (None, 2, 0)], schema="query_id long, h long, r long"
    )
    with pytest.raises(Exception, match="ValueError: query_id is NULL"):
        score_all_tails_grouped_max(df, TransE(), store).collect()


def _assert_ceiling_raises_without_a_job(spark, make):
    """``make()`` raises the reasoners' broadcast-ceiling ValueError
    and starts no Spark job; returns the message."""
    sc = spark.sparkContext
    sc.setJobGroup("ceiling", "ceiling")
    try:
        with pytest.raises(ValueError, match="broadcast ceiling") as err:
            make()
        assert sc.statusTracker().getJobIdsForGroup("ceiling") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return str(err.value)


def test_sharded_expansion_equals_grouped_max(spark, monkeypatch):
    """There is no entity-axis sharding: with the broadcast ceiling
    lowered below the entity matrix, the operator raises the reasoners'
    exact message, before any Spark job."""
    from knovexlite_spark.functions import kge
    from knovexlite_spark.reasoner.cqd import CQDBeam

    store = EmbeddingStore.xavier(13, 4, ent_dim=8, rel_dim=4, seed=21)
    rows = [(0, 1, 0, False, 0.0), (0, 2, 1, True, -1.0),
            (1, 3, 2, False, 0.5), (1, 4, 3, False, 0.0)]
    df = spark.createDataFrame(
        rows, schema="query_id long, h long, r long, neg boolean, acc double"
    ).repartition(2)
    # 13 x 8 float32 = 416 B
    monkeypatch.setattr(kge, "ENT_BROADCAST_MAX_BYTES", 160)
    got = _assert_ceiling_raises_without_a_job(
        spark, lambda: score_all_tails_grouped_max(df, RotatE(), store, acc_col="acc", neg_col="neg")
    )
    want = _assert_ceiling_raises_without_a_job(spark, lambda: CQDBeam(RotatE(), store))
    assert got == want


@pytest.mark.parametrize("sharded", [False, True], ids=["whole", "sharded"])
@pytest.mark.parametrize("h,r", [(-1, 0), (6, 0), (0, -1), (0, 3)])
def test_all_tails_out_of_range_ids_raise(spark, monkeypatch, sharded, h, r):
    """An h or r id outside [0, N) raises instead of wrapping around to
    the last row (``ent[-1]``).  With the broadcast ceiling lowered
    below the entity matrix ("sharded") the call itself raises the
    ceiling ValueError."""
    from knovexlite_spark.functions import kge

    store = EmbeddingStore.xavier(6, 3, ent_dim=4, seed=4)
    df = spark.createDataFrame(
        [(0, 1, 1), (0, h, r)], schema="query_id long, h long, r long"
    )
    if sharded:
        monkeypatch.setattr(kge, "ENT_BROADCAST_MAX_BYTES", 40)  # 96 B
        with pytest.raises(ValueError, match="broadcast ceiling"):
            score_all_tails_grouped_max(df, TransE(), store)
        return
    with pytest.raises(Exception, match="ValueError: [hr] ids outside"):
        score_all_tails_grouped_max(df, TransE(), store).collect()


def test_store_dataframe_round_trip_is_exact(spark):
    """to_dataframes -> from_dataframes returns the same matrices bit
    for bit, including a relation width that differs from the entity
    width."""
    store = EmbeddingStore.xavier(37, 5, ent_dim=8, rel_dim=3, seed=11)
    ent_df, rel_df = store.to_dataframes(spark)
    assert ent_df.schema.simpleString() == "struct<id:bigint,vec:array<float>>"
    assert ent_df.count() == 37 and rel_df.count() == 5
    back = EmbeddingStore.from_dataframes(ent_df.repartition(3), rel_df)
    for a, b in ((store.ent, back.ent), (store.rel, back.rel)):
        assert b.dtype == np.float32
        np.testing.assert_array_equal(a, b)


@pytest.mark.parametrize(
    "ids,match",
    [([], "is empty"), ([0, 2], "ids are not 0..1"), ([0, 1, 1], "has duplicate ids")],
    ids=["empty", "missing", "duplicate"],
)
def test_store_from_malformed_dataframes_raises(spark, ids, match):
    """A checkpoint with no rows, a missing id or a repeated id is
    rejected, not read as zero rows or the last write."""
    good = spark.createDataFrame([(0, [1.0]), (1, [2.0])], "id long, vec array<float>")
    bad = spark.createDataFrame([(i, [float(i)]) for i in ids], "id long, vec array<float>")
    with pytest.raises(ValueError, match=f"entity checkpoint {match}"):
        EmbeddingStore.from_dataframes(bad, good)


def test_broadcast_pair_made_once_per_context():
    """Concurrent first calls share one pair; a new context gets a new
    one."""
    import sys
    import threading
    import time

    from knovexlite_spark.functions.kge import BroadcastPair

    made = []

    def make(sc):
        time.sleep(0.01)  # widen the check-then-act window
        made.append(sc)
        return (object(), object())

    pair = BroadcastPair(make)
    ctx_a, ctx_b = object(), object()
    got = []
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=lambda: got.append(pair.get(ctx_a))) for _ in range(16)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert made == [ctx_a] and len(got) == 16
    assert all(p is got[0] for p in got)
    assert pair.get(ctx_b) is not got[0] and made == [ctx_a, ctx_b]
    assert pair.get(ctx_b) is pair.get(ctx_b) and len(made) == 2
