"""Distributed KGE training step (reasoner/train.py).

The reference's training surface is its loss functions (cqd.py:68-80,
lmpnn.py:218-288 — no optimizer exists in the package); train.py adds
the actual SGD step.  Verified three ways: the analytic distributed
gradient matches a finite-difference NumPy replica, full-batch descent
monotonically decreases the loss it reports, and a trained model ranks
true tails above random init.  A partitioning-invariance test pins the
determinism claim (negative samples are a function of the triple, not
of the split)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from knovexlite_spark.functions.kge import (
    ComplEx,
    ConvE,
    DistMult,
    EmbeddingStore,
    RESCAL,
    RotatE,
    SWTransE,
    TransE,
)
from knovexlite_spark.reasoner.train import (
    _log_sigmoid,
    _negatives,
    _score_and_grads,
    grad_contributions,
    sum_partials,
    train,
    train_step,
)

N_ENT, N_REL, DIM = 12, 3, 4


def _toy_store(seed=7, model=None):
    if isinstance(model, RotatE):
        rel_dim = DIM // 2  # width-d/2 phase vectors over re/im halves
    elif isinstance(model, RESCAL):
        rel_dim = DIM * DIM  # flattened d x d matrices
    elif isinstance(model, SWTransE):
        rel_dim = DIM // model.num_particles  # one shift per dimension
    elif isinstance(model, ConvE):
        # ConvE needs dim-1 = 2*H^2 (dim 9 -> H=2, W=4); rel same width
        return EmbeddingStore.xavier(N_ENT, N_REL, 9, seed=seed)
    else:
        rel_dim = None
    return EmbeddingStore.xavier(N_ENT, N_REL, DIM, rel_dim=rel_dim, seed=seed)


def _chain_triples(spark):
    # a small deterministic KG: r0 chains, r1 self-ish pairs, r2 star
    rows = (
        [(i, 0, (i + 1) % N_ENT) for i in range(N_ENT)]
        + [(i, 1, (i * 5) % N_ENT) for i in range(0, N_ENT, 2)]
        + [(0, 2, i) for i in range(3, 9)]
    )
    return spark.createDataFrame(rows, "h LONG, r LONG, t LONG")


_M64 = (1 << 64) - 1


def _numpy_negatives(h, r, t, n_ent, k, seed):
    # replica of the kernel's counter-based sampling in Python ints:
    # negative j is splitmix64's j-th output seeded by the triple key,
    # drawn from the n_ent - 1 entities other than the true tail t
    key = (
        (h * 1000003) ^ (r * 998244353) ^ (t * 786433)
    ) + seed * 2654435761
    out = []
    for j in range(1, k + 1):
        z = (key + j * 0x9E3779B97F4A7C15) & _M64
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _M64
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _M64
        neg = (z ^ (z >> 31)) % (n_ent - 1)
        out.append(neg + (neg >= t))
    return np.array(out, dtype=np.int64)


def _numpy_loss(model, store, triples, gamma, k, seed):
    """Pure-NumPy replica of the distributed objective."""
    total = 0.0
    for h, r, t in triples:
        negs = _numpy_negatives(h, r, t, store.ent.shape[0], k, seed)
        s_pos, *_ = _score_and_grads(
            model, store.ent[[h]], store.rel[[r]], store.ent[[t]]
        )
        s_neg, *_ = _score_and_grads(
            model, store.ent[[h] * k], store.rel[[r] * k], store.ent[negs]
        )
        total += float(
            -_log_sigmoid(gamma + s_pos)[0]
            - np.mean(_log_sigmoid(-gamma - s_neg))
        )
    return total / len(triples)


@pytest.mark.parametrize(
    "model",
    [TransE(p=2), TransE(p=1), DistMult(), ComplEx(), RotatE(), RESCAL(),
     SWTransE(num_particles=2, p=2), SWTransE(num_particles=2, p=1),
     ConvE(embedding_dim=9)],
)
def test_gradient_matches_finite_differences(spark, model):
    store = _toy_store(model=model)
    tri_df = _chain_triples(spark).repartition(4)
    triples = [(r["h"], r["r"], r["t"]) for r in tri_df.collect()]
    gamma, k, seed = 2.0, 4, 3

    parts = grad_contributions(
        tri_df, model, store, gamma=gamma, num_negatives=k, seed=seed
    ).toArrow()
    g_ent, g_rel, _, n = sum_partials(parts, store)
    assert n == len(triples)
    # every row width follows its parameter (RotatE/RESCAL relations)
    assert g_rel.shape == store.rel.shape
    g_ent /= len(triples)
    g_rel /= len(triples)

    eps = 1e-3
    rng = np.random.default_rng(0)
    # spot-check a sample of coordinates in both matrices
    for mat, grad in ((store.ent, g_ent), (store.rel, g_rel)):
        idx = [
            (rng.integers(mat.shape[0]), rng.integers(mat.shape[1]))
            for _ in range(6)
        ]
        for i, j in idx:
            orig = mat[i, j]
            mat[i, j] = orig + eps
            up = _numpy_loss(model, store, triples, gamma, k, seed)
            mat[i, j] = orig - eps
            dn = _numpy_loss(model, store, triples, gamma, k, seed)
            mat[i, j] = orig
            fd = (up - dn) / (2 * eps)
            assert grad[i, j] == pytest.approx(fd, abs=5e-3), (i, j)


def test_reported_loss_matches_numpy_replica(spark):
    store = _toy_store()
    model = TransE(p=2)
    tri_df = _chain_triples(spark)
    triples = [(r["h"], r["r"], r["t"]) for r in tri_df.collect()]
    res = train_step(tri_df, model, store, lr=0.0, gamma=2.0, num_negatives=4, seed=5)
    want = _numpy_loss(model, store, triples, 2.0, 4, 5)
    assert res.loss == pytest.approx(want, rel=1e-5)
    assert res.n_triples == len(triples)
    # lr=0 must leave parameters untouched
    np.testing.assert_array_equal(res.store.ent, store.ent)


def test_full_batch_descent_decreases_loss(spark):
    store = _toy_store()
    model = TransE(p=2)
    tri_df = _chain_triples(spark)
    # fixed seed across epochs => descending the SAME objective; the
    # trace must be monotonically decreasing for a sane lr
    losses = []
    s = store
    for _ in range(4):
        res = train_step(tri_df, model, s, lr=0.1, gamma=2.0, num_negatives=4, seed=11)
        losses.append(res.loss)
        s = res.store
    assert all(b < a for a, b in zip(losses, losses[1:])), losses


def test_training_improves_true_tail_ranking(spark):
    model = DistMult()
    store = _toy_store(seed=1)
    tri_df = _chain_triples(spark)
    triples = [(r["h"], r["r"], r["t"]) for r in tri_df.collect()]

    def mean_rank(st):
        ranks = []
        for h, r, t in triples:
            scores = model.score_all(
                st.ent[[h]], st.rel[[r]], st.ent
            )[0]
            ranks.append(int(np.sum(scores > scores[t])))
        return float(np.mean(ranks))

    before = mean_rank(store)
    # one fixed negative sample (epoch 0's) for both stores
    initial_loss = _numpy_loss(model, store, triples, 1.0, 6, 2)
    trained, losses = train(
        tri_df, model, store, epochs=15, lr=0.2, gamma=1.0, num_negatives=6, seed=2
    )
    assert mean_rank(trained) < before
    assert losses[-1] < losses[0]
    assert _numpy_loss(model, trained, triples, 1.0, 6, 2) < initial_loss


def test_complex_training_improves_true_tail_ranking(spark):
    # ComplEx width is 2*dim ([re | im] halves); the same closed-form
    # gradient family as DistMult with a complex split
    model = ComplEx()
    store = _toy_store(seed=3)
    tri_df = _chain_triples(spark)
    triples = [(r["h"], r["r"], r["t"]) for r in tri_df.collect()]

    def mean_rank(st):
        ranks = []
        for h, r, t in triples:
            scores = model.score_all(st.ent[[h]], st.rel[[r]], st.ent)[0]
            ranks.append(int(np.sum(scores > scores[t])))
        return float(np.mean(ranks))

    before = mean_rank(store)
    # one fixed negative sample (epoch 0's) for both stores
    initial_loss = _numpy_loss(model, store, triples, 1.0, 6, 4)
    trained, losses = train(
        tri_df, model, store, epochs=15, lr=0.2, gamma=1.0, num_negatives=6, seed=4
    )
    assert mean_rank(trained) < before
    assert losses[-1] < losses[0]
    assert _numpy_loss(model, trained, triples, 1.0, 6, 4) < initial_loss


def test_training_converges_on_bridge_kg(spark):
    """End-to-end parameter-server story on the actual bridge KG: load
    the TPC-H-derived triple table, densify entity ids (the same path
    the reasoning gates use), and run full-batch SGD — the loss trace
    must be monotonically decreasing under a fixed negative-sample
    seed."""
    from knovexlite_spark.functions.oracle import densify_entities
    from knovexlite_spark.kg.triples import pair_encode_inverse
    from knovexlite_spark.engine import Engine
    from tests.conftest import SF_SMALL

    engine = Engine.for_dir(spark, SF_SMALL)
    mapping, dense = densify_entities(pair_encode_inverse(engine.triples))
    n_ent = mapping.count()
    n_rel = dense.agg(F.max("r")).collect()[0][0] + 1
    store = EmbeddingStore.xavier(int(n_ent), int(n_rel), 8, seed=5)
    model = TransE(p=2)

    s = store
    losses = []
    for _ in range(3):
        res = train_step(dense, model, s, lr=0.05, gamma=2.0, num_negatives=4, seed=13)
        losses.append(res.loss)
        s = res.store
    assert res.n_triples == dense.count()
    assert all(b < a for a, b in zip(losses, losses[1:])), losses


def test_gradients_invariant_to_partitioning(spark):
    store = _toy_store()
    model = TransE(p=2)
    base = _chain_triples(spark)

    def agg_of(df):
        parts = grad_contributions(df, model, store, seed=9).toArrow()
        g_ent, g_rel, loss_sum, n = sum_partials(parts, store)
        keys = set(zip(parts["kind"].to_pylist(), parts["id"].to_pylist()))
        return keys, g_ent, g_rel, (loss_sum, n)

    # the SAMPLE is partition-invariant (negatives are a function of the
    # triple, not the split), so every touched id exists in both runs;
    # the float sums are only reassociated, so values agree to ~1e-12
    # relative (never bit-exactly — float addition is not associative)
    a = agg_of(base.repartition(1))
    b = agg_of(base.repartition(8))
    assert a[0] == b[0]
    for x, y in zip(a[1:], b[1:]):
        np.testing.assert_allclose(x, y, rtol=1e-9, atol=1e-12)


def test_negatives_never_the_true_tail():
    """Corrupted tails are uniform over the other entities: the sampler
    never returns t, covers every other id, and matches the replica."""
    rng = np.random.default_rng(0)
    h, r, t = (rng.integers(0, N_ENT, 200) for _ in range(3))
    negs = _negatives(h, r, t, N_ENT, 6, seed=5)
    assert (negs != t[:, None]).all()
    assert set(np.unique(negs)) == set(range(N_ENT))
    for i in range(0, 200, 37):
        np.testing.assert_array_equal(
            negs[i], _numpy_negatives(int(h[i]), int(r[i]), int(t[i]), N_ENT, 6, 5)
        )


def test_partial_rows_bounded_by_touched_ids(spark):
    """Each partition emits one row per touched entity and relation plus
    one loss row — never one row per gradient scalar."""
    store = _toy_store()
    k, seed = 4, 3
    tri_df = _chain_triples(spark).repartition(3)
    triples = [(r["h"], r["r"], r["t"]) for r in tri_df.collect()]
    touched = {h for h, _, _ in triples} | {t for _, _, t in triples}
    for h, r, t in triples:
        touched |= set(_numpy_negatives(h, r, t, N_ENT, k, seed).tolist())
    n_rel = len({r for _, r, _ in triples})
    n_parts = tri_df.rdd.getNumPartitions()
    parts = (
        grad_contributions(tri_df, TransE(p=2), store, num_negatives=k, seed=seed)
        .withColumn("pid", F.spark_partition_id())
        .toPandas()
    )
    assert len(parts) <= n_parts * (len(touched) + n_rel + 1)
    # an id appears at most once per (partition, kind); one loss row each
    assert not parts.duplicated(["pid", "kind", "id"]).any()
    assert (parts["kind"] == 2).sum() == n_parts


def test_grad_contributions_plan_has_no_exchange(spark):
    df = grad_contributions(_chain_triples(spark), TransE(p=2), _toy_store())
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_train_step_invariant_to_partitioning(spark):
    store = _toy_store()
    model = TransE(p=2)
    base = _chain_triples(spark)
    a = train_step(base.repartition(1), model, store, lr=0.1, num_negatives=4, seed=2)
    b = train_step(base.repartition(8), model, store, lr=0.1, num_negatives=4, seed=2)
    assert a.n_triples == b.n_triples
    assert a.loss == pytest.approx(b.loss, rel=1e-9)
    np.testing.assert_allclose(a.store.ent, b.store.ent, rtol=1e-9, atol=0)
    np.testing.assert_allclose(a.store.rel, b.store.rel, rtol=1e-9, atol=0)


def test_conve_training_improves_true_tail_ranking(spark):
    """The fixed-network ConvE gradient trains: descending the
    embedding space (conv/proj weights constant) still separates true
    tails from random init — the proof the backward pass is not just
    finite-difference-consistent but useful."""
    model = ConvE(embedding_dim=9)
    store = _toy_store(seed=5, model=model)
    tri_df = _chain_triples(spark)
    triples = [(r["h"], r["r"], r["t"]) for r in tri_df.collect()]

    def mean_rank(st):
        ranks = []
        for h, r, t in triples:
            scores = model.score_all(st.ent[[h]], st.rel[[r]], st.ent)[0]
            ranks.append(int(np.sum(scores > scores[t])))
        return float(np.mean(ranks))

    before = mean_rank(store)
    # one fixed negative sample (epoch 0's) for both stores
    initial_loss = _numpy_loss(model, store, triples, 1.0, 6, 6)
    trained, losses = train(
        tri_df, model, store, epochs=15, lr=0.1, gamma=1.0, num_negatives=6, seed=6
    )
    assert mean_rank(trained) < before
    assert losses[-1] < losses[0]
    assert _numpy_loss(model, trained, triples, 1.0, 6, 6) < initial_loss
