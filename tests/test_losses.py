"""Loss diagnostics (R2/R8/R9) vs NumPy reference computations."""

import numpy as np
import pytest

from knovexlite_spark.reasoner.losses import bce_loss, nce_loss, softmax_loss

RNG = np.random.default_rng(21)
Q, N = 3, 12


def _frames(spark, probs=False):
    raw = RNG.uniform(0.05, 0.95, size=(Q, N)) if probs else RNG.normal(size=(Q, N))
    ans = {q: sorted(RNG.choice(N, size=3, replace=False).tolist()) for q in range(Q)}
    sdf = spark.createDataFrame(
        [(q, t, float(raw[q, t])) for q in range(Q) for t in range(N)],
        "query_id long, t long, score double",
    )
    adf = spark.createDataFrame(
        [(q, t) for q, ts in ans.items() for t in ts], "query_id long, t long"
    )
    return raw, ans, sdf, adf


def test_bce_matches_numpy(spark):
    raw, ans, sdf, adf = _frames(spark, probs=True)
    y = np.zeros((Q, N))
    for q, ts in ans.items():
        y[q, ts] = 1
    eps = 1e-7
    p = np.clip(raw, eps, 1 - eps)
    want = float(np.mean(-(y * np.log(p) + (1 - y) * np.log(1 - p))))
    assert np.isclose(bce_loss(sdf, adf), want, atol=1e-9)


def test_softmax_matches_numpy(spark):
    raw, ans, sdf, adf = _frames(spark)
    shifted = raw - raw.max(axis=1, keepdims=True)
    log_sm = shifted - np.log(np.exp(shifted).sum(axis=1, keepdims=True))
    cells = [-log_sm[q, t] for q, ts in ans.items() for t in ts]
    want = float(np.mean(cells))
    assert np.isclose(softmax_loss(sdf, adf), want, atol=1e-9)


def test_nce_finite_and_bounded(spark):
    raw, ans, sdf, adf = _frames(spark)
    loss = nce_loss(sdf, adf, num_entities=N, negative_sample_size=8)
    # -pos/T + logsumexp >= 0 always (pos is inside the logsumexp)
    assert np.isfinite(loss) and loss >= 0.0


def test_nce_invariant_to_partitioning(spark):
    """The negatives are a function of (query_id, k, seed), so the loss
    is the same however the score frame is partitioned or shuffled."""
    rng = np.random.default_rng(5)
    q, n = 40, 50
    raw = rng.normal(size=(q, n))
    sdf = spark.createDataFrame(
        [(i, t, float(raw[i, t])) for i in range(q) for t in range(n)],
        "query_id long, t long, score double",
    )
    adf = spark.createDataFrame(
        [(i, int(t)) for i in range(q) for t in rng.choice(n, size=3, replace=False)],
        "query_id long, t long",
    )
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    losses = []
    try:
        for parts in (1, 3, 8):
            spark.conf.set(key, str(parts))
            losses.append(nce_loss(sdf, adf, num_entities=n))
    finally:
        spark.conf.set(key, old)
    losses.append(nce_loss(sdf.repartition(5), adf, num_entities=n))
    for loss in losses[1:]:
        assert loss == pytest.approx(losses[0], rel=1e-12, abs=0), losses
