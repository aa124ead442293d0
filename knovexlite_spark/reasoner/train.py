"""Distributed KGE training step: negative-sampling SGD with Spark as
the gradient all-reduce.

The reference exposes training losses but no optimizer loop
(/root/reference/knovex/reasoner/cqd.py:68-80 train_loss,
lmpnn.py:218-288 train_loss_nce/train_loss_softmax are the whole
training surface — no .step()/optimizer exists in the package), so the
analytics engine previously shipped the loss VALUES only
(reasoner/losses.py).  This module completes the story with an actual
parameter update, structured the way data-parallel KGE training has to
look on a cluster:

1. per-triple gradients are computed in an Arrow-batched kernel
   against the BROADCAST parameter matrices (the model is
   catalog-sized; the triple set is the big thing),
2. each partition reduces its own gradients (the treeAggregate
   pattern): every batch is summed per distinct entity / relation id,
   and the partition's blocks are merged into one row per touched id
   plus one loss row.  Nothing is shuffled.  Executor memory is bounded
   by touched ids x dim per partition, never by degree, so a
   high-degree entity at 100 TB costs one row per partition, not one
   per edge,
3. the driver fetches the partials in one ``toArrow()``, scatter-adds
   them in partition order (deterministic on a fixed partitioning) and
   applies the update.

That is the parameter-server pattern: partitions exchange
parameter-sized partials, the driver holds the (small) dense
parameters.  The driver's fetch is one row of dim doubles per
(partition, touched id): at most min(P x n_ent, triples x (2 + K))
rows, not one per parameter.  With uniform negatives a partition of
more than n_ent / K triples touches most entities, so the fetch tends
to P x the entity matrix (in float64).  That bound is not measured
beyond 4 partitions (SCALE.md "train_step at 6x").

Loss: the standard margin logsigmoid objective with uniform negative
tail corruption (t' drawn from the entities other than t),

    L = -log sigmoid(gamma + s(h,r,t))
        - (1/K) * sum_k log sigmoid(-gamma - s(h,r,t'_k))

with s the model score (TransE: -||h+r-t||_p; DistMult: <h*r, t>).
Negative tails are a counter-based hash (splitmix64) of
(seed, h, r, t, k), so results are independent of partitioning —
required for tests and for Spark task retries to be idempotent at
scale.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame

from knovexlite_spark.functions.kge import (
    ComplEx,
    ConvE,
    DistMult,
    EmbeddingStore,
    KGEModel,
    RESCAL,
    RotatE,
    SWTransE,
    TransE,
)


def _sigmoid(x: np.ndarray) -> np.ndarray:
    out = np.empty_like(x)
    pos = x >= 0
    out[pos] = 1.0 / (1.0 + np.exp(-x[pos]))
    e = np.exp(x[~pos])
    out[~pos] = e / (1.0 + e)
    return out


def _log_sigmoid(x: np.ndarray) -> np.ndarray:
    # stable: log sigmoid(x) = min(x, 0) - log1p(exp(-|x|))
    return np.minimum(x, 0.0) - np.log1p(np.exp(-np.abs(x)))


def _score_and_grads(
    model: KGEModel, h: np.ndarray, r: np.ndarray, t: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Score s and (ds/dh, ds/dr, ds/dt) for a batch of embedding rows.

    Closed forms for the models whose gradients are linear-algebra
    one-liners, sort-permutation subgradients, or a fixed-network
    backward pass (TransE / DistMult / ComplEx / RotatE / RESCAL /
    SWTransE / ConvE — the complete model family; ConvE's gradient is
    w.r.t. the EMBEDDINGS with the conv/proj weights as constants,
    matching what the parameter-server step updates).  Partials come back broadcast to
    the full batch shape of their parameter (note RotatE's relation
    width is entity_width/2 — phases — so ds/dr's last dim differs from
    ds/dh's; the partial-sum kernel derives each width from the
    gradient itself)."""
    if isinstance(model, TransE):
        diff = h + r - t  # [B, d]
        if model.p == 2:
            nrm = np.linalg.norm(diff, axis=-1, keepdims=True)
            g = diff / np.maximum(nrm, 1e-12)  # d||diff||/d diff
            s = -nrm[..., 0]
        elif model.p == 1:
            g = np.sign(diff)
            s = -np.abs(diff).sum(axis=-1)
        else:
            raise NotImplementedError(f"TransE grad for p={model.p}")
        # s = -||diff||  =>  ds/dh = -g, ds/dr = -g, ds/dt = +g
        return s, -g, -g, g
    if isinstance(model, DistMult):
        s = np.sum(h * r * t, axis=-1)
        # each partial keeps only the broadcast shape of its two factors
        # (e.g. ds/dt = h*r stays [B,1,d] when t is [B,K,d]); expand all
        # three to the full batch shape so callers can index [:, k]
        shp = np.broadcast_shapes(h.shape, r.shape, t.shape)
        return (
            s,
            np.broadcast_to(r * t, shp),
            np.broadcast_to(h * t, shp),
            np.broadcast_to(h * r, shp),
        )
    if isinstance(model, ComplEx):
        # s = Re(<h, r, conj(t)>) over [re | im] embedding halves
        # (reference layout: complex.py:28-31); all partials are
        # elementwise complex products, so this is the same closed-form
        # family as DistMult with a re/im split
        d = h.shape[-1] // 2
        hr, hi = h[..., :d], h[..., d:]
        rr, ri = r[..., :d], r[..., d:]
        tr, ti = t[..., :d], t[..., d:]
        s = np.sum((hr * rr - hi * ri) * tr + (hr * ri + hi * rr) * ti, axis=-1)
        dh = np.concatenate([rr * tr + ri * ti, -ri * tr + rr * ti], axis=-1)
        dr = np.concatenate([hr * tr + hi * ti, -hi * tr + hr * ti], axis=-1)
        dt = np.concatenate([hr * rr - hi * ri, hr * ri + hi * rr], axis=-1)
        shp = np.broadcast_shapes(h.shape, r.shape, t.shape)
        return (
            s,
            np.broadcast_to(dh, shp),
            np.broadcast_to(dr, shp),
            np.broadcast_to(dt, shp),
        )
    if isinstance(model, RotatE):
        # s = -||rot(h, theta) - t||_2 with entity re/im halves and the
        # relation a width-d phase vector (reference rotate.py:40-115).
        # With u = rot(h) - t and g = u/||u||:
        #   ds/dt      = +g
        #   ds/dh      = -R(-theta) g      (inverse rotation of g)
        #   ds/dtheta  = g_re*rot(h)_im - g_im*rot(h)_re   (per phase)
        d = r.shape[-1]
        hr, hi = h[..., :d], h[..., d:]
        c, sn = np.cos(r), np.sin(r)
        rot_re = hr * c - hi * sn
        rot_im = hr * sn + hi * c
        u = np.concatenate([rot_re, rot_im], axis=-1) - t
        nrm = np.linalg.norm(u, axis=-1, keepdims=True)
        g = u / np.maximum(nrm, 1e-12)
        s = -nrm[..., 0]
        gr, gi = g[..., :d], g[..., d:]
        dh = -np.concatenate([gr * c + gi * sn, -gr * sn + gi * c], axis=-1)
        dr = gr * rot_im - gi * rot_re
        return s, dh, dr, g
    if isinstance(model, RESCAL):
        # s = h^T W_r t with W_r the relation's flattened d x d matrix
        # (reference rescal.py:23-26); the bilinear form's partials:
        #   ds/dh = W t,  ds/dt = h^T W,  ds/dW = h t^T (outer product)
        d = h.shape[-1]
        w = r.reshape(r.shape[:-1] + (d, d))
        wt = np.einsum("...ij,...j->...i", w, t)
        hw = np.einsum("...i,...ij->...j", h, w)
        s = np.sum(hw * t, axis=-1)
        outer = h[..., :, None] * t[..., None, :]
        dr = outer.reshape(outer.shape[:-2] + (d * d,))
        eshp = np.broadcast_shapes(h.shape, t.shape)
        return (
            s,
            np.broadcast_to(wt, eshp),
            np.broadcast_to(dr, eshp[:-1] + (d * d,)),
            np.broadcast_to(hw, eshp),
        )
    if isinstance(model, SWTransE):
        # s = -sum_dims ||sort(est_dim) - sort(t_dim)||_p over particle
        # sets, est = particles(h) + r per dimension (reference
        # swtranse.py:40-68).  Piecewise smooth: away from particle
        # ties the sort permutations are locally constant, so the
        # subgradient is the p-norm gradient mapped back through each
        # side's argsort (scatter = inverse permutation).
        P = model.num_particles
        hp = h.reshape(h.shape[:-1] + (-1, P))
        tp = t.reshape(t.shape[:-1] + (-1, P))
        est = hp + r[..., None]
        ia = np.argsort(est, axis=-1, kind="stable")
        ib = np.argsort(tp, axis=-1, kind="stable")
        a = np.take_along_axis(est, ia, axis=-1)
        b = np.take_along_axis(tp, ib, axis=-1)
        diff = a - b  # broadcasts [B,1,dims,P] vs [B,K,dims,P]
        if model.p == 2:
            nrm = np.linalg.norm(diff, axis=-1, keepdims=True)
            g = diff / np.maximum(nrm, 1e-12)
            s = -nrm[..., 0].sum(axis=-1)
        elif model.p == 1:
            g = np.sign(diff)
            s = -np.abs(diff).sum(axis=-1).sum(axis=-1)
        else:
            raise NotImplementedError(f"SWTransE grad for p={model.p}")
        full = np.broadcast_shapes(est.shape, tp.shape)
        # ds/d est = -(g scattered back through ia); ds/d tp = +scatter(ib)
        d_est = np.zeros(full)
        np.put_along_axis(d_est, np.broadcast_to(ia, full), -np.broadcast_to(g, full), axis=-1)
        d_tp = np.zeros(full)
        np.put_along_axis(d_tp, np.broadcast_to(ib, full), np.broadcast_to(g, full), axis=-1)
        dh = d_est.reshape(full[:-2] + (-1,))
        dt = d_tp.reshape(full[:-2] + (-1,))
        dr = d_est.sum(axis=-1)  # est = hp + r[..., None]: sum particles
        return s, dh, dr, dt
    if isinstance(model, ConvE):
        # ds/d(embeddings) for the FIXED network — the training step
        # updates EMBEDDINGS; conv/proj weights are model constants in
        # this parameter-server design (they'd be driver-side state,
        # not shuffled contributions).  Standard backward through
        # dot -> ReLU -> linear -> ReLU -> 3x3 valid conv -> stack;
        # the bias slot (dim 0) is dropped in the forward, so its
        # gradient is exactly 0.  ReLU masks use the strict >0
        # convention; the forward mirrors ConvE.estimate_tail
        # (functions/kge.py) shape for shape.
        D = h.shape[-1]
        full = np.broadcast_shapes(h.shape, r.shape, t.shape)
        hb = np.broadcast_to(h, full).reshape(-1, D)
        rb = np.broadcast_to(r, full).reshape(-1, D)
        tb = np.broadcast_to(t, full).reshape(-1, D)
        n = hb.shape[0]
        hh, ww = model.h, model.w
        x = np.concatenate(
            [hb[:, 1:].reshape(n, hh, ww), rb[:, 1:].reshape(n, hh, ww)],
            axis=1,
        )
        win = np.lib.stride_tricks.sliding_window_view(x, (3, 3), axis=(1, 2))
        conv = np.einsum("bhwij,cij->bchw", win, model.conv_w) + model.conv_b[
            None, :, None, None
        ]
        conv_mask = conv > 0
        flat = np.where(conv_mask, conv, 0.0).reshape(n, -1)
        proj = flat @ model.proj_w.T + model.proj_b
        proj_mask = proj > 0
        est = np.concatenate(
            [np.ones((n, 1)), np.where(proj_mask, proj, 0.0)], axis=1
        )
        s = np.sum(est * tb, axis=-1)
        g_proj = tb[:, 1:] * proj_mask
        g_conv = (g_proj @ model.proj_w).reshape(conv.shape) * conv_mask
        # transposed conv back to the stacked input: full correlation of
        # the zero-padded output gradient with the flipped kernel
        gp = np.pad(g_conv, ((0, 0), (0, 0), (2, 2), (2, 2)))
        gwin = np.lib.stride_tricks.sliding_window_view(gp, (3, 3), axis=(2, 3))
        g_x = np.einsum("bchwij,cij->bhw", gwin, model.conv_w[:, ::-1, ::-1])
        zero = np.zeros((n, 1))
        dh = np.concatenate([zero, g_x[:, :hh, :].reshape(n, -1)], axis=1)
        dr = np.concatenate([zero, g_x[:, hh:, :].reshape(n, -1)], axis=1)
        return (
            s.reshape(full[:-1]),
            dh.reshape(full),
            dr.reshape(full),
            est.reshape(full),  # ds/dt = est
        )
    raise NotImplementedError(
        f"analytic gradient not implemented for model {model.name!r}"
    )


@dataclass
class StepResult:
    store: EmbeddingStore
    loss: float
    n_triples: int


# ``kind`` of a partial row: an entity or relation gradient row, or the
# partition's loss row ``g = [loss_sum, triple_count]`` (id 0)
_ENT, _REL, _LOSS = 0, 1, 2
_PARTIAL_SCHEMA = "kind byte, id long, g array<double>"

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """splitmix64's output mix of a uint64 array (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        z = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _negatives(
    hids: np.ndarray, rids: np.ndarray, tids: np.ndarray, n_ent: int, k: int, seed: int
) -> np.ndarray:
    """``[B, k]`` corrupted tail ids, uniform over the entities other than
    the triple's own tail (a "negative" equal to ``t`` would push the
    positive's score down): negative j is the j-th splitmix64 output
    seeded by the triple's key, modulo ``n_ent - 1``, with ids at or
    above ``t`` moved up by one.  A pure function of (seed, h, r, t, j),
    so partitioning and task retries cannot change the sample."""
    row_key = (
        hids * np.int64(1000003)
        ^ rids * np.int64(998244353)
        ^ tids * np.int64(786433)
    ) + np.int64(seed) * np.int64(2654435761)
    with np.errstate(over="ignore"):
        steps = np.arange(1, k + 1, dtype=np.uint64) * _GOLDEN
        state = row_key.view(np.uint64)[:, None] + steps[None, :]
    neg = (_splitmix64(state) % np.uint64(max(n_ent - 1, 1))).astype(np.int64)
    # a one-entity KG has nothing to corrupt to: its negative is t itself
    return neg + ((neg >= tids[:, None]) & (n_ent > 1))


def _sum_rows(ids: np.ndarray, rows: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Sum the rows that share an id: ``(distinct ids, [U, w] sums)``.
    Rows are added in input order, so the result is deterministic."""
    uniq, inv = np.unique(ids, return_inverse=True)
    out = np.zeros((len(uniq), rows.shape[-1]), dtype=np.float64)
    np.add.at(out, inv, rows)
    return uniq, out


class _PartialSums:
    """Per-id gradient sums of one partition.  Each batch arrives
    already reduced; blocks are merged whenever the pending ones
    outgrow the merged one, so memory stays within a small multiple of
    touched ids x width whatever the partition's size or degrees."""

    def __init__(self) -> None:
        self.blocks: list[tuple[np.ndarray, np.ndarray]] = []

    def add(self, ids: np.ndarray, rows: np.ndarray) -> None:
        self.blocks.append(_sum_rows(ids, rows))
        if sum(len(i) for i, _ in self.blocks[1:]) >= len(self.blocks[0][0]):
            self.blocks = [self.merged()]

    def merged(self) -> tuple[np.ndarray, np.ndarray]:
        if len(self.blocks) == 1:
            return self.blocks[0]
        return _sum_rows(
            np.concatenate([i for i, _ in self.blocks]),
            np.concatenate([g for _, g in self.blocks]),
        )


def grad_contributions(
    triples: DataFrame,
    model: KGEModel,
    store: EmbeddingStore,
    gamma: float = 2.0,
    num_negatives: int = 8,
    seed: int = 0,
    _bcast: tuple | None = None,
) -> DataFrame:
    """Per-partition gradient partials ``(kind, id, g)``: one row per
    entity (kind ``_ENT``) and relation (``_REL``) the partition
    touched, ``g`` its summed gradient, plus one ``_LOSS`` row with
    ``g = [loss_sum, triple_count]``.  Nothing is shuffled; the caller
    sums the partials.  All arithmetic runs in float64.

    ``_bcast`` lets ``train_step`` own the broadcast lifetime (create,
    run the job, destroy) so multi-epoch training does not leak one
    model-sized broadcast pair per epoch on the executors.
    """
    spark = triples.sparkSession
    if _bcast is not None:
        b_ent, b_rel = _bcast
    else:
        b_ent = spark.sparkContext.broadcast(store.ent)
        b_rel = spark.sparkContext.broadcast(store.rel)
    n_ent = store.ent.shape[0]

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ent = b_ent.value
        rel = b_rel.value
        ent_sums, rel_sums = _PartialSums(), _PartialSums()
        loss_sum, count = 0.0, 0
        for pdf in it:
            if len(pdf) == 0:
                continue
            hids = pdf["h"].to_numpy(np.int64)
            rids = pdf["r"].to_numpy(np.int64)
            tids = pdf["t"].to_numpy(np.int64)
            negs = _negatives(hids, rids, tids, n_ent, num_negatives, seed)

            h = ent[hids].astype(np.float64)
            r = rel[rids].astype(np.float64)
            t = ent[tids].astype(np.float64)

            s_pos, dh_p, dr_p, dt_p = _score_and_grads(model, h, r, t)
            # dL/ds_pos for -logsigmoid(gamma + s): sigmoid(gamma+s) - 1
            c_pos = (_sigmoid(gamma + s_pos) - 1.0)[:, None]

            # negatives: broadcast h,r against [B, K, d] corrupted tails
            tn = ent[negs].astype(np.float64)  # [B, K, d]
            s_neg, dh_n, dr_n, dt_n = _score_and_grads(
                model, h[:, None, :], r[:, None, :], tn
            )
            # dL/ds_neg for -(1/K) logsigmoid(-gamma - s): sigmoid(gamma+s)/K
            c_neg = (_sigmoid(gamma + s_neg) / num_negatives)[..., None]

            loss = -_log_sigmoid(gamma + s_pos) - np.mean(
                _log_sigmoid(-gamma - s_neg), axis=-1
            )

            # heads, tails and corrupted tails (each only its own
            # negative term) in one entity block; each width comes from
            # the gradient itself (RotatE/RESCAL relation width differs)
            g_neg = c_neg * dt_n
            ent_sums.add(
                np.concatenate([hids, tids, negs.ravel()]),
                np.concatenate(
                    [
                        c_pos * dh_p + (c_neg * dh_n).sum(axis=1),
                        c_pos * dt_p,
                        g_neg.reshape(-1, g_neg.shape[-1]),
                    ]
                ),
            )
            rel_sums.add(rids, c_pos * dr_p + (c_neg * dr_n).sum(axis=1))
            loss_sum += float(loss.sum())
            count += len(hids)
        if count == 0:
            return
        e_ids, e_g = ent_sums.merged()
        r_ids, r_g = rel_sums.merged()
        yield pd.DataFrame(
            {
                "kind": np.repeat(
                    np.array([_ENT, _REL, _LOSS], dtype=np.int8),
                    [len(e_ids), len(r_ids), 1],
                ),
                "id": np.concatenate([e_ids, r_ids, [0]]),
                "g": [*e_g, *r_g, np.array([loss_sum, float(count)])],
            }
        )

    return triples.select("h", "r", "t").mapInPandas(kernel, schema=_PARTIAL_SCHEMA)


def sum_partials(
    parts: pa.Table, store: EmbeddingStore
) -> tuple[np.ndarray, np.ndarray, float, float]:
    """Scatter-add ``grad_contributions`` partials (as fetched by
    ``toArrow()``), in row order, into dense ``(g_ent, g_rel, loss_sum,
    triple_count)``.  Each kind's ``g`` lists are flattened into one
    ``[rows, width]`` array; no Python object is built per row.  On a
    fixed partitioning the order is fixed, so the sums repeat bit for
    bit."""
    kind = parts.column("kind").to_numpy()
    ids = parts.column("id").to_numpy()
    g = parts.column("g").combine_chunks()

    def scatter(k: int, shape: tuple[int, int]) -> np.ndarray:
        acc = np.zeros(shape, dtype=np.float64)
        rows = np.flatnonzero(kind == k)
        if len(rows):
            vals = g.take(rows).flatten().to_numpy(zero_copy_only=False)
            np.add.at(acc, ids[rows], vals.reshape(len(rows), shape[1]))
        return acc

    loss_sum, n = scatter(_LOSS, (1, 2))[0]
    return scatter(_ENT, store.ent.shape), scatter(_REL, store.rel.shape), float(loss_sum), float(n)


def train_step(
    triples: DataFrame,
    model: KGEModel,
    store: EmbeddingStore,
    lr: float = 0.05,
    gamma: float = 2.0,
    num_negatives: int = 8,
    seed: int = 0,
) -> StepResult:
    """One full-batch SGD step over the triple set; returns the updated
    store and the mean loss BEFORE the step (the quantity the step
    descends on)."""
    sc = triples.sparkSession.sparkContext
    b_ent = sc.broadcast(store.ent)
    b_rel = sc.broadcast(store.rel)
    try:
        # one job, no exchange: each partition's partials come back
        # through Arrow (at most touched ids + relations + 1 rows each)
        parts = grad_contributions(
            triples,
            model,
            store,
            gamma=gamma,
            num_negatives=num_negatives,
            seed=seed,
            _bcast=(b_ent, b_rel),
        ).toArrow()
    finally:
        # the job is done once toArrow() returns; a multi-epoch train()
        # would otherwise leak one model-sized broadcast pair per epoch
        b_ent.destroy()
        b_rel.destroy()
    g_ent, g_rel, loss_sum, n = sum_partials(parts, store)
    n = max(n, 1.0)
    new = EmbeddingStore(
        (store.ent - lr * (g_ent / n)).astype(np.float32),
        (store.rel - lr * (g_rel / n)).astype(np.float32),
    )
    return StepResult(store=new, loss=loss_sum / n, n_triples=int(n))


def train(
    triples: DataFrame,
    model: KGEModel,
    store: EmbeddingStore,
    epochs: int = 5,
    lr: float = 0.05,
    gamma: float = 2.0,
    num_negatives: int = 8,
    seed: int = 0,
) -> tuple[EmbeddingStore, list[float]]:
    """Full-batch gradient descent for a few epochs; returns the final
    store and the per-epoch loss trace (loss BEFORE each step).  Varying
    the negative-sample seed per epoch matches standard practice."""
    losses: list[float] = []
    for e in range(epochs):
        res = train_step(
            triples,
            model,
            store,
            lr=lr,
            gamma=gamma,
            num_negatives=num_negatives,
            seed=seed + e,
        )
        store = res.store
        losses.append(res.loss)
    return store, losses
