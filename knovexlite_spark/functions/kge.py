"""KG-embedding scoring models as vectorized NumPy kernels (SURVEY §2.6).

Reference parity (intended semantics — the reference's sign/attribute
defects listed in SURVEY §2.9 are NOT reproduced):

- TransE   — t̂ = h + r, score -‖h+r-t‖_p
  (/root/reference/knovex/structure/kg_embedding/transe.py:36-46)
- DistMult — t̂ = h∘r, score <t̂, t>  (distmult.py:36-47; sign fixed)
- ComplEx  — complex multiply, dot score (complex.py:43-128)
- RotatE   — rotation by (cos r, sin r), score -‖t̂-t‖
  (rotate.py:40-115; distance negated consistently)
- RESCAL   — t̂ = h^T W_r, bilinear dot score (rescal.py:32-44;
  the reference's TransE-formula bug is not kept)
- SWTransE — sliced-Wasserstein over sorted particle sets
  (swtranse.py:40-68)
- ConvE    — conv scorer (reshape/stack -> 3x3 conv -> ReLU -> linear
  projection) in pure NumPy, inference-only (conve.py:8-161)

Spark surface: embeddings live in DataFrames ``(id, vec ARRAY<FLOAT>)``
for storage, but scoring gathers from a *broadcast NumPy matrix* inside
the Python kernel — the candidates × num_entities block never
materializes as rows (SURVEY §4.2).  ``tails_grouped_max`` is the one
all-entity scoring loop: CQD's beam levels call it on the driver or in
their kernel, and the operator ``score_all_tails_grouped_max`` calls it
per Arrow batch.  Each reads the whole entity matrix, so a store above
``ENT_BROADCAST_MAX_BYTES`` is rejected before any job runs.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass
from typing import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession


# --------------------------------------------------------------------------
# model kernels (pure NumPy; shapes: emb [..., d], scores [...])
# --------------------------------------------------------------------------


class KGEModel:
    """Tail estimation + pair scoring, the reference's abstract interface
    (abstract_kge.py:11-98) without the device plumbing."""

    name: str = "abstract"

    def estimate_tail(self, head: np.ndarray, rel: np.ndarray) -> np.ndarray:
        raise NotImplementedError

    def pair_score(self, est: np.ndarray, tail: np.ndarray) -> np.ndarray:
        raise NotImplementedError

    def score(self, head: np.ndarray, rel: np.ndarray, tail: np.ndarray) -> np.ndarray:
        return self.pair_score(self.estimate_tail(head, rel), tail)

    def score_all(self, head: np.ndarray, rel: np.ndarray, entities: np.ndarray) -> np.ndarray:
        """[B, d] heads/rels vs all entities [N, d] -> [B, N] scores."""
        est = self.estimate_tail(head, rel)  # [B, d]
        return self.pair_score(est[:, None, :], entities[None, :, :])


@dataclass
class TransE(KGEModel):
    p: int = 2
    name = "transe"

    def estimate_tail(self, head, rel):
        return head + rel

    def pair_score(self, est, tail):
        return -np.linalg.norm(est - tail, ord=self.p, axis=-1)


class DistMult(KGEModel):
    name = "distmult"

    def estimate_tail(self, head, rel):
        return head * rel

    def pair_score(self, est, tail):
        return np.sum(est * tail, axis=-1)


class ComplEx(KGEModel):
    """Embeddings are [re | im] halves of width 2*dim (complex.py:28-31)."""

    name = "complex"

    def estimate_tail(self, head, rel):
        d = head.shape[-1] // 2
        hr, hi = head[..., :d], head[..., d:]
        rr, ri = rel[..., :d], rel[..., d:]
        return np.concatenate([hr * rr - hi * ri, hr * ri + hi * rr], axis=-1)

    def pair_score(self, est, tail):
        return np.sum(est * tail, axis=-1)


class RotatE(KGEModel):
    """Entity embeddings width 2*dim, relation width dim (phases)."""

    name = "rotate"

    def estimate_tail(self, head, rel):
        d = rel.shape[-1]
        hr, hi = head[..., :d], head[..., d:]
        rr, ri = np.cos(rel), np.sin(rel)
        return np.concatenate([hr * rr - hi * ri, hr * ri + hi * rr], axis=-1)

    def estimate_head(self, tail, rel):
        d = rel.shape[-1]
        tr, ti = tail[..., :d], tail[..., d:]
        rr, ri = np.cos(rel), np.sin(rel)
        return np.concatenate([tr * rr + ti * ri, ti * rr - tr * ri], axis=-1)

    def pair_score(self, est, tail):
        return -np.linalg.norm(est - tail, axis=-1)


class RESCAL(KGEModel):
    """Relation embeddings are flattened d*d matrices (rescal.py:23-26)."""

    name = "rescal"

    def estimate_tail(self, head, rel):
        d = head.shape[-1]
        w = rel.reshape(rel.shape[:-1] + (d, d))
        return np.einsum("...i,...ij->...j", head, w)

    def pair_score(self, est, tail):
        return np.sum(est * tail, axis=-1)


@dataclass
class SWTransE(KGEModel):
    """Entity embeddings are dim*num_particles particle sets; score is a
    sliced-Wasserstein distance over per-dimension sorted particles
    (swtranse.py:40-68)."""

    num_particles: int = 4
    p: int = 2
    name = "swtranse"

    def _particles(self, emb):
        return emb.reshape(emb.shape[:-1] + (-1, self.num_particles))

    def estimate_tail(self, head, rel):
        return (self._particles(head) + rel[..., None]).reshape(head.shape)

    def pair_score(self, est, tail):
        a = np.sort(self._particles(est), axis=-1)
        b = np.sort(self._particles(tail), axis=-1)
        dist = np.sum(
            np.linalg.norm(a - b, ord=self.p, axis=-1), axis=-1
        )
        return -dist


class ConvE(KGEModel):
    """E6: ConvE scorer, inference-only, pure NumPy (conve.py:8-161).

    Architecture (faithful to the reference's ConvEScorer.forward,
    conve.py:74-97): drop dim 0 (bias slot), reshape head and relation
    embeddings to [H, W] with W = 2H, stack vertically, 1->32 channel
    3x3 conv (+bias), BatchNorm (affine=False; identity with untrained
    running stats), ReLU, flatten, linear projection back to d-1,
    BatchNorm1d (identity), ReLU, prepend a constant 1 (bias feature).
    Score = dot with the tail embedding.  Dropout layers are inference
    no-ops.  Weights are xavier-initialized from a seed — deterministic,
    trainable weights can be loaded via the constructor (S7 path).

    embedding_dim must satisfy d - 1 = 2*H^2 for integer H
    (aspect_ratio=2), e.g. d = 33 (H=4, W=8) or d = 129 (H=8, W=16).
    """

    name = "conve"

    def __init__(
        self,
        embedding_dim: int = 33,
        seed: int = 42,
        conv_w: np.ndarray | None = None,
        conv_b: np.ndarray | None = None,
        proj_w: np.ndarray | None = None,
        proj_b: np.ndarray | None = None,
    ):
        d = embedding_dim - 1
        h = int(np.sqrt(d / 2))
        if 2 * h * h != d:
            raise ValueError(
                f"embedding_dim-1={d} incompatible with aspect ratio 2 "
                "(need d-1 = 2*H^2)"
            )
        self.emb_dim = d
        self.h, self.w = h, 2 * h
        oh, ow = 2 * self.h - 2, self.w - 2  # 3x3 conv, stride 1, no pad
        rng = np.random.default_rng(seed)

        def xav(*shape):
            fan = sum(shape[:2]) if len(shape) > 1 else shape[0]
            bound = np.sqrt(6.0 / max(fan, 1))
            return rng.uniform(-bound, bound, size=shape).astype(np.float32)

        self.conv_w = conv_w if conv_w is not None else xav(32, 3, 3)
        self.conv_b = conv_b if conv_b is not None else np.zeros(32, np.float32)
        self.proj_w = proj_w if proj_w is not None else xav(d, 32 * oh * ow)
        self.proj_b = proj_b if proj_b is not None else np.zeros(d, np.float32)

    def estimate_tail(self, head, rel):
        head = np.atleast_2d(head)
        rel = np.atleast_2d(rel)
        b = head.shape[0]
        s2d = head[:, 1:].reshape(b, self.h, self.w)
        p2d = rel[:, 1:].reshape(b, self.h, self.w)
        x = np.concatenate([s2d, p2d], axis=1)  # [b, 2H, W]
        win = np.lib.stride_tricks.sliding_window_view(x, (3, 3), axis=(1, 2))
        # win: [b, 2H-2, W-2, 3, 3] -> conv with [32, 3, 3]
        out = np.einsum("bhwij,cij->bchw", win, self.conv_w) + self.conv_b[
            None, :, None, None
        ]
        np.maximum(out, 0.0, out=out)  # BN(untrained)=identity, then ReLU
        flat = out.reshape(b, -1)
        proj = flat @ self.proj_w.T + self.proj_b
        np.maximum(proj, 0.0, out=proj)
        return np.concatenate([np.ones((b, 1), dtype=proj.dtype), proj], axis=1)

    def pair_score(self, est, tail):
        return np.sum(est * tail, axis=-1)

    def score(self, head, rel, tail):
        est = self.estimate_tail(head, rel)
        t = np.atleast_2d(tail)
        s = self.pair_score(est, t)
        return s[0] if np.asarray(head).ndim == 1 else s

    def score_all(self, head, rel, entities):
        est = self.estimate_tail(head, rel)  # [B, d]
        return est @ entities.T


# --------------------------------------------------------------------------
# embedding store (broadcast matrices + DataFrame form)
# --------------------------------------------------------------------------


@dataclass
class EmbeddingStore:
    """Entity/relation matrices. ``ent[i]`` is entity i's embedding —
    ids must be dense 0..N-1 (the reference's nn.Embedding contract)."""

    ent: np.ndarray  # [num_entities, ent_dim] float32
    rel: np.ndarray  # [num_relations, rel_dim] float32

    @classmethod
    def xavier(
        cls,
        num_entities: int,
        num_relations: int,
        ent_dim: int,
        rel_dim: int | None = None,
        seed: int = 42,
    ) -> "EmbeddingStore":
        """Xavier-uniform init like the reference's nn.init calls."""
        rng = np.random.default_rng(seed)
        rel_dim = ent_dim if rel_dim is None else rel_dim

        def xav(n, d):
            bound = np.sqrt(6.0 / (n + d))
            return rng.uniform(-bound, bound, size=(n, d)).astype(np.float32)

        return cls(xav(num_entities, ent_dim), xav(num_relations, rel_dim))

    @classmethod
    def from_dataframes(cls, ent_df: DataFrame, rel_df: DataFrame) -> "EmbeddingStore":
        """Collect ``(id, vec)`` frames into dense matrices (S7 checkpoint
        load path). Embedding tables are model parameters — orders of
        magnitude smaller than data — so a driver collect + broadcast is
        the correct distribution strategy.  The frames cross as one
        Arrow table each; no Python object is built per row.  A frame
        that is empty, ragged, or whose ids are not 0..N-1 once each
        raises ``ValueError``."""

        def to_mat(df: DataFrame, name: str) -> np.ndarray:
            tbl = df.select("id", "vec").toArrow()
            if tbl.num_rows == 0:
                raise ValueError(f"{name} checkpoint is empty")
            ids = tbl.column("id").to_numpy()
            uniq, counts = np.unique(ids, return_counts=True)
            if (counts > 1).any():
                raise ValueError(f"{name} checkpoint has duplicate ids: {uniq[counts > 1][:5]}")
            if uniq[0] != 0 or uniq[-1] != len(uniq) - 1:
                raise ValueError(f"{name} checkpoint ids are not 0..{len(uniq) - 1}: "
                                 f"{len(uniq)} ids span [{uniq[0]}, {uniq[-1]}]")
            vecs = tbl.column("vec").combine_chunks()
            if len(np.unique(vecs.value_lengths().to_numpy(zero_copy_only=False))) != 1:
                raise ValueError(f"{name} checkpoint has ragged vectors")
            vals = vecs.flatten().to_numpy(zero_copy_only=False).reshape(len(vecs), -1)
            mat = np.empty(vals.shape, dtype=np.float32)
            mat[ids] = vals
            return mat

        return cls(to_mat(ent_df, "entity"), to_mat(rel_df, "relation"))

    def to_dataframes(self, spark: SparkSession) -> tuple[DataFrame, DataFrame]:
        """``(id LONG, vec ARRAY<FLOAT>)`` frames built through Arrow
        straight from the matrices."""

        def to_df(mat: np.ndarray) -> DataFrame:
            n, w = mat.shape
            vec = pa.FixedSizeListArray.from_arrays(
                pa.array(np.ascontiguousarray(mat, dtype=np.float32).ravel()), w
            )
            tbl = pa.table({"id": pa.array(np.arange(n, dtype=np.int64)), "vec": vec})
            return spark.createDataFrame(tbl, schema="id LONG, vec ARRAY<FLOAT>")

        return to_df(self.ent), to_df(self.rel)


# --------------------------------------------------------------------------
# all-entity scoring
# --------------------------------------------------------------------------

# The whole-matrix broadcast ceiling.  A broadcast is held whole on the
# driver and on every executor, so the entity matrix must fit beside a
# working heap: 100 M entities x 64 dims x 4 B = 25.6 GB is the
# practical limit (SCALE.md "Neural scoring").  Every all-entity scorer
# reads the whole matrix and rejects a larger store.
ENT_BROADCAST_MAX_BYTES = 100_000_000 * 64 * 4

# Scores in flight per kernel step: source rows are scored in chunks of
# MAX_FLUX // N rows, the reference's adaptive chunking
# (complex.py:18, 59-96).
MAX_FLUX = 100_000


def _check_ids(ids: np.ndarray, size: int, name: str) -> np.ndarray:
    """``ids`` if every one indexes a matrix row, else ValueError — a
    negative id would otherwise gather ``mat[-1]`` silently, and a NULL
    one (an instance whose bindings lack a symbol; NaN once NumPy holds
    it) would fail as an IndexError."""
    if pd.isna(ids).any():
        raise ValueError(f"{name} ids are NULL: an instance lacks a binding")
    bad = (ids < 0) | (ids >= size)
    if bad.any():
        raise ValueError(f"{name} ids outside [0, {size}): {np.unique(ids[bad])[:5]}")
    return ids


def tails_grouped_max(
    model: KGEModel,
    ent: np.ndarray,
    rel: np.ndarray,
    starts: np.ndarray,
    h: np.ndarray,
    r: np.ndarray,
    acc: np.ndarray,
    neg: np.ndarray,
) -> np.ndarray:
    """J2 + A1: every entity as a candidate tail of each ``(h, r)``
    source row, max per (group, tail).  Rows are sorted by group and
    ``starts`` holds each group's first row; ``h``, ``r``, ``acc``
    (float, added to the edge score: the log-space product combine,
    cqd.py:319-320) and ``neg`` (bool, flips the edge score's sign) are
    per row.  Returns [G, N] float64, scoring ``MAX_FLUX // N`` rows at
    a time."""
    n_rows, n = len(h), ent.shape[0]
    step = max(1, MAX_FLUX // max(n, 1))
    best = np.full((len(starts), n), -np.inf)
    for lo in range(0, n_rows, step):
        hi = min(lo + step, n_rows)
        # the groups with rows in [lo, hi) and where each begins there
        g0, g1 = np.searchsorted(starts, lo, "right") - 1, np.searchsorted(starts, hi)
        cuts = np.maximum(starts[g0:g1], lo) - lo
        s = model.score_all(ent[h[lo:hi]], rel[r[lo:hi]], ent).astype(np.float64)
        np.negative(s, out=s, where=neg[lo:hi, None])
        s += acc[lo:hi, None]
        best[g0:g1] = np.maximum(best[g0:g1], np.maximum.reduceat(s, cuts, axis=0))
    return best


class BroadcastPair:
    """An all-entity kernel's ``(entity, relation)`` broadcast pair, made
    by ``make(sc)`` on first use and held for that SparkContext.  Every
    lazy frame its owner returns reads the same pair, so it must
    outlive any one call; a new context (the old one stopped, taking its
    broadcasts with it) gets a new pair.  Safe to share across threads."""

    def __init__(self, make: Callable[[object], tuple]):
        self._make = make
        self._lock = threading.Lock()
        self._sc = None
        self._pair: tuple | None = None

    def get(self, sc) -> tuple:
        with self._lock:
            if self._sc is not sc:
                self._pair, self._sc = self._make(sc), sc
            return self._pair

    @classmethod
    def whole(cls, store: EmbeddingStore) -> "BroadcastPair":
        """The pair of a kernel that reads the whole entity matrix (CQD's
        beam search, LMPNN's update net, ``score_all_tails_grouped_max``):
        a store above ``ENT_BROADCAST_MAX_BYTES`` raises ``ValueError``
        here, before any job."""
        if store.ent.nbytes > ENT_BROADCAST_MAX_BYTES:
            raise ValueError(f"entity matrix of {store.ent.nbytes} B is above the broadcast "
                             f"ceiling of {ENT_BROADCAST_MAX_BYTES} B; all-entity scoring needs it whole")
        return cls(lambda sc: (sc.broadcast(store.ent), sc.broadcast(store.rel)))


def score_all_tails_grouped_max(
    df: DataFrame,
    model: KGEModel,
    store: EmbeddingStore,
    acc_col: str | None = None,
    neg_col: str | None = None,
    group_cols: tuple[str, ...] = ("query_id",),
) -> DataFrame:
    """``tails_grouped_max`` over the ``(h, r)`` source rows of ``df``:
    each Arrow batch is sorted by ``group_cols`` in one stable sort and
    scored against the broadcast entity matrix in one ``mapInArrow``
    stage (never a crossJoin of rows — SURVEY §4.2).  ``neg_col``
    (boolean) flips an edge score's sign (fuzzy negation); ``acc_col``
    is a source score ADDED to the edge score.  The kernel emits N rows
    per (batch, group), not N per source row.

    Output ``(t, score, *group_cols)`` is a PARTIAL aggregate: a group
    split across batches appears once per batch, so callers merge with
    ``groupBy(*group_cols, "t").max("score")``.  Ids in ``h`` or ``r``
    outside the matrices, or a NULL group key, raise ``ValueError``; a
    store above ``ENT_BROADCAST_MAX_BYTES`` raises before any job."""
    b_ent, b_rel = BroadcastPair.whole(store).get(df.sparkSession.sparkContext)
    n_ent, n_rel = store.ent.shape[0], store.rel.shape[0]
    gcols = list(group_cols)
    schema = "t long, score double" + "".join(f", {c} long" for c in gcols)

    def expand(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ent, rel = b_ent.value, b_rel.value
        tails = np.arange(n_ent, dtype=np.int64)
        for batch in batches:

            def col(c: str) -> np.ndarray:
                return batch.column(c).to_numpy(zero_copy_only=False)

            for c in gcols:
                if batch.column(c).null_count:
                    raise ValueError(f"{c} is NULL: a row without a group has no max")
            # one stable sort by the group key; a group starts where any
            # key column changes
            keys = np.stack([col(c) for c in gcols]).astype(np.int64)  # [C, R]
            order = np.lexsort(keys[::-1])
            keys = keys[:, order]
            new = np.ones(len(order), dtype=bool)
            new[1:] = (keys[:, 1:] != keys[:, :-1]).any(axis=0)
            starts = np.flatnonzero(new)
            h = _check_ids(col("h")[order], n_ent, "h")
            r = _check_ids(col("r")[order], n_rel, "r")
            acc = col(acc_col)[order] if acc_col else np.zeros(len(order))
            neg = col(neg_col)[order].astype(bool) if neg_col else np.zeros(len(order), dtype=bool)
            best = tails_grouped_max(model, ent, rel, starts, h, r, acc, neg)
            out = {"t": np.tile(tails, len(starts)), "score": best.ravel()}
            out.update({c: np.repeat(keys[i, starts], n_ent) for i, c in enumerate(gcols)})
            yield pa.record_batch(out)

    return df.mapInArrow(expand, schema=schema)
