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
- inverse-relation lookup — pair-flip arithmetic r -> 2*(r//2)+(r%2^1)
  (transe.py:48-56)

Spark surface: embeddings live in DataFrames ``(id, vec ARRAY<FLOAT>)``
for storage, but scoring gathers from a *broadcast NumPy matrix* inside
``mapInPandas`` — the candidates × num_entities block never materializes
as rows (SURVEY §4.2).  Two operators: ``score_triples`` (one score per
row) and ``score_all_tails_grouped_max`` (every entity as a tail, max
per group), which shards the entity axis by itself above the broadcast
ceiling ``ENT_BROADCAST_MAX_BYTES``.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass
from typing import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


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


def inverse_relation_ids(rel_ids: np.ndarray) -> np.ndarray:
    """E8 pair-flip: 2i <-> 2i+1 (transe.py:48-56)."""
    return (rel_ids // 2) * 2 + ((rel_ids % 2) + 1) % 2


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
        Arrow table each; no Python object is built per row."""

        def to_mat(df: DataFrame) -> np.ndarray:
            tbl = df.select("id", "vec").toArrow()
            ids = tbl.column("id").to_numpy()
            vecs = tbl.column("vec").combine_chunks()
            vals = vecs.flatten().to_numpy(zero_copy_only=False).reshape(len(vecs), -1)
            mat = np.zeros((ids.max() + 1, vals.shape[1]), dtype=np.float32)
            mat[ids] = vals
            return mat

        return cls(to_mat(ent_df), to_mat(rel_df))

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
# Spark scoring operators
# --------------------------------------------------------------------------

# The whole-matrix broadcast ceiling.  A broadcast is held whole on the
# driver and on every executor, so the entity matrix must fit beside a
# working heap: 100 M entities x 64 dims x 4 B = 25.6 GB is the
# practical limit (SCALE.md "Neural scoring").  Above it the all-entity
# kernel shards the entity axis into ceil(nbytes / ceiling) slices.
ENT_BROADCAST_MAX_BYTES = 100_000_000 * 64 * 4

# Scores in flight per kernel step: a group's source rows are scored
# in chunks of MAX_FLUX // N rows, the reference's adaptive chunking
# (complex.py:18, 59-96).
MAX_FLUX = 100_000

# Column holding the joined head vector on the sharded path.
_HVEC = "__hvec"


def score_triples(
    df: DataFrame,
    model: KGEModel,
    store: EmbeddingStore,
    h_col: str = "h",
    r_col: str = "r",
    t_col: str = "t",
    neg_col: str | None = None,
    out_col: str = "score",
) -> DataFrame:
    """J3: per-row triple scoring via an Arrow-batched kernel; J4 fuzzy
    negation flips the sign (abstract_kge.py:160-163).  The embedding
    matrices ride a Spark broadcast — one copy per executor."""
    spark = df.sparkSession
    b_ent = spark.sparkContext.broadcast(store.ent)
    b_rel = spark.sparkContext.broadcast(store.rel)
    fields = df.schema.fieldNames()
    out_schema = ", ".join(
        [df.schema[f].simpleString().replace(":", " ", 1) for f in fields]
        + [f"{out_col} double"]
    )

    def score_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ent, rel = b_ent.value, b_rel.value
        for pdf in it:
            h = ent[pdf[h_col].to_numpy()]
            r = rel[pdf[r_col].to_numpy()]
            t = ent[pdf[t_col].to_numpy()]
            s = model.score(h, r, t).astype(np.float64)
            if neg_col is not None:
                s = np.where(pdf[neg_col].to_numpy().astype(bool), -s, s)
            pdf = pdf.copy()
            pdf[out_col] = s
            yield pdf

    return df.mapInPandas(score_batches, schema=out_schema)


def _check_ids(ids: np.ndarray, size: int, name: str) -> np.ndarray:
    """``ids`` if every one indexes a matrix row, else ValueError — a
    negative id would otherwise gather ``mat[-1]`` silently, and a NULL
    one (an instance whose bindings lack a symbol; NaN once pandas
    holds it) would fail as an IndexError."""
    if pd.isna(ids).any():
        raise ValueError(f"{name} ids are NULL: an instance lacks a binding")
    bad = (ids < 0) | (ids >= size)
    if bad.any():
        raise ValueError(f"{name} ids outside [0, {size}): {np.unique(ids[bad])[:5]}")
    return ids


def _shard_offsets(store: EmbeddingStore) -> range:
    """First tail id of each entity-axis shard: ``[0]`` (the whole
    matrix) at or below ``ENT_BROADCAST_MAX_BYTES``, otherwise
    ``ceil(nbytes / ENT_BROADCAST_MAX_BYTES)`` equal slices."""
    n = store.ent.shape[0]
    n_shards = max(1, -(-store.ent.nbytes // ENT_BROADCAST_MAX_BYTES))
    return range(0, max(n, 1), max(1, -(-n // n_shards)))


def _is_whole(store: EmbeddingStore) -> bool:
    """True when the entity matrix is broadcast whole (one shard)."""
    return len(_shard_offsets(store)) == 1


class BroadcastPair:
    """A reasoner's ``(entity, relation)`` broadcast pair, made by
    ``make(sc)`` on first use and held for that SparkContext.  Every
    lazy frame the reasoner returns reads the same pair, so it must
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
        """The pair of a reasoner whose kernel reads the whole entity
        matrix (CQD's beam search, LMPNN's update net).  Neither has a
        sharded path, so a store above ``ENT_BROADCAST_MAX_BYTES`` raises
        ``ValueError`` here, at the reasoner's construction."""
        if not _is_whole(store):
            raise ValueError(f"entity matrix of {store.ent.nbytes} B is above the broadcast "
                             f"ceiling of {ENT_BROADCAST_MAX_BYTES} B; the reasoners need it whole")
        return cls(lambda sc: (sc.broadcast(store.ent), sc.broadcast(store.rel)))


def score_all_tails_grouped_max(
    df: DataFrame,
    model: KGEModel,
    store: EmbeddingStore,
    acc_col: str | None = None,
    neg_col: str | None = None,
    group_cols: tuple[str, ...] = ("query_id",),
) -> DataFrame:
    """J2 + A1: score every entity as a candidate tail of each ``(h, r)``
    source row, then take the max per (group, tail) inside the kernel.

    The theta-join against all entities is a mat-mul on a broadcast
    entity matrix inside ``mapInPandas`` (never a crossJoin of rows —
    SURVEY §4.2).  ``neg_col`` (boolean) flips an edge score's sign
    (fuzzy negation); ``acc_col`` is a source score ADDED to the edge
    score (log-space product combine, cqd.py:319-320).  The kernel
    emits N rows per (partition, group), not N per source row.

    Output ``(t, score, *group_cols)`` is a PARTIAL aggregate: a group
    split across partitions appears once per partition, so callers
    merge with ``groupBy(*group_cols, "t").max("score")``.  Ids in
    ``h`` or ``r`` outside the matrices raise ``ValueError``.

    Above ``ENT_BROADCAST_MAX_BYTES`` the entity axis is sharded (see
    ``_shard_offsets``): head vectors are joined from the ``(id, vec)``
    entity table, the frame is snapshotted once, and the shards run one
    job at a time, each broadcasting only its slice and releasing it
    once its partials are checkpointed.  The merge contract is the
    same.
    """
    sc = df.sparkSession.sparkContext
    n_ent, n_rel = store.ent.shape[0], store.rel.shape[0]
    whole = _is_whole(store)
    gcols = list(group_cols)
    schema = "t long, score double" + "".join(f", {c} long" for c in gcols)

    def kernel(b_ent, b_rel, lo: int):
        """gather -> score_all -> negate -> add acc -> per-group max
        against the entity slice ``b_ent`` whose first tail id is
        ``lo``.  With one shard the slice is the whole matrix and heads
        are gathered from it; otherwise they arrive joined as _HVEC."""

        def expand(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            ent, rel = b_ent.value, b_rel.value
            sn = ent.shape[0]
            rows_per = max(1, MAX_FLUX // max(sn, 1))
            tails = np.arange(lo, lo + sn, dtype=np.int64)
            for pdf in it:
                for gvals, part in pdf.groupby(gcols, sort=False):
                    if not isinstance(gvals, tuple):
                        gvals = (gvals,)
                    best: np.ndarray | None = None
                    for plo in range(0, len(part), rows_per):
                        chunk = part.iloc[plo : plo + rows_per]
                        h_ids = _check_ids(chunk["h"].to_numpy(), n_ent, "h")
                        if whole:
                            h = ent[h_ids]
                        else:
                            h = np.stack(chunk[_HVEC].to_numpy()).astype(np.float32)
                        r = rel[_check_ids(chunk["r"].to_numpy(), n_rel, "r")]
                        s = model.score_all(h, r, ent).astype(np.float64)  # [b, sn]
                        if neg_col is not None:
                            neg = chunk[neg_col].to_numpy().astype(bool)
                            s = np.where(neg[:, None], -s, s)
                        if acc_col is not None:
                            s = s + chunk[acc_col].to_numpy()[:, None]
                        m = s.max(axis=0)
                        best = m if best is None else np.maximum(best, m)
                    out = {"t": tails, "score": best}
                    for c, v in zip(gcols, gvals):
                        out[c] = np.full(sn, v, dtype=np.int64)
                    yield pd.DataFrame(out)

        return expand

    b_rel = sc.broadcast(store.rel)
    if whole:
        return df.mapInPandas(kernel(sc.broadcast(store.ent), b_rel, 0), schema=schema)

    ent_df, _ = store.to_dataframes(df.sparkSession)
    heads = F.col("vec").alias(_HVEC)
    withv = df.join(ent_df.select(F.col("id").alias("h"), heads), "h", "left")
    # one snapshot feeds every shard, so the join (and any
    # nondeterministic upstream) runs once
    withv = withv.localCheckpoint(eager=True)
    out: DataFrame | None = None
    offsets = _shard_offsets(store)
    for lo in offsets:
        b_shard = sc.broadcast(store.ent[lo : lo + offsets.step])
        part = withv.mapInPandas(kernel(b_shard, b_rel, lo), schema=schema)
        part = part.localCheckpoint(eager=True)
        b_shard.unpersist(blocking=False)
        out = part if out is None else out.unionByName(part)
    return out
