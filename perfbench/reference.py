"""NumPy re-implementations used to check the neural reasoners.

Written from the reasoners' documented semantics, one query instance at
a time and without Spark, for the four QAA shapes the benchmark uses:

- CQD beam search with a TransE scorer: anchor edges score every entity
  as -||e_s + r - e_t||, a negated edge flips the sign, an intermediate
  variable keeps its top-``beam`` entities (ties to the smaller id) and
  its successors take the max over that beam of (beam score + edge
  score), edges into one variable add up.
- LMPNN (bias-only update): constants start at their entity vector,
  variables at the shared variable vector; each round every node sums
  the messages (x_src + r) * (1 - 2*neg) sent along both directions of
  every atom, then h = 0.1*x + sum and x' = relu(h @ E^T) @ E.  The
  readout is the free node after ``num_vars`` rounds; scores are its
  cosine with every entity.

The dtypes follow the engine's kernels (float32 embeddings and
messages, float64 sums), so agreement is to rounding, not to a model.
"""

from __future__ import annotations

import numpy as np

SHAPES = {
    "1p": "r1(s1,f)",
    "2p": "r1(s1,e1)&r2(e1,f)",
    "2i": "r1(s1,f)&r2(s2,f)",
    "2in": "r1(s1,f)&!r2(s2,f)",
}

# (src, dst, relation symbol, negated) per atom, as written in SHAPES
ATOMS = {
    "1p": [("s1", "f", "r1", False)],
    "2p": [("s1", "e1", "r1", False), ("e1", "f", "r2", False)],
    "2i": [("s1", "f", "r1", False), ("s2", "f", "r2", False)],
    "2in": [("s1", "f", "r1", False), ("s2", "f", "r2", True)],
}


def _transe_all(ent: np.ndarray, rel: np.ndarray, h: int, r: int) -> np.ndarray:
    est = ent[[h]] + rel[[r]]  # [1, d] float32
    return -np.linalg.norm(est[:, None, :] - ent[None, :, :], axis=-1)[0].astype(np.float64)


def cqd_scores(shape: str, b: dict[str, int], ent: np.ndarray, rel: np.ndarray, beam: int) -> np.ndarray:
    if shape == "1p":
        return _transe_all(ent, rel, b["s1"], b["r1"])
    if shape == "2p":
        first = _transe_all(ent, rel, b["s1"], b["r1"])
        order = np.lexsort((np.arange(len(first)), -first))[:beam]
        out = np.full(ent.shape[0], -np.inf)
        for e in order:
            out = np.maximum(out, _transe_all(ent, rel, int(e), b["r2"]) + first[e])
        return out
    one = _transe_all(ent, rel, b["s1"], b["r1"])
    two = _transe_all(ent, rel, b["s2"], b["r2"])
    if shape == "2i":
        return one + two
    if shape == "2in":
        return one + (-two)
    raise ValueError(f"unknown shape {shape!r}")


def lmpnn_readout(
    shape: str, b: dict[str, int], ent: np.ndarray, rel: np.ndarray, var_vec: np.ndarray
) -> np.ndarray:
    atoms = ATOMS[shape]
    nodes = sorted({t for a in atoms for t in a[:2]})
    state = {n: (ent[b[n]] if n.startswith("s") else var_vec).astype(np.float32) for n in nodes}
    edges = []
    for src, dst, sym, neg in atoms:
        edges.append((src, dst, b[sym], neg))
        edges.append((dst, src, b[sym] ^ 1, neg))
    num_vars = sum(1 for n in nodes if not n.startswith("s"))
    for _ in range(num_vars):
        aggr = {n: np.zeros(ent.shape[1], dtype=np.float64) for n in nodes}
        for src, dst, r, neg in edges:
            msg = (state[src] + rel[r]) * np.float32(1.0 - 2.0 * neg)
            aggr[dst] = aggr[dst] + msg.astype(np.float32)
        new = {}
        for n in nodes:
            h = 0.1 * state[n] + aggr[n]
            es = np.maximum(h @ ent.T, 0.0)
            new[n] = (es @ ent).astype(np.float32)
        state = new
    return state["f"]


def cosine_scores(vec: np.ndarray, ent: np.ndarray) -> np.ndarray:
    ent_n = ent / np.maximum(np.linalg.norm(ent, axis=1, keepdims=True), 1e-12)
    x = vec[None, :] / np.maximum(np.linalg.norm(vec), 1e-12)
    return (x @ ent_n.T)[0].astype(np.float64)
