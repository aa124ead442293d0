"""Seeded query inputs: the EFO serving pool and the QAA batch.

Both are drawn from the benchmark's own view of the graph (NumPy arrays
read from the DuckDB oracle) and answered by the oracle, so the engine
under test only ever receives the generated queries.

EFO pool: the anchored shapes of ``CQ_DEFS`` (all but the anchor-free
cq9), taken in turn.  Anchors are Zipf-skewed over a seeded
permutation of the entities; each query is grounded by a walk from its
first anchor to a sampled answer, and the remaining anchors are drawn
back from the entities the walk reached (negated atoms draw anchors that
do NOT reach them), so every answer set is non-empty.

QAA batch: shapes 1p, 2p, 2i, 2in over the dense ids, with relations
taken from sampled edges; answers are split into easy and hard by a
seeded hash.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

import oracle as oracle_mod
import reference

ZIPF_A = 1.1
MAX_QAA_ANSWERS = 48


class Graph:
    """Adjacency of a triple table: out(r, h) -> tails, sorted by (r, h)."""

    def __init__(self, h: np.ndarray, r: np.ndarray, t: np.ndarray):
        key = r * (np.int64(1) << 40) + h
        order = np.argsort(key, kind="stable")
        self.key, self.tails = key[order], t[order]
        self.h, self.r, self.t = h, r, t
        self._heads: dict[int, np.ndarray] = {}

    def out(self, r: int, h: int) -> np.ndarray:
        k = np.int64(r) * (np.int64(1) << 40) + np.int64(h)
        lo, hi = np.searchsorted(self.key, [k, k + 1])
        return self.tails[lo:hi]

    def heads(self, r: int) -> np.ndarray:
        if r not in self._heads:
            self._heads[r] = np.unique(self.h[self.r == r])
        return self._heads[r]

    def has(self, h: int, r: int, t: int) -> bool:
        return bool(np.any(self.out(r, h) == t))


class Zipf:
    """Zipf weights over a seeded permutation of entity ids."""

    def __init__(self, rng: np.random.Generator, ids: np.ndarray):
        self.ids = np.sort(ids)
        rank = np.empty(len(ids), dtype=np.int64)
        rank[rng.permutation(len(ids))] = np.arange(len(ids))
        self.weight = 1.0 / (rank + 1.0) ** ZIPF_A  # by position in self.ids

    def pick(self, rng: np.random.Generator, cands: np.ndarray) -> int:
        cands = np.unique(cands)
        w = self.weight[np.searchsorted(self.ids, cands)]
        return int(rng.choice(cands, p=w / w.sum()))


@dataclass(frozen=True)
class EfoQuery:
    shape: str
    lstr: str
    bindings: tuple[tuple[str, int], ...]

    @property
    def bind(self) -> dict[str, int]:
        return dict(self.bindings)


def _ground_clause(pos, neg, b, g: Graph, z: Zipf, rng) -> bool:
    """Bind the clause's constants in ``b`` (constants already bound
    stay); returns False when the walk hits a dead end."""
    var: dict[str, int] = {}

    def value(term):
        return b.get(term) if term.startswith("s") else var.get(term)

    def assign(term, cands):
        if len(cands) == 0:
            return False
        if term.startswith("s"):
            b[term] = z.pick(rng, cands)
        else:
            var[term] = int(rng.choice(cands))
        return True

    todo = list(pos)
    while todo:
        step = None
        for atom in todo:
            rel, head, tail = atom
            hv, tv = value(head), value(tail)
            if hv is not None or tv is not None:
                step = atom
                break
        if step is None:  # nothing bound yet: anchor the first atom's head
            step = todo[0]
            rel, head, _ = step
            if not assign(head, g.heads(b[rel])):
                return False
        todo.remove(step)
        rel, head, tail = step
        hv, tv = value(head), value(tail)
        if hv is not None and tv is not None:
            if not g.has(hv, b[rel], tv):
                return False
        elif hv is not None:
            if not assign(tail, g.out(b[rel], hv)):
                return False
        elif not assign(head, g.out(b[rel] ^ 1, tv)):
            return False
    for rel, head, tail in neg:
        fresh = [t for t in (head, tail) if t.startswith("s") and t not in b]
        for _ in range(50):
            for term in fresh:
                b[term] = z.pick(rng, g.heads(b[rel] if term == head else b[rel] ^ 1))
            if not g.has(value(head), b[rel], value(tail)):
                break
        else:
            return False
    return True


def efo_pool(
    rng: np.random.Generator, orc: oracle_mod.Oracle, defs: dict, size: int
) -> list[tuple[EfoQuery, frozenset[int]]]:
    """``size`` queries with their oracle answer sets.  ``defs`` is
    ``CQ_DEFS``-shaped: name -> (lstr, relation bindings, constants)."""
    g = Graph(*orc.triples("aug"))
    z = Zipf(rng, orc.entity_ids())
    shapes = sorted(name for name, (_, _, consts) in defs.items() if consts)
    answers: dict[EfoQuery, frozenset[int]] = {}
    pool = []
    for i in range(size):
        name = shapes[i % len(shapes)]  # every window sees an even mix
        lstr, rels, _ = defs[name]
        clauses = oracle_mod.dnf(oracle_mod.parse(lstr))
        for _ in range(100):
            b = dict(rels)
            if all(_ground_clause(p, n, b, g, z, rng) for p, n in clauses):
                q = EfoQuery(name, lstr, tuple(sorted(b.items())))
                if q not in answers:
                    answers[q] = frozenset(orc.answers(lstr, b, "aug"))
                if answers[q]:
                    pool.append((q, answers[q]))
                    break
        else:
            raise RuntimeError(f"could not ground {name} with a non-empty answer")
    return pool


@dataclass
class QaaInstance:
    qid: int
    shape: str
    bindings: dict[str, int]
    easy: list[int]
    hard: list[int]

    @property
    def lstr(self) -> str:
        return reference.SHAPES[self.shape]


def _split(seed: int, qid: int, ans: list[int]) -> tuple[list[int], list[int]]:
    key = (np.array(ans, dtype=np.int64) * 2654435761 + qid * 40503 + seed * 97) % 1009
    easy = [a for a, k in zip(ans, key.tolist()) if k % 4 == 0]
    hard = [a for a, k in zip(ans, key.tolist()) if k % 4 != 0]
    if not hard:
        hard, easy = easy[-1:], easy[:-1]
    return easy, hard


def qaa_batch(
    rng: np.random.Generator, orc: oracle_mod.Oracle, per_shape: int, seed: int
) -> list[QaaInstance]:
    g = Graph(*orc.triples("dense"))
    m = len(g.h)
    out: list[QaaInstance] = []
    for shape in reference.SHAPES:
        got = 0
        while got < per_shape:
            i = int(rng.integers(m))
            h, r, t = int(g.h[i]), int(g.r[i]), int(g.t[i])
            b = {"s1": h, "r1": r}
            if shape == "2p":
                # any relation out of t except straight back
                cand = np.flatnonzero((g.h == t) & (g.r != (r ^ 1)))
                if len(cand) == 0:
                    continue
                j = int(rng.choice(cand))
                b["r2"] = int(g.r[j])
            elif shape in ("2i", "2in"):
                # a second anchor edge into the sampled answer t (2i), or
                # into another entity (2in), so the answer sets overlap
                # but differ
                target = t if shape == "2i" else int(g.t[int(rng.integers(m))])
                cand = np.flatnonzero(g.h == target)
                if len(cand) == 0:
                    continue
                j = int(rng.choice(cand))
                b["s2"], b["r2"] = int(g.t[j]), int(g.r[j]) ^ 1
                if (b["s2"], b["r2"]) == (h, r):
                    continue
            ans = sorted(orc.answers(reference.SHAPES[shape], b, "dense"))
            if not ans or len(ans) > MAX_QAA_ANSWERS:
                continue
            qid = len(out)
            easy, hard = _split(seed, qid, ans)
            out.append(QaaInstance(qid, shape, b, easy, hard))
            got += 1
    return out
