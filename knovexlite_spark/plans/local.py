"""Driver-local interpreter of an ``ExactPlan`` over a sorted adjacency.

Below the KG-size gate in ``engine.py`` the edge list fits in driver
memory, and a query is a handful of neighbourhood lookups — work that a
Spark job's fixed cost (planning plus three jobs, ~250 ms warm) dwarfs.
The adjacency holds the pair-encoded edges (relation k -> 2k forward,
2k+1 backward) sorted by (r, h), so:

- a head-anchored atom is ``searchsorted`` slices: O(log E) per anchor.
  The anchor is a constant, or else every value the clause has bound
  so far for that variable, so a join reads only the frontier's
  neighbourhood;
- a tail-anchored atom r(x, s) is the head-anchored atom (r^1)(s, x);
- a raw relation id k (``augmented=False``) is 2k, so one copy in one
  sort order serves both encodings.

Joins are pandas merges on the shared variables, negation is an
anti-merge, and the answer is ``np.unique`` of the clauses' free
variable.  Before each join the exact output size is computed from the
key counts of both sides; above ``LOCAL_MAX_JOIN_ROWS`` the query is
handed back (``None``) so the caller runs it on Spark — this keeps an
anchor-free cyclic query (cq9) from building a quadratic intermediate
on the driver.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd

from knovexlite_spark.language.ast import Atomic
from knovexlite_spark.plans.exact import GROUND, ExactPlan

log = logging.getLogger(__name__)

# Largest join output (rows) the driver builds for one query.  Measured
# on 4 vCPUs: sizing, merging and deduplicating a 2 M-row join takes
# ~0.6 s and ~48 MB, about what one Spark query costs (cq9 at sf0.1
# joins 0.6 M rows: 0.30 s here, 0.75 s on Spark).
LOCAL_MAX_JOIN_ROWS = 2_000_000


class Adjacency:
    """Pair-encoded edges of a base edge list, sorted by (r, h)."""

    def __init__(self, h: np.ndarray, r: np.ndarray, t: np.ndarray):
        rel = np.concatenate([2 * r, 2 * r + 1])
        head = np.concatenate([h, t])
        order = np.lexsort((head, rel))
        self.r = rel[order]
        self.h = head[order]
        self.t = np.concatenate([t, h])[order]

    @property
    def nbytes(self) -> int:
        return self.r.nbytes + self.h.nbytes + self.t.nbytes

    def out_edges(
        self, rel: int, heads: np.ndarray | None = None
    ) -> tuple[np.ndarray, np.ndarray]:
        """(h, t) of the edges with relation ``rel`` and, when given, a
        head in ``heads`` (distinct ids)."""
        lo, hi = np.searchsorted(self.r, [rel, rel + 1])
        h, t = self.h[lo:hi], self.t[lo:hi]
        if heads is None:
            return h, t
        start = np.searchsorted(h, heads, "left")
        n = np.searchsorted(h, heads, "right") - start
        idx = np.repeat(start - np.cumsum(n) + n, n) + np.arange(n.sum())
        return h[idx], t[idx]


def _atom_frame(
    adj: Adjacency,
    atom: Atomic,
    bindings: dict[str, int],
    augmented: bool,
    acc: pd.DataFrame | None = None,
) -> pd.DataFrame:
    """The atom's variable columns, read from the adjacency anchored at
    a constant if it has one, else at the values ``acc`` already binds."""
    rel = bindings[atom.relation] if augmented else 2 * bindings[atom.relation]
    head, tail = atom.head, atom.tail

    def anchor(term) -> int:
        return 2 if term.is_constant else int(acc is not None and term.name in acc)

    if anchor(tail) > anchor(head):
        rel, head, tail = rel ^ 1, tail, head
    if head.is_constant:
        heads = np.array([bindings[head.name]], np.int64)
    else:
        heads = np.unique(acc[head.name].to_numpy()) if anchor(head) else None
    h, t = adj.out_edges(rel, heads)
    if tail.is_constant:
        keep = t == bindings[tail.name]
        h, t = h[keep], t[keep]
    elif head.name == tail.name:  # r(e1,e1)
        h = t = h[h == t]
    cols = {}
    if head.is_variable:
        cols[head.name] = h
    if tail.is_variable:
        cols[tail.name] = t
    return pd.DataFrame(cols or {GROUND: np.ones(len(h), np.int64)})


def _join_rows(left: pd.DataFrame, right: pd.DataFrame, keys: list[str]) -> int:
    """Exact row count of ``left`` ⋈ ``right`` on ``keys``."""
    if not keys:
        return len(left) * len(right)
    counts = left.groupby(keys).size().mul(right.groupby(keys).size(), fill_value=0)
    return int(counts.sum())


def answer_local(
    plan: ExactPlan, adj: Adjacency, bindings: dict[str, int], augmented: bool
) -> np.ndarray | None:
    """The sorted distinct free-variable ids, or ``None`` when a join
    would exceed ``LOCAL_MAX_JOIN_ROWS``."""
    parts = []
    for clause in plan.clauses:
        acc = _atom_frame(adj, clause.positive[0], bindings, augmented)
        for atom in clause.positive[1:]:
            right = _atom_frame(adj, atom, bindings, augmented, acc)
            keys = sorted(set(acc.columns) & set(right.columns))
            rows = _join_rows(acc, right, keys)
            if rows > LOCAL_MAX_JOIN_ROWS:
                log.info(
                    "efo row cap: %s joins to %d rows (cap %d); running on Spark",
                    clause.lstr(), rows, LOCAL_MAX_JOIN_ROWS,
                )
                return None
            acc = acc.merge(right, on=keys) if keys else acc.merge(right, how="cross")
        for atom in clause.negative:
            neg = _atom_frame(adj, atom, bindings, augmented, acc)
            keys = sorted(neg.columns)
            acc = acc[~acc.set_index(keys).index.isin(neg.set_index(keys).index)]
        parts.append(acc[plan.free_var].to_numpy(np.int64))
    return np.unique(np.concatenate(parts))
