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

A clause's bindings are a dict of equal-length ``int64`` columns
(variable name -> ndarray), and the joins are NumPy sort-merges: the
shared key is one column, or several factorised together into one
code, and a clause with no shared variable is a cross join (every
row's code is equal).  Both sides' codes are sorted once and
``searchsorted`` gives each left row its run of matches on the right.
Those run lengths sum to the exact join size, which is checked against
``LOCAL_MAX_JOIN_ROWS`` before any row is gathered; above it the query
is handed back (``None``) so the caller runs it on Spark — this keeps
an anchor-free cyclic query (cq9) from building a quadratic
intermediate on the driver.  Negation drops the rows whose codes the
negated atom's frame holds, and the answer is ``np.unique`` of the
clauses' free variable.
"""

from __future__ import annotations

import logging

import numpy as np

from knovexlite_spark.language.ast import Atomic
from knovexlite_spark.plans.exact import GROUND, ClausePlan, ExactPlan

log = logging.getLogger(__name__)

# Largest join output (rows) the driver builds for one query.  Measured
# on 4 vCPUs: sizing, gathering and deduplicating a 2 M-row two-atom
# join takes ~0.10 s and ~84 MB of NumPy arrays at peak; cq9 at sf0.1
# joins 0.6 M rows in 0.34 s here against 0.75 s on Spark.
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
        idx = _runs(start, np.searchsorted(h, heads, "right") - start)
        return h[idx], t[idx]


def _runs(start: np.ndarray, n: np.ndarray) -> np.ndarray:
    """The indices of the runs ``start[i] .. start[i] + n[i]``, in order."""
    return np.repeat(start - np.cumsum(n) + n, n) + np.arange(n.sum())


# A clause's bindings: equal-length int64 columns by variable name.
Frame = dict[str, np.ndarray]


def _rows(frame: Frame) -> int:
    return len(next(iter(frame.values())))


def _atom_frame(
    adj: Adjacency,
    atom: Atomic,
    bindings: dict[str, int],
    augmented: bool,
    acc: Frame | None = None,
) -> Frame:
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
        heads = np.unique(acc[head.name]) if anchor(head) else None
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
    return cols or {GROUND: np.ones(len(h), np.int64)}


def _codes(left: Frame, right: Frame, keys: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """One id per row of each side, equal across the sides exactly when
    the rows agree on every key (all equal when there is none).  Several
    keys are factorised one column at a time into a mixed-radix code (a
    2-D ``np.unique(axis=0)`` took several times longer on cq9); the
    right side is an atom's frame, so there are at most two keys and
    the code stays below the squared row count."""
    if len(keys) == 1:
        return left[keys[0]], right[keys[0]]
    codes = np.zeros(_rows(left) + _rows(right), np.int64)
    for k in keys:
        uniq, inv = np.unique(np.concatenate([left[k], right[k]]), return_inverse=True)
        codes = codes * len(uniq) + inv
    return codes[: _rows(left)], codes[_rows(left) :]


def _join(left: Frame, right: Frame, clause: ClausePlan) -> Frame | None:
    """``left`` ⋈ ``right`` on their shared variables (a cross join when
    they share none), or ``None`` when it would exceed
    ``LOCAL_MAX_JOIN_ROWS`` rows; the size is checked before any row is
    gathered."""
    lk, rk = _codes(left, right, sorted(left.keys() & right.keys()))
    # Both sides sorted: searchsorted runs ~10x faster on sorted keys.
    lorder, rorder = np.argsort(lk), np.argsort(rk)
    lk, rk = lk[lorder], rk[rorder]
    lo = np.searchsorted(rk, lk, "left")
    n = np.searchsorted(rk, lk, "right") - lo
    rows = int(n.sum())
    if rows > LOCAL_MAX_JOIN_ROWS:
        log.info(
            "efo row cap: %s joins to %d rows (cap %d); running on Spark",
            clause.lstr(), rows, LOCAL_MAX_JOIN_ROWS,
        )
        return None
    out = {c: v[np.repeat(lorder, n)] for c, v in left.items()}
    ri = rorder[_runs(lo, n)]
    out.update((c, v[ri]) for c, v in right.items() if c not in left)
    return out


def answer_local(
    plan: ExactPlan, adj: Adjacency, bindings: dict[str, int], augmented: bool
) -> np.ndarray | None:
    """The sorted distinct free-variable ids, or ``None`` when a join
    would exceed ``LOCAL_MAX_JOIN_ROWS``."""
    parts = []
    for clause in plan.clauses:
        acc = _atom_frame(adj, clause.positive[0], bindings, augmented)
        for atom in clause.positive[1:]:
            acc = _join(acc, _atom_frame(adj, atom, bindings, augmented, acc), clause)
            if acc is None:
                return None
        for atom in clause.negative:
            neg = _atom_frame(adj, atom, bindings, augmented, acc)
            lk, nk = _codes(acc, neg, sorted(neg))
            keep = ~np.isin(lk, nk)
            acc = {c: v[keep] for c, v in acc.items()}
        parts.append(acc[plan.free_var])
    return np.unique(np.concatenate(parts))
