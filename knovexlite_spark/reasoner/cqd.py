"""CQD beam search as one NumPy kernel (SURVEY §2.7 R1, §3 entry point 2).

Reference parity: ``CQDBeam.eval_all_entity_scores`` →
``recursive_beam_search`` (reference ``knovex/reasoner/cqd.py:82-431``):
backward recursion from the free variable to constants with a
visited-set cycle guard (cqd.py:134-145); per level —

  frontier scoring   J2  score every (source-assignment, rel) vs all
                         tails (cqd.py:221-249) -> ``model.score_all``
                         against the entity matrix, never a row join
  combine            sum  source score + edge score = log-space product
                         t-norm (cqd.py:319-320) -> ``acc`` addition
  ∃-elimination      A1  max over the source beam per (edge, tail)
                         (cqd.py:327-338)
                         (these three are ``kge.tails_grouped_max``,
                         one group of k source rows per instance)
  conjunction        A2  sum across incoming edges per tail, in plan
                         order (cqd.py:344-355)
  beam prune         A7  top-k per variable by (score desc, t asc)
                         (cqd.py:374-409)

The whole recursion is ``beam_scores``, a pure NumPy function
vectorised over a batch of instances of one query shape: it runs on the
driver without Spark, and ``CQDBeam.eval_batch`` runs it as one
``mapInArrow`` kernel over the instance rows against the reasoner's
broadcast matrices — one stage with no exchange, window or checkpoint,
and a result that does not depend on partitioning.  Source rows are
scored ``kge.MAX_FLUX // N`` at a time, so an unconstrained leaf (N
source rows per instance) never holds N² scores.  The kernel needs the
whole entity matrix, as every all-entity scorer does: a store above
``kge.ENT_BROADCAST_MAX_BYTES`` is rejected at construction.

The query graph is read from the compiled plan
(``plans/exact.compile_plan``): per DNF clause, every atom forward and
inverted (rel XOR 1).  CQD therefore rejects what the exact engines
reject (unsafe negation, a clause without a positive atom, an unbound
free variable or symbol) before any job runs; in ``eval_batch`` an
instance whose bindings lack a symbol fails in the kernel with a
``ValueError``.

Exactness note (faithful to the reference): max-sum variable elimination
is exact on tree-shaped query graphs; on multi-edge/cyclic shapes
(2m, 3c, ...) the per-edge max is the same approximation the reference
makes.  The §5.4 oracle-KGE test pins the tree types.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from knovexlite_spark.functions.kge import MAX_FLUX, BroadcastPair, EmbeddingStore, KGEModel
from knovexlite_spark.functions.kge import _check_ids, tails_grouped_max
from knovexlite_spark.plans.exact import ClausePlan, ExactPlan, compile_plan


def _top_k(s: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Each row's ``k`` best tails by (score desc, t asc), as ``(t,
    score)`` arrays of shape [Q, min(k, N)] with ``t`` ascending."""
    n = s.shape[1]
    if k >= n:
        return np.broadcast_to(np.arange(n), s.shape), s
    kth = -np.partition(-s, k - 1, axis=1)[:, k - 1 : k]
    above, tied = s > kth, s == kth
    # every score above the k-th best, then the lowest tied ids
    keep = above | (tied & (np.cumsum(tied, axis=1) <= k - above.sum(1, keepdims=True)))
    t = np.nonzero(keep)[1].reshape(-1, k)
    return t, np.take_along_axis(s, t, axis=1)


def beam_scores(
    plan: ExactPlan,
    model: KGEModel,
    ent: np.ndarray,
    rel: np.ndarray,
    beam_size: int,
    bindings: dict[str, np.ndarray],
) -> np.ndarray:
    """Dense [Q, N] float64 scores of ``plan``'s free variable for Q
    instances.  ``bindings`` maps each of ``plan.symbols`` to a [Q] id
    array; a NULL (NaN) or out-of-range id raises ``ValueError``.  DNF
    clauses combine by max (fuzzy OR — SURVEY §3 step 7)."""
    n_ent, n_rel = ent.shape[0], rel.shape[0]
    q = len(bindings[plan.symbols[0]])

    def clause_scores(clause: ClausePlan) -> np.ndarray:
        visited: set[str] = set()
        beams: dict[str, tuple[np.ndarray, np.ndarray]] = {}

        def level(target: str) -> np.ndarray | None:
            """The [Q, N] sum of ``target``'s active edges, or None."""
            visited.add(target)
            active = [e for e in clause.edges if e.dst.name == target and e.src.name not in visited]
            total = None
            for e in active:
                if e.src.is_constant:
                    h = _check_ids(bindings[e.src.name], n_ent, "h")[:, None]
                    acc = np.zeros(h.shape)
                else:
                    h, acc = beam(e.src.name)
                # the NULL check, then the inverse id's range
                r = _check_ids(bindings[e.relation], n_rel, "r")
                r = _check_ids(r ^ 1, n_rel, "r") if e.inverted else r
                # each instance's k source rows, instance-major
                k = h.shape[1]
                s = tails_grouped_max(model, ent, rel, np.arange(0, q * k, k), h.ravel(),
                                      np.repeat(r, k), acc.ravel(), np.full(q * k, e.negated))
                total = s if total is None else total + s
            return total

        def beam(var: str) -> tuple[np.ndarray, np.ndarray]:
            """``var``'s (t, score) beam, computed once per clause."""
            if var not in beams:
                s = level(var)
                # an unconstrained existential leaf is the whole domain
                # at score 0 (log-space 1), unpruned — cqd.py:147-164
                leaf = (np.broadcast_to(np.arange(n_ent), (q, n_ent)), np.zeros((q, n_ent)))
                beams[var] = leaf if s is None else _top_k(s, beam_size)
            return beams[var]

        return level(plan.free_var)

    return functools.reduce(np.maximum, map(clause_scores, plan.clauses))


@dataclass
class CQDBeam:
    """One reasoner per (model, store); beam_size as in cqd.py:37-42."""

    model: KGEModel
    store: EmbeddingStore
    beam_size: int = 10

    def __post_init__(self):
        # one broadcast pair per reasoner and SparkContext serves every
        # eval_batch call
        self._bcast = BroadcastPair.whole(self.store)

    def eval_batch(
        self,
        spark: SparkSession,
        lstr: str,
        instances: DataFrame,
        free_var: str = "f",
    ) -> DataFrame:
        """Dense (query_id, t, score) for every instance of one query
        shape.  ``instances``: (query_id LONG, bindings MAP<STRING,LONG>)
        binding every s*/r* symbol.  Lazy: one ``mapInArrow`` stage runs
        ``beam_scores`` on slices of ``MAX_FLUX // N`` instance rows, so
        a level's [Q, N] arrays hold about ``MAX_FLUX`` scores at a time."""
        plan = compile_plan(lstr, free_var)
        b_ent, b_rel = self._bcast.get(spark.sparkContext)
        model, beam_size = self.model, self.beam_size

        def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            ent, rel = b_ent.value, b_rel.value
            n = ent.shape[0]
            tails = np.arange(n, dtype=np.int64)
            step = max(1, MAX_FLUX // max(n, 1))
            for batch in batches:
                for lo in range(0, batch.num_rows, step):
                    part = batch.slice(lo, step)
                    ids = {s: part.column(s).to_numpy(zero_copy_only=False) for s in plan.symbols}
                    scores = beam_scores(plan, model, ent, rel, beam_size, ids)
                    qids = part.column("query_id").to_numpy(zero_copy_only=False)
                    yield pa.record_batch(
                        {"query_id": np.repeat(qids, n), "t": np.tile(tails, len(qids)),
                         "score": scores.ravel()}
                    )

        cols = [F.element_at("bindings", F.lit(s)).alias(s) for s in plan.symbols]
        return instances.select("query_id", *cols).mapInArrow(
            run, schema="query_id long, t long, score double"
        )

    def eval_all_entity_scores(
        self,
        spark: SparkSession,
        lstr: str,
        bindings: dict[str, int],
        free_var: str = "f",
    ) -> DataFrame:
        """Single-instance convenience wrapper: dense (t, score)."""
        compile_plan(lstr, free_var, bindings)  # reject unbound symbols here
        inst = spark.createDataFrame(
            [(0, {k: int(v) for k, v in bindings.items()})],
            schema="query_id long, bindings map<string,long>",
        )
        return self.eval_batch(spark, lstr, inst, free_var).select("t", "score")
