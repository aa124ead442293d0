"""CQD beam search over DataFrames (SURVEY §2.7 R1, §3 entry point 2).

Reference parity: ``CQDBeam.eval_all_entity_scores`` →
``recursive_beam_search``
(/root/reference/knovex/reasoner/cqd.py:82-431): backward recursion from
the free variable to constants with a visited-mask cycle guard
(cqd.py:134-145); per level —

  frontier scoring   J2  score every (source-assignment, rel) vs all
                         tails  (cqd.py:221-249) -> broadcast mat-mul
                         kernel, never a row cross-join
  combine            sum  source score + edge score = log-space product
                         t-norm (cqd.py:319-320) -> `acc` addition
  ∃-elimination      A1  max over source beam per (edge, tail)
                         (cqd.py:327-338) -> per-partition max inside
                         the kernel, merged by groupBy(query_id, t).max
  conjunction        A2  sum across incoming edges per tail
                         (cqd.py:344-355) -> union + groupBy.sum
  beam prune         A7  top-k per variable (cqd.py:374-409)
                         -> per-query row_number window <= k

The query graph is read from the compiled plan
(``plans/exact.compile_plan``): per DNF clause, every atom forward and
inverted (rel XOR 1).  CQD therefore rejects what the exact engines
reject (unsafe negation, a clause without a positive atom, an unbound
free variable or symbol) before any frame is built; in ``eval_batch``
an instance whose bindings lack a symbol fails in the scoring kernel
with a ``ValueError``.

The first three steps are one call per level to
``functions.kge.score_all_tails_grouped_max``, the library's single
all-entity operator; it shards the entity axis by itself when the
matrix is above the broadcast ceiling.

Spark-first batching: evaluation is **batched across instances of one
query shape** — every frame carries a ``query_id`` column, constants and
relation ids are read per instance from a bindings MAP column, and the
beam prune is a window partitioned by query_id.  One recursion drives
thousands of QAA instances through shared stages (the DataFrame is the
batch, SURVEY §1.1); the reference's per-disjunct PyG batching
(utils/dataloader.py:64-102) is the tensor analogue.

Exactness note (faithful to the reference): max-sum variable elimination
is exact on tree-shaped query graphs; on multi-edge/cyclic shapes
(2m, 3c, ...) the per-edge max is the same approximation the reference
makes.  The §5.4 oracle-KGE test pins the tree types.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from knovexlite_spark.functions.kge import (
    BroadcastPair,
    EmbeddingStore,
    KGEModel,
    broadcast_store,
    score_all_tails_grouped_max,
)
from knovexlite_spark.plans.exact import ClausePlan, Edge, compile_plan


@dataclass
class CQDBeam:
    """One reasoner per (model, store); beam_size as in cqd.py:37-42."""

    model: KGEModel
    store: EmbeddingStore
    beam_size: int = 10

    def __post_init__(self):
        # one broadcast pair per reasoner and SparkContext serves every
        # level of every disjunct of every eval_batch call
        self._bcast = BroadcastPair(lambda sc: broadcast_store(sc, self.store))

    # -- batched evaluation --------------------------------------------------

    def eval_batch(
        self,
        spark: SparkSession,
        lstr: str,
        instances: DataFrame,
        free_var: str = "f",
    ) -> DataFrame:
        """Dense (query_id, t, score) for every instance of one query
        shape.  ``instances``: (query_id LONG, bindings MAP<STRING,LONG>)
        binding every s*/r* symbol.  DNF disjuncts combine by max
        (fuzzy OR — SURVEY §3 step 7)."""
        # not cached: the result is lazy, so nothing could unpersist a
        # cache taken here, and the frame is query-batch-sized
        inst = instances.select("query_id", "bindings")
        bcast = self._bcast.get(spark.sparkContext)
        frames = [
            self._clause_scores(spark, clause, inst, free_var, bcast)
            for clause in compile_plan(lstr, free_var).clauses
        ]
        out = frames[0]
        for f_ in frames[1:]:
            out = out.unionByName(f_)
        return out.groupBy("query_id", "t").agg(F.max("score").alias("score"))

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

    # -- internals -------------------------------------------------------

    def _rel_col(self, edge: Edge) -> F.Column:
        rel = F.element_at(F.col("bindings"), F.lit(edge.relation))
        return rel.bitwiseXOR(F.lit(1)) if edge.inverted else rel

    def _clause_scores(
        self,
        spark: SparkSession,
        clause: ClausePlan,
        inst: DataFrame,
        free_var: str,
        bcast: tuple,
    ) -> DataFrame:
        visited: set[str] = set()
        cache: dict[str, DataFrame] = {}
        n = self.store.ent.shape[0]

        def recurse(target: str, prune: bool) -> DataFrame:
            """Returns (query_id, t, score) — the beam for `target`."""
            if target in cache:
                return cache[target]
            visited.add(target)
            active = [
                e
                for e in clause.edges
                if e.dst.name == target and e.src.name not in visited
            ]
            src_frames: list[DataFrame] = []
            for idx, e in enumerate(active):
                tag = [
                    F.lit(idx).cast("long").alias("edge_id"),
                    self._rel_col(e).alias("r"),
                    F.lit(e.negated).alias("neg"),
                ]
                if e.src.is_constant:
                    # anchor sources read h AND r straight off the
                    # bindings map — no join at all (the pre-round-6
                    # form self-joined inst, costing two exchanges per
                    # anchor edge on the tiny frame)
                    src = inst.select(
                        "query_id",
                        *tag,
                        F.element_at(F.col("bindings"), F.lit(e.src.name)).alias("h"),
                        F.lit(0.0).alias("acc"),
                    )
                else:
                    # beam sources re-attach bindings for the relation
                    # id; inst is query-batch-sized -> broadcast
                    src = (
                        recurse(e.src.name, prune=True)
                        .withColumnRenamed("t", "h")
                        .withColumnRenamed("score", "acc")
                        .join(F.broadcast(inst), "query_id")
                        .select("query_id", *tag, "h", "acc")
                    )
                src_frames.append(
                    src.select("query_id", "edge_id", "h", "r", "neg", "acc")
                )

            if not src_frames:
                # unconstrained existential leaf: whole domain, score 0
                # (log-space 1), no pruning — cqd.py:147-164
                out = inst.select("query_id").crossJoin(
                    spark.range(n).select(F.col("id").alias("t"))
                ).withColumn("score", F.lit(0.0))
                cache[target] = out
                return out

            # LEVEL FUSION (round-6 ask #7): all incoming edges of this
            # variable are scored in ONE kernel pass against the same
            # broadcast matrix — source rows are tagged with edge_id and
            # the J2+A1 fused kernel pre-reduces the beam max per
            # (query, edge, t) partition-locally, so only N rows per
            # (query, edge) per partition hit Arrow (not beam x N).
            all_src = src_frames[0]
            for fr in src_frames[1:]:
                all_src = all_src.unionByName(fr)
            partials = score_all_tails_grouped_max(
                all_src,
                self.model,
                self.store,
                acc_col="acc",
                neg_col="neg",
                group_cols=("query_id", "edge_id"),
                _bcast=bcast,
            )
            # ONE exchange per level: hash-partition the partials by
            # (query_id, t); HashPartitioning on a SUBSET of the
            # grouping keys satisfies the clustered distribution of
            # BOTH the refinement groupBy (query, edge, t) -> max
            # (A1 cross-partition merge) and the conjunction groupBy
            # (query, t) -> sum (A2), so neither aggregation adds an
            # exchange.  The pre-fusion form shuffled the same partial
            # rows once per edge for the max AND re-shuffled the dense
            # union for the sum — ~2x the shuffled rows on 2i/3i
            # shapes (plan pinned by tests/test_cqd.py; A/B in
            # SCALE.md).
            out = (
                partials.repartition("query_id", "t")
                .groupBy("query_id", "edge_id", "t")
                .agg(F.max("score").alias("score"))
                .groupBy("query_id", "t")
                .agg(F.sum("score").alias("score"))
            )
            if prune:
                w = Window.partitionBy("query_id").orderBy(
                    F.col("score").desc(), "t"
                )
                out = (
                    out.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") <= self.beam_size)
                    .drop("__rn")
                )
                # beam-sized frames may feed SEVERAL consumers (diamond
                # shapes revisit a variable): the lazy checkpoint stops
                # each consumer from re-running the whole scoring
                # subtree.  The ROOT frame (prune=False) is left
                # unbarriered on purpose — a checkpoint there would
                # discard the (query_id, t) hash partitioning and force
                # eval_batch's final disjunct-max groupBy to re-exchange
                # the dense N-per-query frame (plan pinned in
                # tests/test_cqd.py).
                out = out.localCheckpoint(eager=False)
            cache[target] = out
            return out

        return recurse(free_var, prune=False)
