"""Training-loss diagnostics (SURVEY §2.7 R2/R8/R9) as DataFrame
aggregations.

Training itself lives in ``reasoner/train.py``; these loss VALUES are
evaluation diagnostics that complete the reference's surface:

- R2 BCE (CQD): binary cross-entropy of scores vs the multi-hot answer
  set (/root/reference/knovex/reasoner/cqd.py:68-80)
- R8 NCE (LMPNN): -pos/T + logsumexp([pos, negs]/T) with one sampled
  positive and uniform negatives (lmpnn.py:218-273)
- R9 softmax (LMPNN): mean negative log-softmax over answer entities,
  max-shifted for stability (lmpnn.py:275-288, utils/loss.py:5-16)

All three reduce over the dense per-query score frame
``(query_id, t, score)`` + an answers frame ``(query_id, t)`` with
grouped or per-query window aggregations — no per-query collect, no
dense matrices.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _with_target(scores: DataFrame, answers: DataFrame) -> DataFrame:
    tgt = answers.select("query_id", "t").distinct().withColumn("y", F.lit(1.0))
    return scores.join(tgt, ["query_id", "t"], "left").withColumn(
        "y", F.coalesce("y", F.lit(0.0))
    )


def bce_loss(scores: DataFrame, answers: DataFrame, eps: float = 1e-7) -> float:
    """R2: mean binary cross-entropy over every (query, entity) cell.
    Scores must already be probabilities (the reference feeds
    sigmoid-ish CQD scores)."""
    j = _with_target(scores, answers)
    p = F.least(F.greatest(F.col("score"), F.lit(eps)), F.lit(1.0 - eps))
    cell = -(F.col("y") * F.log(p) + (1.0 - F.col("y")) * F.log(1.0 - p))
    return j.agg(F.avg(cell).alias("bce")).collect()[0]["bce"]


def softmax_loss(scores: DataFrame, answers: DataFrame) -> float:
    """R9: per query, -log_softmax(score)[answers] averaged — computed
    as logsumexp(shifted) - shifted_score per answer, then the global
    mean of per-cell losses (the reference averages over all answer
    cells in the batch).  The max and the log-sum-exp are query_id
    window aggregates over one scan of the score frame."""
    w = Window.partitionBy("query_id")
    shifted = scores.select(
        "query_id", "t", (F.col("score") - F.max("score").over(w)).alias("sh")
    )
    nll = F.log(F.sum(F.exp("sh")).over(w)) - F.col("sh")
    per_answer = shifted.select("query_id", "t", nll.alias("nll")).join(
        answers.select("query_id", "t").distinct(), ["query_id", "t"]
    )
    return per_answer.agg(F.avg("nll").alias("l")).collect()[0]["l"]


def nce_loss(
    scores: DataFrame,
    answers: DataFrame,
    num_entities: int,
    negative_sample_size: int = 32,
    temperature: float = 1.0,
    seed: int = 42,
) -> float:
    """R8: one positive per query (deterministic min-id choice instead of
    the reference's random.choice) + uniform negatives, drawn by hashing
    (query_id, k, seed) into [0, num_entities);
    loss = mean(-pos/T + logsumexp([pos, negs]/T)).

    Operates on any dense score frame (the reference computes cosine
    scores first — that is `LMPNN.eval_all_entity_scores`)."""
    pos = (
        answers.groupBy("query_id")
        .agg(F.min("t").alias("t"))
        .join(scores, ["query_id", "t"])
        .select("query_id", F.col("score").alias("pos"))
    )
    qids = scores.select("query_id").distinct()
    negs = (
        qids.crossJoin(
            scores.sparkSession.range(negative_sample_size).select(
                F.col("id").alias("k")
            )
        )
        # negative k of a query is a hash of (query_id, k, seed), so the
        # sample never depends on how the frame is partitioned
        .withColumn(
            "t",
            F.pmod(F.xxhash64("query_id", "k", F.lit(seed)), F.lit(num_entities)),
        )
        .join(scores, ["query_id", "t"])
        .select("query_id", F.col("score").alias("neg"))
    )
    both = pos.join(negs, "query_id")
    t = float(temperature)
    # numerically stable logsumexp over [pos, negs] per query: compute
    # the max in one grouped pass, shift-and-sum in a second
    m = both.groupBy("query_id").agg(
        F.greatest(F.max("neg"), F.first("pos")).alias("m")
    )
    shifted = both.join(m, "query_id")
    agg = shifted.groupBy("query_id", "pos", "m").agg(
        F.sum(F.exp(F.col("neg") / t - F.col("m") / t)).alias("s_negs")
    )
    out = agg.withColumn(
        "lse",
        F.col("m") / t
        + F.log(F.col("s_negs") + F.exp(F.col("pos") / t - F.col("m") / t)),
    ).withColumn("loss", -F.col("pos") / t + F.col("lse"))
    return out.agg(F.avg("loss").alias("l")).collect()[0]["l"]
