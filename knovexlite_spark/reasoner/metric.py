"""Ranking metrics: rank, filtered rank, MRR / Hits@K (SURVEY §2.7
R10-R12).

Reference parity: /root/reference/knovex/utils/metric.py:69-123 —
double-argsort entity rankings (76-78), the filtered protocol that
subtracts better-ranked easy and better-ranked hard answers (96-109),
and per-query-type MRR / Hits@1/3/10 (111-123).

Cost: one sort of each query's N scores — a rank window partitioned by
query_id over a single scan of the score frame.  The scoring kernels
already emit a query's N scores from one task, so the per-query
partition is no larger than what they hold.  Answers then join the
ranked frame on (query_id, t), so only answer rows leave the window,
and the filtered protocol is a second window over those rows alone.
Answer lists are sets: duplicate ids count once per answer kind.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _answer_set(answers: DataFrame) -> DataFrame:
    return answers.select("query_id", "t").distinct()


def _ranked(scores: DataFrame, ties: str = "best") -> DataFrame:
    """(query_id, t, rank) for every scored entity."""
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc())
    n_better = F.rank().over(w) - 1
    if ties == "best":
        rank = n_better.cast("long")
    else:
        # an ordered window's default frame ends at the last tie, so
        # count(*) over it is n_better + n_tied
        rank = (n_better + F.count("*").over(w) - 1) / 2.0
    return scores.select("query_id", "t", rank.alias("rank"))


def answer_ranks(
    scores: DataFrame, answers: DataFrame, ties: str = "best"
) -> DataFrame:
    """0-based rank of each answer entity within its query's score list.

    scores:  (query_id, t, score)  dense per query
    answers: (query_id, t)
    returns: (query_id, t, rank)

    Tie handling — a DOCUMENTED divergence from the reference: its
    double-argsort (metric.py:76-78) gives tied entities distinct,
    permutation-dependent ranks; that order is an artifact of the sort,
    not a semantic.  Modes:

    - "best" (default): rank = #entities with strictly better score;
      tied entities share the best position (deterministic, integer).
    - "average": rank = #better + (#ties - 1)/2 — the expected rank of
      a tied entity under a random tie permutation, closest to the
      reference's average behavior over seeds (DOUBLE column).

    With heavily tied scores (e.g. the 0/1 FactOracle) downstream
    MRR/Hits differ from any single reference run under either mode;
    "average" matches the reference in expectation.
    """
    if ties not in ("best", "average"):
        raise ValueError(f"unknown tie mode {ties!r}")
    return _ranked(scores, ties).join(_answer_set(answers), ["query_id", "t"])


def filtered_hard_ranks(
    scores: DataFrame, easy: DataFrame, hard: DataFrame
) -> DataFrame:
    """R11 filtered protocol (metric.py:96-109): from each hard answer's
    rank subtract (a) the number of easy answers ranked strictly better
    and (b) the number of OTHER hard answers ranked strictly better.

    Both counts are one number: the query's answers (easy and hard,
    tagged) with a strictly smaller raw rank, i.e. their rank() - 1
    ordered by raw rank.

    easy/hard: (query_id, t). Returns (query_id, t, rank) adjusted.
    """
    tagged = _answer_set(easy).withColumn("hard", F.lit(False)).unionByName(
        _answer_set(hard).withColumn("hard", F.lit(True))
    )
    w = Window.partitionBy("query_id").orderBy("rank")
    return (
        _ranked(scores)
        .join(tagged, ["query_id", "t"])
        .withColumn("rank", F.col("rank") - (F.rank().over(w) - 1))
        .filter("hard")
        .select("query_id", "t", "rank")
    )


def mrr_hits(
    hard_ranks: DataFrame, query_types: DataFrame, ks: tuple[int, ...] = (1, 3, 10)
) -> DataFrame:
    """R12: per-query mean over hard answers, then mean per query type
    (the reference appends one value per query then averages,
    metric.py:111-123).

    query_types: (query_id, qtype). Returns one row per qtype with
    mrr / hit1 / hit3 / hit10.

    Tie caveat (see answer_ranks): under heavily tied scores these
    aggregates depend on the tie mode used upstream and will not match
    a single reference run bit-for-bit.  "best" is deterministic;
    "average" yields the EXPECTED RANK per answer, but aggregates are
    convex transforms of the rank, so MRR/Hits computed from averaged
    ranks are NOT the expectation of MRR/Hits over tie permutations
    (1/(1+E[r]) != E[1/(1+r)]) — treat them as a tie-stable summary,
    not an unbiased estimate (round-2 advisor finding).
    """
    per_query = hard_ranks.groupBy("query_id").agg(
        F.avg(1.0 / (1.0 + F.col("rank"))).alias("mrr"),
        *[
            F.avg((F.col("rank") < k).cast("double")).alias(f"hit{k}")
            for k in ks
        ],
    )
    return (
        per_query.join(query_types, "query_id")
        .groupBy("qtype")
        .agg(
            F.avg("mrr").alias("mrr"),
            *[F.avg(f"hit{k}").alias(f"hit{k}") for k in ks],
        )
    )
