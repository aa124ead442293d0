"""QAA (query-answer-answer) dataset source + end-to-end evaluation.

Reference parity: S3 QAA JSON source
(/root/reference/knovex/utils/dataloader.py:109-125) — JSON layout
``{lstr: [[bindings, easy_answers, hard_answers], ...]}`` — and the
full entry-point-1 lifecycle (SURVEY §3): bind -> evaluate -> rank ->
filtered metrics.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from knovexlite_spark import schemas


def load_qaa_json(spark: SparkSession, path: str) -> DataFrame:
    """QAA files are small (query metadata, not data) — parsed on the
    driver, handed to Spark as a DataFrame keyed by query_id."""
    with open(path) as f:
        obj = json.load(f)
    rows = []
    qid = 0
    for lstr, instances in obj.items():
        for bindings, easy, hard in instances:
            rows.append(
                (qid, lstr, {k: int(v) for k, v in bindings.items()},
                 [int(x) for x in easy], [int(x) for x in hard])
            )
            qid += 1
    return spark.createDataFrame(rows, schema=schemas.QAA)


def qaa_answer_frames(qaa: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Explode a QAA frame into (easy, hard, query_types) long frames for
    the metric pipeline."""
    easy = qaa.select("query_id", F.explode("easy_answers").alias("t"))
    hard = qaa.select("query_id", F.explode("hard_answers").alias("t"))
    qtypes = qaa.select("query_id", F.col("lstr").alias("qtype"))
    return easy, hard, qtypes


def evaluate_qaa(spark: SparkSession, qaa: DataFrame, reasoner) -> DataFrame:
    """Entry point 1 (SURVEY §3): score every QAA instance with the
    reasoner, rank, apply the filtered protocol, aggregate MRR/Hits per
    query type.  The reasoner must expose
    ``eval_batch(spark, lstr, instances) -> (query_id, t, score)``,
    dense over all entities for every instance.

    Query SHAPES are driver-looped (the reference batches per disjunct
    shape, dataloader.py:64-102); every instance of a shape is
    evaluated by ONE ``eval_batch`` call (``CQDBeam``'s is one kernel
    stage over the shape's instance rows).  ``eval_batch`` is
    REQUIRED: a per-instance fallback would be a driver-side loop over
    collect()ed bindings — the scale-unsafe shape every other operator
    in this repo avoids — so its absence raises instead.  ``CQDBeam``
    implements it; ``LMPNN`` does not yet (its scores come from
    ``forward`` + ``scores_from_readout`` and feed ``filtered_hard_ranks``
    directly).  The union of the shapes' score frames is read once by
    the ranking, so each instance's scores are computed once.
    """
    from knovexlite_spark.reasoner.metric import filtered_hard_ranks, mrr_hits

    if not hasattr(reasoner, "eval_batch"):
        raise TypeError(
            f"{type(reasoner).__name__} has no eval_batch(spark, lstr, "
            "instances); per-instance driver-loop evaluation is not "
            "supported (it collects bindings and serializes one Spark "
            "job per QAA instance — implement eval_batch, batching all "
            "instances of a shape through one recursion)"
        )
    scored = None
    shapes = [r["lstr"] for r in qaa.select("lstr").distinct().collect()]
    for lstr in shapes:
        inst = qaa.filter(F.col("lstr") == lstr).select("query_id", "bindings")
        s = reasoner.eval_batch(spark, lstr, inst)
        scored = s if scored is None else scored.unionByName(s)
    easy, hard, qtypes = qaa_answer_frames(qaa)
    ranks = filtered_hard_ranks(scored, easy, hard)
    return mrr_hits(ranks, qtypes)
