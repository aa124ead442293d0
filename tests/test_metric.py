"""Metric pipeline vs a NumPy re-implementation of the reference's
filtered-ranking protocol (metric.py:69-123)."""

import numpy as np
import pytest

from knovexlite_spark.reasoner.metric import answer_ranks, filtered_hard_ranks, mrr_hits

RNG = np.random.default_rng(11)
N = 20


def _np_filtered(scores, easy, hard):
    """Reference protocol with distinct scores (tie-free)."""
    ranked = np.argsort(-scores)
    rank_of = np.argsort(ranked)
    hard_r = rank_of[hard]
    easy_r = rank_of[easy] if len(easy) else np.array([], dtype=int)
    adj = []
    for hr in hard_r:
        a = hr - int(np.sum(easy_r < hr)) - int(np.sum(hard_r < hr))
        adj.append(a)
    return dict(zip(hard, adj))


@pytest.fixture()
def frames(spark):
    rows, easy_rows, hard_rows, expected = [], [], [], {}
    for qid in range(3):
        scores = RNG.permutation(N).astype(float)  # distinct
        ents = RNG.permutation(N)
        easy = ents[:3].tolist()
        hard = ents[3:7].tolist()
        for t in range(N):
            rows.append((qid, int(t), float(scores[t])))
        easy_rows += [(qid, int(t)) for t in easy]
        hard_rows += [(qid, int(t)) for t in hard]
        for t, r in _np_filtered(scores, np.array(easy), np.array(hard)).items():
            expected[(qid, int(t))] = int(r)
    sdf = spark.createDataFrame(rows, "query_id long, t long, score double")
    edf = spark.createDataFrame(easy_rows, "query_id long, t long")
    hdf = spark.createDataFrame(hard_rows, "query_id long, t long")
    return sdf, edf, hdf, expected


def test_answer_ranks_count_of_better(spark, frames):
    sdf, edf, hdf, _ = frames
    got = {(r["query_id"], r["t"]): r["rank"] for r in answer_ranks(sdf, hdf).collect()}
    pdf = sdf.toPandas()
    for (qid, t), rank in got.items():
        qs = pdf[pdf.query_id == qid]
        own = qs[qs.t == t].score.iloc[0]
        assert rank == int((qs.score > own).sum())


def test_filtered_protocol_matches_reference(spark, frames):
    sdf, edf, hdf, expected = frames
    got = {
        (r["query_id"], r["t"]): r["rank"]
        for r in filtered_hard_ranks(sdf, edf, hdf).collect()
    }
    assert got == expected


def test_mrr_hits_aggregation(spark):
    ranks = spark.createDataFrame(
        [(0, 1, 0), (0, 2, 9), (1, 3, 2)], "query_id long, t long, rank long"
    )
    qtypes = spark.createDataFrame([(0, "1p"), (1, "1p")], "query_id long, qtype string")
    row = mrr_hits(ranks, qtypes).collect()[0]
    # query 0: mrr = (1 + 0.1)/2 = .55, hit1 = .5, hit3 = .5
    # query 1: mrr = 1/3, hit1 = 0, hit3 = 1
    assert np.isclose(row["mrr"], (0.55 + 1 / 3) / 2)
    assert np.isclose(row["hit1"], 0.25)
    assert np.isclose(row["hit3"], 0.75)
    assert np.isclose(row["hit10"], (1.0 + 1.0) / 2)


def test_answer_ranks_average_tie_mode(spark):
    """'average' mode: rank = n_better + (n_ties-1)/2 — the expected
    rank under a random tie permutation (reference parity in
    expectation; see docstring divergence note)."""
    from knovexlite_spark.reasoner.metric import answer_ranks

    scores = spark.createDataFrame(
        [(0, t, s) for t, s in [(1, 5.0), (2, 5.0), (3, 5.0), (4, 9.0), (5, 1.0)]],
        schema="query_id long, t long, score double",
    )
    answers = spark.createDataFrame([(0, 1), (0, 4)], "query_id long, t long")
    best = {r["t"]: r["rank"] for r in answer_ranks(scores, answers).collect()}
    avg = {r["t"]: r["rank"] for r in answer_ranks(scores, answers, ties="average").collect()}
    assert best == {1: 1, 4: 0}
    assert avg == {1: 1 + (3 - 1) / 2.0, 4: 0.0}


def _np_filtered_best(scores, easy, hard):
    """Reference protocol by count-of-better, ties="best": raw rank =
    #strictly better scores; answer lists are sets."""
    easy, hard = np.unique(easy), np.unique(hard)
    raw = np.array([int(np.sum(scores > s)) for s in scores])
    return {
        int(h): int(raw[h] - np.sum(raw[easy] < raw[h]) - np.sum(raw[hard] < raw[h]))
        for h in hard
    }


def test_duplicate_answer_ids_count_once(spark):
    """Answer lists are sets: a repeated easy or hard id must not
    inflate any rank."""
    scores = 10.0 - np.arange(10)  # rank of t is t
    easy, hard = [1, 1], [3, 3, 6]
    sdf = spark.createDataFrame(
        [(0, t, float(s)) for t, s in enumerate(scores)], "query_id long, t long, score double"
    )
    edf = spark.createDataFrame([(0, t) for t in easy], "query_id long, t long")
    hdf = spark.createDataFrame([(0, t) for t in hard], "query_id long, t long")
    raw = sorted((r["t"], r["rank"]) for r in answer_ranks(sdf, hdf).collect())
    assert raw == [(3, 3), (6, 6)]
    got = {r["t"]: r["rank"] for r in filtered_hard_ranks(sdf, edf, hdf).collect()}
    want = _np_filtered(scores, np.unique(easy), np.unique(hard))
    assert got == {int(t): int(r) for t, r in want.items()} == {3: 2, 6: 4}


def test_filtered_ranks_with_ties_match_count_of_better(spark):
    """Heavily tied scores (5 levels over 20 entities), disjoint
    easy/hard sets: filtered ranks equal the count-of-better reference;
    "average" raw ranks equal #better + (#tied - 1)/2."""
    rng = np.random.default_rng(5)
    rows, easy_rows, hard_rows, want, want_avg = [], [], [], {}, {}
    for qid in range(4):
        scores = rng.integers(0, 5, size=N).astype(float)
        ents = rng.permutation(N)
        easy, hard = ents[:4], ents[4:10]
        rows += [(qid, t, float(scores[t])) for t in range(N)]
        easy_rows += [(qid, int(t)) for t in easy]
        hard_rows += [(qid, int(t)) for t in hard]
        for t, r in _np_filtered_best(scores, easy, hard).items():
            want[(qid, t)] = r
        for t in np.unique(hard):
            better, tied = np.sum(scores > scores[t]), np.sum(scores == scores[t])
            want_avg[(qid, int(t))] = float(better + (tied - 1) / 2.0)
    sdf = spark.createDataFrame(rows, "query_id long, t long, score double")
    edf = spark.createDataFrame(easy_rows, "query_id long, t long")
    hdf = spark.createDataFrame(hard_rows, "query_id long, t long")
    got = {(r["query_id"], r["t"]): r["rank"] for r in filtered_hard_ranks(sdf, edf, hdf).collect()}
    assert got == want
    got_avg = {
        (r["query_id"], r["t"]): r["rank"]
        for r in answer_ranks(sdf, hdf, ties="average").collect()
    }
    assert got_avg == want_avg
