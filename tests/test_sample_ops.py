"""Sampling / splitting / mixing / packing operators.

The hash-driven operators are checked against an independent Python
replay of the md5-slice decision (the same portability argument the
MinHash oracle uses), plus the structural properties that make them
safe in a training pipeline: determinism, disjointness, assignment
stability under corpus growth, and packing capacity bounds."""

import hashlib

import pytest
from pyspark.sql import functions as F

from knovexlite_spark.engine import Engine
from knovexlite_spark.ops.sample import (
    hash_fraction,
    hash_split,
    mix_sources,
    pack_chunked,
    pack_greedy,
    stratified_sample,
)
from tests.conftest import SF_SMALL


def _frac(key, salt=""):
    """Python replay of hash_fraction."""
    h = hashlib.md5((salt + str(key)).encode()).hexdigest()
    return int(h[:8], 16) / float(1 << 32)


def _docs(spark):
    return Engine.for_dir(spark, SF_SMALL).table("documents").select("doc_id", "text")


def test_hash_fraction_matches_python_replay(spark):
    rows = (
        spark.range(0, 500)
        .select(F.col("id"), hash_fraction(F.col("id"), "s1").alias("f"))
        .collect()
    )
    for r in rows:
        assert r["f"] == pytest.approx(_frac(r["id"], "s1"), abs=1e-12)


def test_hash_split_is_disjoint_exhaustive_and_replayable(spark):
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = {r["doc_id"]: r["split"] for r in hash_split(_docs(spark), w).collect()}
    docs = [r["doc_id"] for r in _docs(spark).select("doc_id").collect()]
    assert set(out) == set(docs)  # exhaustive, one split per doc
    for d in docs:
        f = _frac(d, "split")
        expect = "train" if f < 0.8 else ("val" if f < 0.9 else "test")
        assert out[d] == expect
    # proportions land near the weights on 500 docs
    n = len(docs)
    assert 0.7 < sum(1 for s in out.values() if s == "train") / n < 0.9


def test_hash_split_assignment_is_stable_under_corpus_growth(spark):
    """Adding documents must not flip existing assignments — the
    property that keeps a held-out set leak-free as the corpus grows."""
    w = {"train": 0.9, "val": 0.1}
    small = _docs(spark).filter(F.col("doc_id") < 100)
    before = {r["doc_id"]: r["split"] for r in hash_split(small, w).collect()}
    after = {
        r["doc_id"]: r["split"]
        for r in hash_split(_docs(spark), w).collect()
        if r["doc_id"] < 100
    }
    assert before == after


def test_stratified_sample_global_and_per_stratum(spark):
    docs = hash_split(_docs(spark), {"a": 0.5, "b": 0.5}, salt="strata")
    kept = stratified_sample(docs, 0.3, id_col="doc_id", salt="s")
    ids = {r["doc_id"] for r in kept.collect()}
    for d in (r["doc_id"] for r in docs.collect()):
        assert (d in ids) == (_frac(d, "s") < 0.3)
    # per-stratum rates; stratum absent from the map is dropped
    per = stratified_sample(
        docs, {"a": 1.0}, strata_col="split", id_col="doc_id", salt="s"
    )
    got = per.groupBy("split").count().collect()
    assert {r["split"] for r in got} == {"a"}
    full_a = docs.filter(F.col("split") == "a").count()
    assert got[0]["count"] == full_a


def test_pack_chunked_contiguous_bins_and_straddle_bound(spark):
    from knovexlite_spark.ops.text import token_count

    docs = _docs(spark).select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    budget = 512
    packed = pack_chunked(docs, budget=budget).orderBy("doc_id").collect()
    max_doc = max(r["n_tokens"] for r in packed)
    # python replay: exclusive prefix sum in doc_id order
    run = 0
    sums: dict[int, int] = {}
    for r in packed:
        assert r["bin"] == run // budget
        run += r["n_tokens"]
        sums[r["bin"]] = sums.get(r["bin"], 0) + r["n_tokens"]
    # no bin exceeds budget + one straddling document, and every bin
    # except the last is within one straddle-overhang of full (a bin
    # following a straddling doc starts late by the overhang)
    last = max(sums)
    for b, s in sums.items():
        assert s < budget + max_doc
        if b != last:
            assert s > budget - max_doc
    # sharding keeps the contract per (shard) and touches every doc once
    sharded = pack_chunked(docs, budget=budget, num_shards=4).collect()
    assert len(sharded) == len(packed)
    assert {r["shard"] for r in sharded} <= {0, 1, 2, 3}


def test_pack_greedy_capacity_exact_and_deterministic(spark):
    from knovexlite_spark.ops.text import token_count

    docs = _docs(spark).select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    budget = 512
    a = pack_greedy(docs, budget=budget).collect()
    b = pack_greedy(docs, budget=budget).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # deterministic
    sums: dict[int, int] = {}
    sizes: dict[int, int] = {}
    for r in a:
        sums[r["bin"]] = sums.get(r["bin"], 0) + r["n_tokens"]
        sizes[r["bin"]] = sizes.get(r["bin"], 0) + 1
    for bin_id, s in sums.items():
        # capacity-exact: only a single oversized doc may exceed budget
        assert s <= budget or sizes[bin_id] == 1
    assert len(a) == docs.count()  # every doc assigned exactly once
    assert len({r["doc_id"] for r in a}) == len(a)
    # greedy packs at least as tight as chunked (fewer or equal bins)
    chunked_bins = pack_chunked(docs, budget=budget).agg(
        F.countDistinct("bin")
    ).first()[0]
    assert len(sums) <= chunked_bins


def test_pack_greedy_respects_strata(spark):
    rows = [(i, 100 + i % 3, "s" + str(i % 2)) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long, src string")
    packed = pack_greedy(df, budget=250, strata_cols=["src"]).collect()
    # bins never mix strata (bin ids are per-stratum)
    seen = {}
    for r in packed:
        seen.setdefault((r["src"], r["bin"]), set()).add(r["doc_id"])
    ids = {d for v in seen.values() for d in v}
    assert ids == set(range(20))


def test_mix_sources_matches_weights_and_subsets(spark):
    docs = _docs(spark)
    a = docs.filter(F.col("doc_id") % 2 == 0)  # ~250
    b = docs.filter(F.col("doc_id") % 2 == 1)  # ~250
    out = mix_sources({"a": a, "b": b}, {"a": 3.0, "b": 1.0})
    got = {r["source"]: r["count"] for r in out.groupBy("source").count().collect()}
    # 'a' is the binding source (kept ~whole); b sampled to ~1/3 of a
    assert got["a"] / a.count() > 0.95
    assert got["b"] / got["a"] == pytest.approx(1 / 3, abs=0.15)
    # sampled rows are true subsets of their sources
    assert out.filter(F.col("source") == "a").join(
        a, "doc_id", "left_anti"
    ).count() == 0
    # deterministic
    again = {r["source"]: r["count"] for r in out.groupBy("source").count().collect()}
    assert got == again


def test_null_ids_raise_loudly(spark):
    """A NULL id must raise, not silently land every null row in the
    last split (hash_split) while stratified_sample drops them — the
    two operators would disagree on the same bad input."""
    df = spark.createDataFrame(
        [(1, "a"), (None, "b")], "doc_id long, text string"
    )
    for op in (
        lambda d: hash_split(d, {"train": 0.9, "val": 0.1}),
        lambda d: stratified_sample(d, 0.5),
    ):
        with pytest.raises(Exception, match="NULL key"):
            op(df).collect()


def test_temperature_weights_upsample_low_resource(spark):
    from knovexlite_spark.ops.sample import temperature_weights

    counts = {"en": 1_000_000, "sw": 1_000}
    natural = temperature_weights(counts, alpha=1.0)
    assert natural["en"] == pytest.approx(1_000_000 / 1_001_000)
    uniform = temperature_weights(counts, alpha=0.0)
    assert uniform["en"] == pytest.approx(0.5) == pytest.approx(uniform["sw"])
    t = temperature_weights(counts, alpha=0.3)
    # low-resource share rises monotonically as alpha falls
    assert natural["sw"] < t["sw"] < uniform["sw"]
    assert sum(t.values()) == pytest.approx(1.0)
    with pytest.raises(ValueError):
        temperature_weights(counts, alpha=1.5)


def test_selection_ops_run_on_streams(spark):
    """The hash-selection operators are stateless column predicates, so
    they compose into a Structured Streaming ingest pipeline unchanged
    (no joins, no state) — the curation front-end (quality filter ->
    split) runs AT ingest.  Stream output must equal the batch run."""
    from knovexlite_spark.ops.text import token_count
    from knovexlite_spark.streaming.events import run_to_memory

    batch = _docs(spark)
    # documents.parquet is a single FILE; file streams need a directory
    # source, so stream the sf dir glob-filtered to it (the layout
    # lesson read_events_stream documents)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(SF_SMALL)
        .select("doc_id", "text")
    )
    w = {"train": 0.9, "val": 0.1}

    def front_end(df):
        return hash_split(
            df.filter(token_count(F.col("text")) >= 10), w
        ).select("doc_id", "split")

    run_to_memory(front_end(stream), "curate_stream", mode="append")
    got = {
        (r["doc_id"], r["split"])
        for r in spark.sql("SELECT * FROM curate_stream").collect()
    }
    want = {(r["doc_id"], r["split"]) for r in front_end(batch).collect()}
    assert got == want and got


def test_hash_ops_are_map_only(spark):
    """The selection operators are pure column predicates: zero
    Exchange nodes — they fuse into the scan at 100 TB."""
    docs = _docs(spark)
    for df in (
        hash_split(docs, {"train": 0.9, "val": 0.1}),
        stratified_sample(docs, 0.25),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


def test_pack_chunked_null_ids_raise_even_unsharded(spark):
    """ADVICE round 5: the keyed_hash_long NULL-id contract must hold
    at num_shards=1 too (the old fast path skipped the hash and let
    NULL ids sort silently into the window)."""
    docs = spark.createDataFrame(
        [(1, 10), (None, 20)], "doc_id long, n_tokens long"
    )
    with pytest.raises(Exception, match="NULL key"):
        pack_chunked(docs, budget=64).collect()


def test_pack_chunked_bin_offsets_reconstruct_sequences(spark):
    """bin_offset is each document's token start WITHIN its bin: per
    bin, offsets start at 0 (except the inherited straddle tail),
    increase by the previous doc's tokens, and never disagree with an
    independent Python replay of the running-total chunking."""
    rows = [(i, 100 + (i * 37) % 400) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    budget = 512
    got = pack_chunked(docs, budget=budget).orderBy("doc_id").collect()

    prefix = 0
    for r in got:  # single stratum+shard: id order IS window order
        want_bin = prefix // budget
        want_off = prefix - want_bin * budget
        assert (r["bin"], r["bin_offset"]) == (want_bin, want_off), r["doc_id"]
        prefix += r["n_tokens"]
    # first doc of the window starts bin 0 offset 0
    assert (got[0]["bin"], got[0]["bin_offset"]) == (0, 0)


# ------------------------------------------------ per-domain cap (round 7)


def test_cap_per_domain_exact_matches_python_reference(spark):
    """Exact mode: per domain, keep exactly max_docs docs chosen by the
    deterministic (md5-hash, id) rank — replayed by a pure-Python
    reference over the same hash family."""
    import hashlib

    from knovexlite_spark.ops.sample import cap_per_domain

    rows = []
    for i in range(60):
        dom = f"site{i % 3}.example.com"
        rows.append((i, f"see http://{dom}/page{i} for details doc {i}"))
    rows += [(100 + i, f"plain doc {i} no links") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["domain"])
        for r in cap_per_domain(df, max_docs=7, salt="s").collect()
    }

    def h(i):
        return int(hashlib.md5(f"s{i}".encode()).hexdigest()[:8], 16)

    want = set()
    for d in range(3):
        ids = sorted((i for i in range(60) if i % 3 == d), key=lambda i: (h(i), i))
        want |= {(i, f"site{d}.example.com") for i in ids[:7]}
    want |= {(100 + i, "") for i in range(5)}  # no-URL docs never capped
    assert got == want
    # determinism across reruns / partitionings
    again = {
        (r["doc_id"], r["domain"])
        for r in cap_per_domain(df.repartition(7), max_docs=7, salt="s").collect()
    }
    assert again == got


def test_cap_per_domain_hash_mode_rate_and_shape(spark):
    """Hash mode: no window in the plan (skew-free), keep decision is
    hash_fraction < max_docs/n_docs — expected-count cap, and domains
    under the cap are kept in full (rate clamps to 1)."""
    from knovexlite_spark.ops.sample import cap_per_domain

    rows = [
        (i, f"http://big.example.com/x{i} filler words") for i in range(400)
    ] + [(1000 + i, f"http://small.example.com/y{i} words") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = cap_per_domain(df, max_docs=100, exact=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    got = out.groupBy("domain").count().collect()
    counts = {r["domain"]: r["count"] for r in got}
    assert counts["small.example.com"] == 5  # rate 1: fully kept
    # binomial(400, 0.25): expect ~100, loose 4-sigma bounds
    assert 60 <= counts["big.example.com"] <= 140


def test_cap_per_domain_metadata_column_mode(spark):
    """domain_col= uses an existing metadata column (no URL_RE scan);
    NULL/'' domains pass through uncapped like no-URL docs."""
    from knovexlite_spark.ops.sample import cap_per_domain

    rows = [(i, f"text {i}", "big.com" if i < 30 else None) for i in range(35)]
    df = spark.createDataFrame(rows, "doc_id long, text string, src string")
    out = cap_per_domain(df, max_docs=10, domain_col="src").collect()
    by_dom = {}
    for r in out:
        by_dom.setdefault(r["domain"], []).append(r["doc_id"])
    assert len(by_dom["big.com"]) == 10
    assert len(by_dom[""]) == 5  # NULL-domain docs all kept
    # deterministic across reruns
    again = {r["doc_id"] for r in cap_per_domain(df, max_docs=10, domain_col="src").collect()}
    assert again == {r["doc_id"] for r in out}


def test_cap_per_domain_null_text_passes_through(spark):
    """Review finding: a NULL text yielded a NULL domain which matched
    NEITHER branch filter — the row silently vanished.  NULL-text docs
    must pass through uncapped like no-URL docs."""
    from knovexlite_spark.ops.sample import cap_per_domain

    rows = [(1, "http://x.com/a words"), (2, None), (3, "plain")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["domain"] for r in cap_per_domain(df, max_docs=10).collect()}
    assert got == {1: "x.com", 2: "", 3: ""}
