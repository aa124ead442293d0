"""Byte-pair encoding: a REAL trainable/applicable subword tokenizer
for the training-data pipeline (the `bpe_token_count` regex in
ops/text.py is the cheap scan-time ESTIMATE; this module is the actual
encoder a packing/counting pipeline runs when token budgets must match
the model's tokenizer).

Scale shape — the part that matters at 100 TB:

- ``word_frequencies``: the ONLY corpus-sized work.  One pre-tokenize
  explode + one combinable groupBy; output is vocabulary-sized (unique
  pre-tokens), not corpus-sized.
- ``learn_bpe_merges``: classic BPE training over the word-frequency
  table ON THE DRIVER — deliberately.  The table is vocab-sized (10^5-
  10^6 entries for natural language, independent of corpus bytes), and
  merge learning is an inherently sequential loop (merge k+1 depends
  on the table state after merge k), so distributing it buys nothing
  and costs a shuffle per merge.  This is the standard production
  split: corpus pass distributed, merge loop local.
- ``bpe_encode``: distributed apply via an Arrow-batched kernel with
  the merge ranks broadcast.  BPE's merge loop is irreducibly
  iterative per word — the documented Python-kernel exception (same
  category as the KGE scoring kernels); everything around it (pre-
  tokenization, batching) stays columnar.

Character-level BPE (symbols start as unicode chars, '</w>' marks
word ends) — the classic Sennrich formulation; byte-level remapping
(GPT-2) is an input transform away and changes nothing structural.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from knovexlite_spark.ops.text import BPE_TOKEN_RE

END = "</w>"


def word_frequencies(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the corpus, using the GPT-2-style pre-tokenizer
    regex (so BPE merges can never cross a pre-token boundary).  The
    one corpus-sized job in BPE training: explode + combinable count."""
    return (
        df.select(
            F.explode(
                F.regexp_extract_all(F.col(text_col), F.lit(BPE_TOKEN_RE), F.lit(0))
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
    )


def learn_bpe_merges(
    word_freqs: DataFrame | dict[str, int], num_merges: int
) -> list[tuple[str, str]]:
    """Classic BPE merge learning (Sennrich et al. 2016, public
    algorithm): repeatedly merge the most frequent adjacent symbol
    pair.  Runs on the driver over the vocab-sized frequency table —
    see module docstring for why that is the scalable split.  Ties
    break lexicographically for determinism (engine-independent).

    INCREMENTAL (round 15): the naive loop re-counts every pair in
    every word per merge — O(merges * vocab * word_len), minutes at a
    realistic 10^4-10^5-word vocabulary and 8-32k merges.  Here pair
    counts update incrementally: an inverted index pair -> words
    containing it bounds each merge's work to the words the merged
    pair actually occurs in (subtract their old pair counts, rewrite,
    add the new) — the standard production trainer shape.  Output is
    IDENTICAL to the naive formulation merge-for-merge (tie order
    included; pinned in tests against a naive reimplementation).

    Accepts the DataFrame from ``word_frequencies`` (collected here —
    vocab-sized) or a plain dict for tests."""
    if isinstance(word_freqs, DataFrame):
        freqs = {r["word"]: int(r["freq"]) for r in word_freqs.collect()}
    else:
        freqs = dict(word_freqs)
    # symbol sequences per word; '</w>' marks the word end so merges
    # can distinguish suffix from interior occurrences.  Distinct words
    # always map to distinct initial sequences, so a list is enough.
    seqs: list[list[str]] = []
    wfreq: list[int] = []
    for w, f in freqs.items():
        seqs.append(list(w) + [END])
        wfreq.append(f)
    pair_counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for wi, seq in enumerate(seqs):
        f = wfreq[wi]
        for a, b in zip(seq, seq[1:]):
            p = (a, b)
            pair_counts[p] = pair_counts.get(p, 0) + f
            where.setdefault(p, set()).add(wi)
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        if not pair_counts:
            break
        # deterministic: max freq, then lexicographically SMALLEST pair
        top = max(pair_counts.values())
        if top < 2:
            break  # nothing left worth merging
        best = min(p for p, c in pair_counts.items() if c == top)
        merges.append(best)
        merged = best[0] + best[1]
        for wi in sorted(where.get(best, ())):
            seq = seqs[wi]
            f = wfreq[wi]
            # subtract this word's old pair contributions (a pair can
            # occur several times in one word — "aaa" has (a,a) twice —
            # so the where entry may already be gone on a repeat)
            for a, b in zip(seq, seq[1:]):
                p = (a, b)
                c = pair_counts[p] - f
                if c:
                    pair_counts[p] = c
                else:
                    del pair_counts[p]
                s = where.get(p)
                if s is not None:
                    s.discard(wi)
                    if not s:
                        del where[p]
            out = []
            i = 0
            while i < len(seq):
                if i + 1 < len(seq) and (seq[i], seq[i + 1]) == best:
                    out.append(merged)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            seqs[wi] = out
            # add the rewritten word's pair contributions back
            for a, b in zip(out, out[1:]):
                p = (a, b)
                pair_counts[p] = pair_counts.get(p, 0) + f
                where.setdefault(p, set()).add(wi)
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply merges to one pre-token: repeatedly merge the best-ranked
    adjacent pair (lowest rank number = learned earliest)."""
    sym = list(word) + [END]
    while len(sym) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        sym[best_i : best_i + 2] = [sym[best_i] + sym[best_i + 1]]
    if sym and sym[-1] == END:
        sym = sym[:-1]
    elif sym and sym[-1].endswith(END):
        sym = sym[:-1] + [sym[-1][: -len(END)]]
    return sym


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    cache_size: int = 200_000,
    counters: bool = False,
) -> DataFrame:
    """Distributed BPE encode: (doc_id, tokens array<string>, n_tokens).
    The merge ranks broadcast (vocab-sized); documents stream through
    an Arrow-batched kernel.  Surface contract (pinned by tests):
    concatenating a word's tokens reproduces the word, and merges
    never cross pre-token boundaries.

    ``cache_size`` bounds the per-task word->tokens cache (insert-only
    up to the cap; at a natural-language vocabulary the hot zipf head
    fits long before the cap, and a cap SMALLER than the vocabulary
    keeps the per-new-word merge loop on the measured path).
    ``counters=True`` appends per-document measurement columns
    ``n_words`` (pre-tokens seen) and ``n_miss`` (words that ran the
    merge loop rather than hitting the cache) — aggregate for corpus
    hit rate; misses depend on in-partition document order, so the
    columns are a measurement surface, not a semantic one (default
    off; the token output is identical either way)."""
    import re
    from typing import Iterator

    import pandas as pd

    spark = df.sparkSession
    b_ranks = spark.sparkContext.broadcast(
        {tuple(p): i for i, p in enumerate(merges)}
    )
    pat = re.compile(BPE_TOKEN_RE)
    cap = int(cache_size)
    with_counters = bool(counters)

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ranks = b_ranks.value
        cache: dict[str, list[str]] = {}
        for pdf in it:
            ids, toks, ns, nws, nms = [], [], [], [], []
            for doc, text in zip(pdf["doc"], pdf["txt"]):
                out: list[str] = []
                nw = nm = 0
                for w in pat.findall(str(text)):
                    nw += 1
                    enc = cache.get(w)
                    if enc is None:
                        nm += 1
                        enc = _encode_word(w, ranks)
                        if len(cache) < cap:  # bound kernel memory
                            cache[w] = enc
                    out.extend(enc)
                ids.append(doc)
                toks.append(out)
                ns.append(len(out))
                nws.append(nw)
                nms.append(nm)
            cols = {"doc": ids, "tokens": toks, "n": ns}
            if with_counters:
                cols["nw"] = nws
                cols["nm"] = nms
            yield pd.DataFrame(cols)

    schema = "doc long, tokens array<string>, n long"
    sel = [
        F.col("doc").alias(id_col),
        F.col("tokens"),
        F.col("n").alias("n_tokens"),
    ]
    if with_counters:
        schema += ", nw long, nm long"
        sel += [F.col("nw").alias("n_words"), F.col("nm").alias("n_miss")]
    return (
        df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("txt"))
        .mapInPandas(run, schema)
        .select(*sel)
    )


def synthetic_corpus(
    spark,
    n_docs: int,
    words_per_doc: int = 400,
    vocab_size: int = 30_000,
    seed: int = 7,
    parts: int = 32,
) -> DataFrame:
    """Deterministic REALISTIC-VOCABULARY corpus for tokenizer
    measurement (round-14 verdict: the documents fixture has a 31-word
    template vocabulary, so any encode over it times the cache-hit
    path only).  A ``vocab_size`` vocabulary of pronounceable
    syllable pseudo-words (driver-built from ``seed`` — vocab-sized,
    like the merge table) is sampled zipf-ish per word slot: rank =
    floor(V * u^4) with u = xxhash64(seed, slot)/2^64 JVM-side, giving
    the head/tail skew a natural corpus has (a few hot words, a long
    tail of rare ones — exactly what makes a word cache effective AND
    leaves real misses).  Docs assemble distributed: range ->
    broadcast-join the (rank, word) table -> groupBy(doc) concat; no
    driver-side text.  Output: (doc_id, text)."""
    import random

    rng = random.Random(seed)
    syll = [
        c + v
        for c in "b c d f g h j k l m n p r s t v w z br st tr ch".split()
        for v in "a e i o u ai ou".split()
    ]
    vocab: list[str] = []
    seen = set()
    while len(vocab) < vocab_size:
        w = "".join(rng.choice(syll) for _ in range(rng.randint(1, 4)))
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    vdf = F.broadcast(
        spark.createDataFrame(
            list(enumerate(vocab)), "rank long, word string"
        )
    )
    slots = spark.range(
        0, n_docs * words_per_doc, numPartitions=parts
    ).select(
        (F.col("id") / words_per_doc).cast("long").alias("doc_id"),
        F.col("id").alias("slot"),
    )
    # u in [0, 1) from the slot hash; rank = floor(V * u^4) concentrates
    # mass on low ranks (zipf-ish head) while covering the full tail
    u = (
        F.shiftrightunsigned(F.xxhash64(F.lit(seed), F.col("slot")), 11)
        / F.lit(float(1 << 53))
    )
    ranked = slots.select(
        "doc_id",
        "slot",
        F.floor(F.lit(float(vocab_size)) * F.pow(u, F.lit(4.0)))
        .cast("long")
        .alias("rank"),
    )
    return (
        ranked.join(vdf, "rank")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ", F.sort_array(F.collect_list(F.struct("slot", "word")))
                .getField("word")
            ).alias("text")
        )
    )


def bpe_save_merges(
    spark,
    merges: list[tuple[str, str]],
    path: str,
    params: dict | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a learned merge table (the TOKENIZER — train once,
    encode every day's corpus with the same table; a retrained table
    silently changes every downstream token count, so the table must
    round-trip exactly).  Stored through the sketch persistence layer
    (family ``bpe``: parquet + embedded family/version/params
    metadata, loud validation on reload) as ``(rank, a, b)`` rows —
    rank is the merge's position, which IS its priority in the
    encoder."""
    from knovexlite_spark.ops.persist import sketch_save

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank long, a string, b string",
    )
    sketch_save(df, path, "bpe", params=params, mode=mode)


def bpe_load_merges(spark, path: str) -> tuple[list[tuple[str, str]], dict]:
    """Reload a persisted merge table: returns ``(merges, meta)`` with
    the merges in rank order — byte-identical to what was saved
    (pinned: encode(load(save(merges))) == encode(merges) token for
    token).  Raises loudly via ``sketch_load`` on non-sketch parquet,
    family mismatch, mixed or future-version saves; additionally
    raises on duplicate or non-contiguous ranks (a partial/corrupted
    write would otherwise silently reorder merge priorities)."""
    from knovexlite_spark.ops.persist import sketch_load

    df, meta = sketch_load(spark, path, expect_family="bpe")
    rows = df.collect()  # vocab-sized
    by_rank = {}
    for r in rows:
        if r["rank"] in by_rank:
            raise ValueError(
                f"{path} holds duplicate merge rank {r['rank']} — "
                f"refusing a corrupted merge table"
            )
        by_rank[r["rank"]] = (r["a"], r["b"])
    if sorted(by_rank) != list(range(len(by_rank))):
        raise ValueError(
            f"{path} merge ranks are not contiguous 0..{len(by_rank) - 1} "
            f"— refusing a partial merge table"
        )
    return [by_rank[i] for i in range(len(by_rank))], meta
