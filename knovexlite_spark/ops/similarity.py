"""Similarity search over embedding columns (ARRAY<FLOAT>).

Three tiers, matching how an ANN index is actually operated at scale:

- brute-force cosine top-k — the exactness baseline.  The dot product
  is a JVM higher-order expression (zip_with + aggregate) when the query
  side is a column, or a broadcast NumPy mat-mul kernel when ranking a
  small query set against the whole corpus.
- LSH (random hyperplanes) — sign-bit signatures bucket the corpus; the
  pair search becomes an equi-join on (band, bucket).  Sub-quadratic,
  tunable recall.
- IVF — coarse centroids (sampled + refined) partition the corpus;
  queries probe the nearest n_probe cells only.  This is the
  partition-pruning strategy: at 100 TB the corpus is written
  partitioned by cell id, and a probe reads only its cells.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product over two ARRAY<FLOAT> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|x| / 127,
    qvec[i] = round(x[i] / scale) in [-127, 127] — the standard 4x
    storage/bandwidth reduction for embedding tables (corpora here;
    the KGE scoring kernel broadcasts float32 and shards the entity
    axis above its ceiling instead, SCALE.md neural-scoring section).

    Pure JVM higher-order expressions (no UDF): one aggregate for the
    per-row max-abs, one transform for the rounding.  Output: (id,
    scale DOUBLE, qvec ARRAY<TINYINT>); all-zero vectors get scale 0
    and an all-zero qvec (dequantizing reproduces them exactly)."""
    v = F.col(vec_col)
    amax = F.aggregate(
        F.transform(v, lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    scale = amax / F.lit(127.0)
    return df.select(
        F.col(id_col),
        scale.alias("scale"),
        F.when(
            amax == 0.0,
            F.transform(v, lambda x: F.lit(0).cast("tinyint")),
        )
        .otherwise(
            F.transform(
                v,
                lambda x: F.round(x.cast("double") / scale).cast("tinyint"),
            )
        )
        .alias("qvec"),
    )


def dequantize(qvec: Column, scale: Column) -> Column:
    """Inverse of quantize_embeddings: float array scale * qvec.  The
    reconstruction error per component is <= scale/2 = max|x|/254, so
    cosine error is O(sqrt(d)/127) — small enough to preserve top-k
    ordering except at near-ties (recall pinned by test)."""
    return F.transform(qvec, lambda q: (q.cast("double") * scale).cast("float"))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "query_id",
    q_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, dot products JVM-side, per-query top-k window.  One corpus
    scan regardless of query count."""
    joined = corpus.crossJoin(F.broadcast(queries))
    scored = joined.select(
        F.col(q_id_col).alias("query_id"),
        F.col(id_col).alias("neighbor_id"),
        cosine(F.col(q_vec_col), F.col(vec_col)).alias("cos"),
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos", F.col("rn").cast("long").alias("rn"))
    )


def brute_force_topk_kernel(
    corpus: DataFrame,
    query_mat: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Same semantics, kernel form: the query matrix is broadcast and the
    [batch x queries] cosine block stays inside NumPy; only per-partition
    top-k rows exit, then a global top-k merge.  Use when the query set
    is big enough that a crossJoin row-blowup would hurt."""
    spark = corpus.sparkSession
    qn = query_mat / np.maximum(np.linalg.norm(query_mat, axis=1, keepdims=True), 1e-12)
    b_q = spark.sparkContext.broadcast(qn.astype(np.float32))

    def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q = b_q.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float32)
            mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            cos = mat @ q.T  # [rows, Q]
            kk = min(k, cos.shape[0])
            top = np.argpartition(-cos, kk - 1, axis=0)[:kk]  # [k, Q]
            out = []
            ids = pdf[id_col].to_numpy()
            for qi in range(q.shape[0]):
                sel = top[:, qi]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qi,
                            "neighbor_id": ids[sel],
                            "cos": cos[sel, qi].astype(np.float64),
                        }
                    )
                )
            yield pd.concat(out)

    partial = corpus.mapInPandas(score, schema="query_id long, neighbor_id long, cos double")
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        partial.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos", F.col("rn").cast("long").alias("rn"))
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).astype(np.float32)


def lsh_signatures(
    df: DataFrame,
    planes: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-bit signature per vector: bit i = (v . plane_i) >= 0, packed
    into a long.  Column expressions over the plane list (dims are
    model-sized, so the unrolled expression stays small)."""
    sig = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        d = sum(
            (F.element_at(F.col(vec_col), j + 1).cast("double") * float(p[j]) for j in range(len(p))),
            F.lit(0.0),
        )
        sig = sig + F.when(d >= 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0))
    return df.select(F.col(id_col).alias("doc"), sig.alias("sig"))


def lsh_candidates(
    signatures: DataFrame, n_planes: int, band_bits: int = 4
) -> DataFrame:
    """Band the signature; a pair is a candidate iff some band matches."""
    bands = []
    for b in range(0, n_planes, band_bits):
        bands.append(
            signatures.select(
                "doc",
                F.lit(b).alias("band"),
                F.shiftright(F.col("sig"), b)
                .bitwiseAND(F.lit((1 << band_bits) - 1))
                .alias("bucket"),
            )
        )
    buckets = bands[0]
    for b in bands[1:]:
        buckets = buckets.unionByName(b)
    return (
        buckets.withColumnsRenamed({"doc": "doc_a"})
        .join(buckets.withColumnsRenamed({"doc": "doc_b"}), ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def lsh_band_buckets(
    df: DataFrame,
    planes: np.ndarray | tuple[int, int],
    band_bits: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Banded hyperplane signatures, kernel form: one [rows x dim] @
    [dim x n_planes] mat-mul per Arrow batch, sign bits grouped into
    ``n_planes // band_bits`` buckets, emitted as (doc, band, bucket)
    rows.  Unlike :func:`lsh_signatures` (unrolled column expressions,
    <= 64 planes in one long) this scales to the hundreds of planes a
    low-threshold recall target needs.

    Scale note: output is N x n_bands rows — the shuffle amplification
    is the recall knob.  At realistic near-dup thresholds (cos >= 0.9,
    p_bit ~ 0.86) 8-16 bands give ~1e-6 miss rates; the 64-band setting
    used by the gate exists because its synthetic corpus operates at the
    adversarial cos ~ 0.4 noise tail (p_bit ~ 0.63)."""
    spark = df.sparkSession
    if isinstance(planes, tuple):
        # (n_planes, seed): planes are generated INSIDE the kernel from
        # the seed + the batch's vector dim — deterministic and identical
        # on every executor, and the driver never runs a scan just to
        # learn the dimension.
        n_planes, seed = planes
        b_p = None
    else:
        n_planes, seed = planes.shape[0], None
        b_p = spark.sparkContext.broadcast(planes.astype(np.float32))
    n_bands = n_planes // band_bits

    def buckets(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p = b_p.value if b_p is not None else None
        weights = (1 << np.arange(band_bits)).astype(np.int64)
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float32)
            if p is None:
                p = random_hyperplanes(mat.shape[1], n_planes, seed)
            bits = (mat @ p.T >= 0).astype(np.int64)  # [rows, n_planes]
            grouped = bits[:, : n_bands * band_bits].reshape(
                len(pdf), n_bands, band_bits
            )
            bucket = grouped @ weights  # [rows, n_bands]
            ids = pdf[id_col].to_numpy()
            yield pd.DataFrame(
                {
                    "doc": np.repeat(ids, n_bands),
                    "band": np.tile(np.arange(n_bands, dtype=np.int64), len(pdf)),
                    "bucket": bucket.reshape(-1),
                }
            )

    return df.mapInPandas(buckets, schema="doc long, band long, bucket long")


def blocked_near_pairs(
    df: DataFrame,
    threshold: float,
    block_size: int = 8192,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT all-pairs cosine >= threshold via tiled block GEMM.
    Output: (a, b, cos) with a < b.

    This is the right operator for LOW thresholds, where banded LSH is
    structurally beaten: at cos ~ 0.4 the per-bit agreement of a true
    pair (p ~ 0.63) sits too close to random (0.5), so any (r, b)
    banding with recall ~ 1 admits ~(b/2^r) * N^2 random candidate
    PAIRS — the 6x scale rehearsal measured the old 64-band/3-bit gate
    path materializing more candidate rows than brute force has dot
    products.  Tiled GEMM keeps the N^2 term where it is cheapest: as
    BLAS flops inside a kernel, never as shuffled rows — only passing
    pairs are ever materialized.

    Plan shape: hash vectors into ceil(N/block_size) blocks, assemble
    each block's normalized matrix as ONE row (applyInPandas), equi-join
    the upper-triangle (blk_a, blk_b) pair list against the block frame
    twice (payload moves through hash joins — no corpus-level nested
    loop, no driver collect, no broadcast of the corpus), then one
    kernel GEMM per block pair.  Shuffle volume is N*d*4 bytes times
    n_blocks — the unavoidable tile-replication cost of exact N^2 —
    and compute parallelism is n_blocks*(n_blocks+1)/2 independent
    tasks.  Beyond ~10M vectors, compose with ivf_assign and run this
    per cell (exact within-cell, probed across cells); at 100 TB
    near-dup thresholds are >= 0.9 and lsh_near_pairs is the right
    tool instead."""
    spark = df.sparkSession
    n = df.count()
    n_blocks = max(1, -(-n // block_size))

    src = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    # deterministic, id-sparsity-proof block assignment
    src = src.withColumn("blk", F.pmod(F.hash("id"), F.lit(n_blocks)).cast("long"))

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy(np.int64)
        # keep RAW float32 payloads in the tile (exact bytes); the GEMM
        # normalizes and multiplies in float64 so the cosine agrees with
        # a float64 brute force (e.g. the DuckDB oracle) to ~1e-15 —
        # float32 arithmetic here could flip threshold-boundary pairs
        mat = np.stack(pdf["v"].to_numpy()).astype(np.float32)
        return pd.DataFrame(
            {
                "blk": [int(pdf["blk"].iloc[0])],
                "ids": [ids],
                "mat": [mat.ravel()],
                "d": [mat.shape[1]],
            }
        )

    blocks = src.groupBy("blk").applyInPandas(
        assemble, schema="blk long, ids array<long>, mat array<float>, d int"
    )

    # upper-triangle (blk_a <= blk_b) pair list from ONE range via
    # triangular-index inversion — a pure map, so the plan contains NO
    # non-equi join at all (a range x range build would plan as a
    # BroadcastNestedLoopJoin and muddy the "no nested loop" invariant
    # the plan-shape test pins): pid -> i = floor((sqrt(8*pid+1)-1)/2),
    # j = pid - i*(i+1)/2, pair = (j, i).  The +-1 correction guards
    # double-precision sqrt at perfect-square boundaries.
    n_pairs = n_blocks * (n_blocks + 1) // 2
    i0 = F.floor((F.sqrt(F.col("id").cast("double") * 8 + 1) - 1) / 2)
    i = (
        F.when((i0 + 1) * (i0 + 2) / 2 <= F.col("id"), i0 + 1)
        .when(i0 * (i0 + 1) / 2 > F.col("id"), i0 - 1)
        .otherwise(i0)
        .cast("long")
    )
    pair_ids = spark.range(n_pairs).select(
        (F.col("id") - (i * (i + 1) / 2).cast("long")).alias("blk_a"),
        i.alias("blk_b"),
    )
    paired = (
        pair_ids.join(
            blocks.select(
                F.col("blk").alias("blk_a"),
                F.col("ids").alias("ids_a"),
                F.col("mat").alias("mat_a"),
                F.col("d").alias("d_a"),
            ),
            "blk_a",
        )
        .join(
            blocks.select(
                F.col("blk").alias("blk_b"),
                F.col("ids").alias("ids_b"),
                F.col("mat").alias("mat_b"),
            ),
            "blk_b",
        )
        # one block pair per task: the GEMM is the unit of work
        .repartition(n_blocks * (n_blocks + 1) // 2, "blk_a", "blk_b")
    )

    thr = float(threshold)

    def gemm(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for row in pdf.itertuples(index=False):
                d = int(row.d_a)
                ia = np.asarray(row.ids_a, dtype=np.int64)
                ib = np.asarray(row.ids_b, dtype=np.int64)
                ma = np.asarray(row.mat_a, dtype=np.float64).reshape(len(ia), d)
                mb = np.asarray(row.mat_b, dtype=np.float64).reshape(len(ib), d)
                ma /= np.maximum(np.linalg.norm(ma, axis=1, keepdims=True), 1e-12)
                mb /= np.maximum(np.linalg.norm(mb, axis=1, keepdims=True), 1e-12)
                cos = ma @ mb.T
                ii, jj = np.nonzero(cos >= thr)
                if len(ii) == 0:
                    continue
                a = ia[ii]
                b = ib[jj]
                c = cos[ii, jj].astype(np.float64)
                keep = a != b
                a, b, c = a[keep], b[keep], c[keep]
                lo = np.minimum(a, b)
                hi = np.maximum(a, b)
                if int(row.blk_a) == int(row.blk_b):
                    # within-block GEMM sees each unordered pair twice
                    keep = a < b
                    lo, hi, c = lo[keep], hi[keep], c[keep]
                yield pd.DataFrame({"a": lo, "b": hi, "cos": c})

    return paired.mapInPandas(gemm, schema="a long, b long, cos double")


def lsh_near_pairs(
    df: DataFrame,
    threshold: float,
    n_planes: int = 192,
    band_bits: int = 3,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Banded-LSH cosine near-pair search: candidates from an equi-join
    on (band, bucket) -> exact cosine verify on candidates only (the
    MinHash->verify shape).  Output: (a, b, cos) with a < b and
    cos >= threshold.

    Right tool for HIGH thresholds (cos >= ~0.9, the realistic near-dup
    regime): there p_bit ~ 0.9 and a few wide bands give recall ~ 1
    with tiny buckets.  At LOW thresholds it degrades structurally —
    candidate pairs ~ (n_bands / 2^band_bits) * N^2 / 2 for random
    vectors, which at the defaults (64 bands, 3-bit buckets) exceeds
    brute force's dot-product count (measured by the 6x rehearsal on
    the cos = 0.4 gate corpus; use blocked_near_pairs there, which
    keeps the N^2 term as BLAS flops instead of shuffled rows).
    Planes are seed-generated inside the kernel, so building this plan
    runs no driver-side scan."""
    sig = lsh_band_buckets(df, (n_planes, seed), band_bits, id_col, vec_col)
    cand = (
        sig.withColumnsRenamed({"doc": "a"})
        .join(sig.withColumnsRenamed({"doc": "b"}), ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    va = df.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    return (
        cand.join(va, "a")
        .join(vb, "b")
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", "cos")
    )


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame:
    """Assign each vector to its nearest centroid (kernel; centroid
    matrix broadcast).  At scale, write the corpus partitioned by `cell`
    so probes prune partitions.

    ``keep_vec=True`` carries the vector payload through the kernel so
    downstream consumers (ivf_topk) need no join back to the corpus —
    the assignment is a pure map, and re-joining its output to the
    input it was derived from would add a corpus-sized shuffle join for
    nothing."""
    spark = df.sparkSession
    b_c = spark.sparkContext.broadcast(centroids.astype(np.float32))

    def assign(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = b_c.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float32)
            d = ((mat[:, None, :] - c[None, :, :]) ** 2).sum(-1)
            out = {
                "vec_id": pdf[id_col],
                "cell": np.argmin(d, axis=1).astype(np.int64),
            }
            if keep_vec:
                out[vec_col] = pdf[vec_col]
            yield pd.DataFrame(out)

    schema = "vec_id long, cell long"
    if keep_vec:
        schema += f", {vec_col} array<float>"
    return df.mapInPandas(assign, schema=schema)


def ivf_topk(
    corpus: DataFrame,
    query_mat: np.ndarray,
    centroids: np.ndarray,
    n_probe: int = 4,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantized: bool = False,
    scale_col: str = "scale",
) -> DataFrame:
    """IVF probe: each query searches only its n_probe nearest cells.
    With n_probe == n_cells this is exactly brute force (the recall
    test's invariant).

    ONE fused kernel pass: per Arrow batch, assign rows to cells,
    score them against the (broadcast, driver-sized) query matrix, mask
    each query's scores to its probed cells, and emit only per-batch
    per-query top-k partials — then a global per-query top-k merge.
    Probe pruning is a [n_queries x n_cells] boolean mask riding the
    same broadcast as the queries, so the plan is scan -> map ->
    O(k x queries x batches) shuffle: no assignment join, no candidate
    row blow-up.  At 100 TB the corpus is additionally WRITTEN
    partitioned by cell id, so the scan itself prunes to the probed
    cells (tests/test_similarity_ops.py pins the file-pruning claim);
    the in-kernel mask then only trims batch stragglers.

    ``quantized=True`` (round-8 stretch #8): ``vec_col`` holds int8
    qvecs (quantize_embeddings) with ``scale_col`` alongside — the
    scan reads ~4x fewer vector bytes (the 100-TB IO lever).  Cell
    assignment dequantizes per batch (one multiply); the cosine block
    runs on the RAW qvec matrix, the positive per-vector scales
    canceling in normalization."""
    spark = corpus.sparkSession
    n_cells = centroids.shape[0]
    # driver-side query->cells probe mask (queries are parameters)
    qd = ((query_mat[:, None, :] - centroids[None, :, :]) ** 2).sum(-1)
    probe_mask = np.zeros((query_mat.shape[0], n_cells), dtype=bool)
    for qi in range(query_mat.shape[0]):
        probe_mask[qi, np.argsort(qd[qi])[:n_probe]] = True
    qn = query_mat / np.maximum(np.linalg.norm(query_mat, axis=1, keepdims=True), 1e-12)
    b = spark.sparkContext.broadcast(
        (qn.astype(np.float32), centroids.astype(np.float32), probe_mask)
    )

    def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q, cent, mask = b.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float32)
            if quantized:
                real = mat * pdf[scale_col].to_numpy()[:, None].astype(np.float32)
            else:
                real = mat
            d2 = ((real[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
            cell = np.argmin(d2, axis=1)
            # cosine on the raw (possibly int8) matrix: per-vector
            # scales are positive scalars and cancel in normalization
            matn = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            cos = matn @ q.T  # [rows, Q]
            keep = mask[:, cell].T  # [rows, Q]: row in query's probes?
            cos = np.where(keep, cos, -np.inf)
            kk = min(k, cos.shape[0])
            top = np.argpartition(-cos, kk - 1, axis=0)[:kk]  # [k, Q]
            ids = pdf[id_col].to_numpy()
            out = []
            for qi in range(q.shape[0]):
                sel = top[:, qi]
                sel = sel[np.isfinite(cos[sel, qi])]
                if len(sel) == 0:
                    continue
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qi,
                            "neighbor_id": ids[sel],
                            "cos": cos[sel, qi].astype(np.float64),
                        }
                    )
                )
            if out:
                yield pd.concat(out)

    scored = corpus.mapInPandas(
        score, schema="query_id long, neighbor_id long, cos double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos", F.col("rn").cast("long").alias("rn"))
    )


def sample_centroids(
    df: DataFrame, n_cells: int, vec_col: str = "embedding", seed: int = 42
) -> np.ndarray:
    """Cheap centroid init: deterministic sample + one Lloyd refinement
    done driver-side on the sample (centroids are model parameters)."""
    sample = np.stack(
        [
            np.asarray(r[vec_col], dtype=np.float32)
            for r in df.select(vec_col).orderBy(F.rand(seed)).limit(max(n_cells * 32, 256)).collect()
        ]
    )
    rng = np.random.default_rng(seed)
    cent = sample[rng.choice(len(sample), size=n_cells, replace=False)]
    for _ in range(5):
        d = ((sample[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
        a = np.argmin(d, axis=1)
        for c in range(n_cells):
            mask = a == c
            if mask.any():
                cent[c] = sample[mask].mean(axis=0)
    return cent
