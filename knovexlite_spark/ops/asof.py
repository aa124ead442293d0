"""As-of (nearest-predecessor) and range joins — the time-series
enrichment operators the brief names as canonical Spark gaps ("an
operator Spark lacks (e.g., as-of join, range join)").

``asof_join``: for every left row, attach the LATEST right row with
right.ts <= left.ts per key (direction="backward"; "forward" gives the
earliest right.ts >= left.ts) — the standard market-data/metrics
enrichment.  Spark-first realization, NO per-row loops and NO
inequality join (a naive theta-join is a per-key cartesian):

  1. tag and UNION the two sides (right rows carry their payload
     packed into ONE struct, left rows carry a NULL struct),
  2. ONE hash exchange on the key + per-partition sort on
     (key, ts, side) — exactly a SortMergeJoin's cost envelope,
  3. a running last-non-null window carries the most recent right
     STRUCT forward onto each left row (rowsBetween unbounded..0 —
     Spark's WindowExec streams this frame incrementally, O(1) memory
     per row, no O(rows^2) re-scan).  Carrying the struct — not each
     payload column independently — means a matched right row whose
     payload value is legitimately NULL yields NULL (the struct itself
     is non-null for every right row), never a back-fill from an older
     right row,
  4. filter back to left rows; an optional ``tolerance`` nulls out
     matches older than the window.

The window orders by the NATIVE ordering column (descending for
forward) — no double image — so int64 keys above 2^53 (nanosecond
epochs) order exactly.

Scale shape: cost == one big-table sort-merge pass, partitioned by
key; skewed keys behave exactly like a skewed SMJ (same mitigations).
An EMPTY ``by`` (global as-of) uses bucket-and-stitch: the time axis
is split at sampled quantiles into ``num_buckets`` synthetic keys, the
same carry runs per bucket in parallel, and a bucket-count-sized
seed table (each bucket's nearest out-of-bucket right row, carried
across the tiny bucket spine) patches rows whose match lives in an
earlier (backward) / later (forward) bucket.  Ties (right.ts ==
left.ts) MATCH, mirroring DuckDB/pandas ``merge_asof`` — the right
side sorts before the left on equal timestamps.

``range_join``: equi-key + interval containment (point IN [start,
end]) via interval BUCKETING: intervals are exploded to the buckets
they overlap, points join their bucket (equi-join!), and the exact
containment predicate filters the bucket-local candidates.  The
inequality never reaches the join operator, so Catalyst plans a hash
join instead of a per-key nested loop; bucket width trades explode
factor against candidate density (set it near the median interval
length).  A single pathologically wide interval (an open-ended
Long.MAX sentinel) would explode to billions of buckets and kill the
job with a cryptic array-size error deep in ``sequence()`` — so the
explode is guarded by ``max_buckets_per_interval`` and raises a
descriptive error naming the offending span instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _numeric_image(col, dtype: str):
    """Monotone numeric image of an ordering column for distance /
    quantile arithmetic.  DATE must not go through cast('double') —
    that is silently NULL under non-ANSI Spark; use day numbers
    (tolerance unit for dates = days).  Timestamps use epoch seconds;
    numerics pass through natively."""
    if dtype == "date":
        return F.datediff(col, F.to_date(F.lit("1970-01-01")))
    if dtype.startswith("timestamp"):
        return col.cast("double")
    return col


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: tuple[str, ...] = (),
    direction: str = "backward",
    tolerance: int | float | None = None,
    suffix: str = "_r",
    num_buckets: int | None = None,
) -> DataFrame:
    """Left as-of join.  ``on``: ordering column (numeric or
    timestamp); ``by``: equi-key columns; ``direction``: "backward"
    (latest right at-or-before), "forward" (earliest right at-or-
    after) or "nearest" (the closer of the two, pandas
    ``merge_asof``-style; equidistant ties take the backward match —
    nearest runs BOTH carries over the one key exchange, so it costs
    an extra sort, not an extra shuffle); ``tolerance``: max |left.on -
    right.on| for a match (same unit as ``on``; timestamps compare in
    epoch seconds, dates in days).  Rows with a NULL ordering value
    never match: NULL right rows are dropped, NULL left rows come
    back unmatched.  Right payload columns keep their names (or gain
    ``suffix`` — repeatedly, until unique — on collision); unmatched
    left rows keep NULLs, plus ``{on}{suffix}`` = the matched right
    timestamp (raises if that name collides with a left column).

    Scale note: with a non-empty ``by`` parallelism comes from the key
    (the window partitions on it).  With ``by=()`` the bucket-and-
    stitch path runs: ``num_buckets`` (default min(32, default
    parallelism)) time buckets are cut at sampled quantiles — this
    samples the data eagerly at call time (one small job) — and the
    carry runs per bucket with a tiny cross-bucket seed patch, so the
    no-key path still uses the whole cluster.  ``num_buckets=1``
    forces the single-window form (fine for dimension-sized frames).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward/forward/nearest, got {direction!r}"
        )
    bys = list(by)
    payload = [c for c in right.columns if c != on and c not in bys]
    taken = set(left.columns)
    ren: dict[str, str] = {}
    for c in payload:
        name = c
        while name in taken:
            name = name + suffix
        ren[c] = name
        taken.add(name)
    match_col = f"{on}{suffix}"
    if match_col in left.columns or match_col in ren.values():
        raise ValueError(
            f"asof_join reserves output column {match_col!r} for the matched "
            f"right ordering value, but it collides with an input column; "
            f"pass a different suffix="
        )
    lcols = [c for c in left.columns if c not in bys]

    # a right row with a NULL ordering value can never match (DuckDB/
    # pandas comparison semantics) — drop it before the union so the
    # carry never picks it up
    r = right.filter(F.col(on).isNotNull()).select(
        *bys,
        F.col(on).alias("__ts"),
        F.lit(0).alias("__side"),
        F.struct(
            *[F.col(c).alias(ren[c]) for c in payload],
            F.col(on).alias("__mts"),
        ).alias("__pl"),
        *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c) for c in lcols],
    )
    pl_type = r.schema["__pl"].dataType
    l = left.select(
        *bys,
        F.col(on).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(pl_type).alias("__pl"),
        *lcols,
    )
    both = l.unionByName(r.select(*l.columns))

    need = ["backward", "forward"] if direction == "nearest" else [direction]
    if bys:
        carried = both
        for d in need:
            # Native-typed ordering: forward = backward on the
            # reversed axis.  Both windows share the hash partitioning
            # on the key (one exchange; the second direction adds only
            # a sort).
            w = (
                Window.partitionBy(*bys)
                .orderBy(*_order_cols(d))
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            carried = carried.withColumn(
                f"__m_{d[0]}", F.last("__pl", ignorenulls=True).over(w)
            )
    else:
        carried = _global_carry(
            both, lcols, need, num_buckets, dict(left.dtypes)[on]
        )

    if direction == "nearest":
        # pandas merge_asof 'nearest' semantics: the closer of the
        # backward/forward candidates; equidistant ties take the
        # BACKWARD (earlier) match (pinned vs pandas by test)
        mb, mf = F.col("__m_b"), F.col("__m_f")
        dt = dict(left.dtypes)[on]
        ts = _numeric_image(F.col("__ts"), dt)
        bts = _numeric_image(mb["__mts"], dt)
        fts = _numeric_image(mf["__mts"], dt)
        db = ts - bts
        df_ = fts - ts
        carried = carried.withColumn(
            "__m",
            F.when(mb.isNull(), mf)
            .when(mf.isNull(), mb)
            .when(db <= df_, mb)
            .otherwise(mf),
        )
    else:
        carried = carried.withColumnRenamed(f"__m_{direction[0]}", "__m")

    out = carried.filter(F.col("__side") == 1)
    m = F.col("__m")
    if tolerance is not None:
        dt = dict(left.dtypes)[on]
        dist = F.abs(
            _numeric_image(F.col("__ts"), dt) - _numeric_image(m["__mts"], dt)
        )
        keep = m.isNotNull() & (dist <= F.lit(tolerance))
        return out.select(
            *bys, *lcols,
            *[F.when(keep, m[ren[c]]).alias(ren[c]) for c in payload],
            F.when(keep, m["__mts"]).alias(match_col),
        )
    return out.select(
        *bys, *lcols,
        *[m[ren[c]].alias(ren[c]) for c in payload],
        m["__mts"].alias(match_col),
    )


def _order_cols(direction: str):
    """Window ordering for one carry direction: forward = backward on
    the reversed axis; on equal timestamps the right side (side 0)
    sorts first so ties MATCH.  NULL ordering values sort FIRST on
    both axes (asc default / desc_nulls_first), so a left row with a
    NULL timestamp precedes every right row and matches nothing —
    the DuckDB/pandas NULL-comparison semantics."""
    if direction == "forward":
        return [F.col("__ts").desc_nulls_first(), F.col("__side").asc()]
    return [F.col("__ts").asc(), F.col("__side").asc()]


def _global_carry(both, lcols, directions, num_buckets, on_dtype):
    """Bucket-and-stitch carry for the no-key global as-of.

    Cuts the time axis at sampled quantiles into ``B`` synthetic keys,
    runs the standard per-bucket window carry in parallel, then patches
    each bucket's pre-seed rows (rows ordered before the bucket's first
    right row) with a seed carried across the B-row bucket spine: for
    backward, bucket k's seed is the max-ts right row of the nearest
    earlier bucket holding rights; forward mirrors on the reversed
    axis.  All cross-bucket state is bucket-count-sized (broadcast).
    Emits one ``__m_<d[0]>`` column per requested direction (both for
    direction='nearest'), all sharing the single bucket exchange."""
    spark = both.sparkSession
    if num_buckets is None:
        num_buckets = min(32, spark.sparkContext.defaultParallelism)
    if num_buckets > 1:
        # quantile cut points on a monotone double image (assignment
        # only — within-bucket ordering stays native-typed)
        probs = [i / num_buckets for i in range(1, num_buckets)]
        img = _numeric_image(F.col("__ts"), on_dtype).cast("double")
        bounds = sorted(set(
            both.select(img.alias("__d"))
            .stat.approxQuantile("__d", probs, 0.001)
        ))
    else:
        bounds = []
    if not bounds:
        carried = both
        for d in directions:
            w = Window.orderBy(*_order_cols(d)).rowsBetween(
                Window.unboundedPreceding, 0
            )
            carried = carried.withColumn(
                f"__m_{d[0]}", F.last("__pl", ignorenulls=True).over(w)
            )
        return carried
    barr = F.array(*[F.lit(b) for b in bounds])
    bucketed = both.withColumn(
        "__bucket",
        F.aggregate(
            barr, F.lit(0),
            lambda acc, b: acc
            + F.when(
                _numeric_image(F.col("__ts"), on_dtype).cast("double") >= b, 1
            ).otherwise(0),
        ),
    )
    stage1 = bucketed
    for d in directions:
        w = (
            Window.partitionBy("__bucket")
            .orderBy(*_order_cols(d))
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        stage1 = stage1.withColumn(
            f"__m_{d[0]}", F.last("__pl", ignorenulls=True).over(w)
        )
    # Per-bucket representative right row = the one the NEXT bucket (in
    # carry order) would inherit: max-ts right for backward, min-ts for
    # forward.  Spine covers every bucket so the carry crosses
    # rights-free buckets.
    rights = bucketed.filter(F.col("__side") == 0)
    spine = bucketed.select("__bucket").distinct()
    seed_cols = []
    seeds = spine
    for d in directions:
        rep = (F.max_by if d == "backward" else F.min_by)("__pl", "__ts")
        per_bucket = rights.groupBy("__bucket").agg(rep.alias(f"__rep_{d[0]}"))
        carry_order = (
            F.col("__bucket").asc() if d == "backward"
            else F.col("__bucket").desc()
        )
        w2 = Window.orderBy(carry_order).rowsBetween(
            Window.unboundedPreceding, -1
        )
        seeds = seeds.join(per_bucket, "__bucket", "left").withColumn(
            f"__seed_{d[0]}",
            F.last(f"__rep_{d[0]}", ignorenulls=True).over(w2),
        ).drop(f"__rep_{d[0]}")
        seed_cols.append(f"__seed_{d[0]}")
    out = stage1.join(F.broadcast(seeds), "__bucket")
    # The seed patch must NOT resurrect NULL-ordering left rows: a NULL
    # __ts buckets to 0 and gets no in-bucket carry (NULLs sort first on
    # both axes), and without this guard coalesce would backfill it with
    # a later bucket's seed — violating the "NULL left rows come back
    # unmatched" contract the keyed path honors.
    return out.select(
        "__ts", "__side", *lcols,
        *[
            F.when(
                F.col("__ts").isNotNull(),
                F.coalesce(f"__m_{d[0]}", f"__seed_{d[0]}"),
            ).otherwise(F.col(f"__m_{d[0]}")).alias(f"__m_{d[0]}")
            for d in directions
        ],
    )


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    by: tuple[str, ...] = (),
    bucket_width: int = 3600,
    max_buckets_per_interval: int = 1_000_000,
) -> DataFrame:
    """Point-in-interval join via bucketing (inclusive bounds).  Both
    sides map to integer buckets of ``bucket_width`` (intervals explode
    to every bucket they overlap via ``sequence`` — JVM generator, no
    UDF); the join is a pure EQUI-join on (by..., bucket) with the
    exact containment filter applied to bucket-local candidates, so no
    nested-loop join ever appears in the plan (pinned by tests).
    Output: one row per (point row, containing interval).  An interval
    spanning more than ``max_buckets_per_interval`` buckets (e.g. an
    open-ended Long.MAX sentinel) raises a descriptive error naming
    the span — pre-clip open intervals or raise ``bucket_width``.  A
    REVERSED interval (end < start) matches nothing, like SQL
    ``BETWEEN`` — it must not fall through to ``sequence``'s implicit
    descending step."""
    bw = int(bucket_width)
    p = points.withColumn(
        "__bucket", F.floor(F.col(point_col).cast("double") / bw).cast("long")
    )
    b0 = F.floor(F.col(start_col).cast("double") / bw).cast("long")
    b1 = F.floor(F.col(end_col).cast("double") / bw).cast("long")
    nb = b1 - b0 + F.lit(1)
    iv = intervals.withColumn(
        "__bucket",
        F.explode(
            F.when(nb <= F.lit(0), F.array().cast("array<long>"))
            .when(nb <= F.lit(int(max_buckets_per_interval)), F.sequence(b0, b1))
            .otherwise(F.raise_error(F.concat(
                F.lit("range_join: interval ["),
                F.col(start_col).cast("string"), F.lit(", "),
                F.col(end_col).cast("string"),
                F.lit(f"] spans "), nb.cast("string"),
                F.lit(
                    f" buckets of width {bw} (max_buckets_per_interval="
                    f"{int(max_buckets_per_interval)}); pre-clip open "
                    f"intervals or raise bucket_width"
                ),
            )))
        ),
    )
    keys = list(by) + ["__bucket"]
    return (
        p.join(iv, keys)
        .filter(
            (F.col(point_col) >= F.col(start_col))
            & (F.col(point_col) <= F.col(end_col))
        )
        .drop("__bucket")
    )
