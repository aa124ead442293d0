"""Declared correctness corpus (SURVEY.md §2.10, Q1-Q19).

Each query is written once, in the dialect intersection of Spark SQL and
DuckDB, so the engine runs the exact string the oracle runs.  Rules that
keep the order-insensitive value hash stable across engines:

- derived non-integer columns are cast ``DECIMAL -> STRING`` (decimal
  arithmetic is exact and both engines print the full scale);
- computed integer columns are cast BIGINT (Spark's row_number/year are
  INT, DuckDB's are BIGINT);
- passthrough doubles are left alone (bit-exact from parquet);
- double aggregates are cast to DECIMAL before stringifying.

Catalyst handles the physical side: dims (region/nation) broadcast via
AQE, filters and projections push into the parquet scans.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from knovexlite_spark.engine import Engine

# name -> SQL runnable by BOTH Spark (temp views) and DuckDB (driver views).
SHARED_SQL: dict[str, str] = {
    # Q1 scan, filter, project
    "q1_filter_project": """
        SELECT l_orderkey, l_linenumber, l_quantity
        FROM lineitem WHERE l_quantity > 30
    """,
    # Q2 inner equi-join
    "q2_inner_join": """
        SELECT o_orderkey, c_name
        FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    # Q3 multi-way join over broadcast-size dims
    "q3_multiway_join": """
        SELECT n_name, r_name, COUNT(*) AS c
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY n_name, r_name
        ORDER BY n_name, r_name
    """,
    # Q4 left outer join + agg
    "q4_left_join": """
        SELECT c_custkey, COUNT(o_orderkey) AS cnt
        FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        GROUP BY c_custkey
        ORDER BY c_custkey
    """,
    # Q5 semi join (J7)
    "q5_semi_join": """
        SELECT c_custkey FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
        ORDER BY c_custkey
    """,
    # Q6 anti join (J4 exact)
    "q6_anti_join": """
        SELECT c_custkey FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        ORDER BY c_custkey
    """,
    # Q7 grouped agg + having (A1-A3)
    "q7_grouped_agg": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS STRING) AS s,
               CAST(CAST(AVG(l_quantity) AS DECIMAL(18,3)) AS STRING) AS aq,
               COUNT(*) AS c
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        HAVING COUNT(*) > 10
        ORDER BY l_returnflag, l_linestatus
    """,
    # Q8 distinct agg (A5)
    "q8_count_distinct": """
        SELECT COUNT(DISTINCT o_custkey) AS c FROM orders
    """,
    # Q9+Q10+Q20 multi-dimensional grouping (ROLLUP / GROUPING SETS / CUBE)
    # in ONE gate row — the driver records at most 50 queries (round-1
    # forensics), so related operators share a row via tagged UNION ALL.
    "q9_grouping_multi": """
        SELECT 'rollup' AS op, l_returnflag AS k1, l_linestatus AS k2, COUNT(*) AS c
        FROM lineitem
        GROUP BY ROLLUP(l_returnflag, l_linestatus)
        UNION ALL
        SELECT 'cube' AS op, l_returnflag AS k1, l_linestatus AS k2, COUNT(*) AS c
        FROM lineitem
        GROUP BY CUBE(l_returnflag, l_linestatus)
        UNION ALL
        SELECT 'gsets' AS op, o_orderpriority AS k1, o_orderstatus AS k2, COUNT(*) AS c
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
    """,
    # Q11 ranking window -> per-group top-k (R10/A7)
    "q11_topk_window": """
        SELECT o_custkey, o_orderkey, rn FROM (
            SELECT o_custkey, o_orderkey,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
            FROM orders
        ) t WHERE rn <= 3
        ORDER BY o_custkey, rn
    """,
    # Q12 analytic window with ROWS frame
    "q12_window_frame": """
        SELECT o_orderkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS STRING) AS mv
        FROM orders
    """,
    # Q13 global sort + limit (top-k)
    "q13_sort_limit": """
        SELECT o_orderkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 20
    """,
    # Q14 set ops — INTERSECT / EXCEPT / UNION share one tagged gate row
    # (50-row driver cap; see q9_grouping_multi note).
    "q14_setops": """
        SELECT 'intersect' AS setop, o_custkey FROM (
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
            INTERSECT
            SELECT o_custkey FROM orders WHERE o_totalprice > 50000
        ) i
        UNION ALL
        SELECT 'except' AS setop, o_custkey FROM (
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
            EXCEPT
            SELECT o_custkey FROM orders WHERE o_totalprice > 50000
        ) e
        UNION ALL
        SELECT 'union' AS setop, o_custkey FROM (
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
            UNION
            SELECT o_custkey FROM orders WHERE o_totalprice > 50000
        ) u
    """,
    # Q15 string functions
    "q15_string_funcs": """
        SELECT p_partkey, UPPER(p_name) AS u, SUBSTR(p_type, 1, 5) AS s5,
               CAST(LENGTH(p_brand) AS BIGINT) AS lb
        FROM part WHERE p_name LIKE '%a%'
        ORDER BY p_partkey
    """,
    # Q16 date functions
    "q16_date_funcs": """
        SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS y,
               CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS m,
               COUNT(*) AS c
        FROM orders GROUP BY 1, 2 ORDER BY 1, 2
    """,
    # Q17 math + case (decimal arithmetic kept at exact scale)
    "q17_math_case": """
        SELECT l_orderkey, l_linenumber,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2))) AS STRING) AS net,
               CASE WHEN l_tax > 0.04 THEN 'H' ELSE 'L' END AS tb
        FROM lineitem
    """,
    # Q18: widened to a tagged union in round 11 (win + tsr members);
    # declared below, outside SHARED_SQL.
    # Q23 TPC-H Q5-style 6-way join (join-reorder + broadcast-dim stress;
    # local-supplier revenue per nation within one region)
    "q23_local_supplier_revenue": """
        SELECT n_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS STRING) AS revenue,
               COUNT(*) AS c
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
        ORDER BY n_name
    """,
    # Q21 correlated EXISTS subquery
    "q21_exists_correlated": """
        SELECT c_custkey FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000
        )
        ORDER BY c_custkey
    """,
    # Q22 pivot via conditional aggregation
    "q22_pivot_case": """
        SELECT l_returnflag,
               COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS n_f,
               COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS n_o
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    # Q19 sessionization scaffold (lag)
    "q19_sessionize_lag": """
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
               CAST(CASE WHEN ts - LAG(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS BIGINT) AS new_session
        FROM events
    """,
}


def _runner(sql: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        Engine.for_dir(spark, sf_dir)  # registers views for this sf_dir
        return spark.sql(sql)

    return run


# -- q18: event-time bucket analytics (tagged union, round 11) ---------------
#
# 'win' — the r1-r10 tumbling window, wrapped into the union schema.
# 'tsr' — hypertable-style resample + gap fill (ops/timeseries.py):
#         per-user 4 h buckets over the events table, DENSIFIED — one
#         row per user per bucket between that user's first and last
#         event (zero-filled count, forward-filled value sum).  At
#         sf0.01 the series is sparse (~0.4 events per user-bucket),
#         so the spine generation and both fill modes are
#         load-bearing, not decorative.  The oracle side is GENERATED
#         by resample_duckdb_sql from the same parameters
#         (generate_series spine, LAST_VALUE ... IGNORE NULLS fill).

# dialect-intersection SQL: the Spark side runs this exact string too
_Q18_WIN_MEMBER_SQL = """
    SELECT 'win' AS member, DATE_TRUNC('HOUR', ts) AS w,
           event_type AS key, COUNT(*) AS c,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS s
    FROM events
    GROUP BY DATE_TRUNC('HOUR', ts), event_type
"""

_Q18_TSR_STRIDE = "4h"
# 'tsm' (round 12): moving aggregates over the SAME dense series —
# trailing 6-bucket (24 h) rolling sum of the zero-filled count and
# rolling max of the forward-filled value sum, per user.  The rolling
# window partitions/orders exactly like the fill windows, so it rides
# the same exchange (plan-pinned in tests); the oracle side is
# GENERATED by rolling_duckdb_sql over the generated dense SQL from
# the same constants.
_Q18_TSM_WINDOW = 6
# 'tsms' (round 12): the SPARSE fast path — the same 6-bucket time
# window as 'tsm' computed with a RANGE frame over the RAW resampled
# frame (no spine, no fills), so observed buckets answer time-window
# questions without paying the dense grid.  Replayed by the same
# generator with frame='range' over the emit='agg' dense twin.


def _q18_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared SPARSE per-user resample (4 h buckets) — the tsms
    member's input and the frame gap_fill densifies for tsr/tsm."""
    from pyspark.sql import functions as F

    from knovexlite_spark.ops.timeseries import resample

    eng = Engine.for_dir(spark, sf_dir)
    return resample(
        eng.table("events"),
        "ts",
        _Q18_TSR_STRIDE,
        ["user_id"],
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("sv"),
        ],
    )


def _q18_widened(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from knovexlite_spark.ops.timeseries import gap_fill, rolling

    # ONE sparse resample feeds all three ts members: the tsms range-
    # frame rolling reads it directly, gap_fill densifies it for
    # tsr/tsm (materialize=False — the checkpoint here IS the barrier
    # gap_fill would otherwise add itself).  _q18_agg also registers
    # the engine views the win-member SQL needs.
    agg = _q18_agg(spark, sf_dir).localCheckpoint(eager=False)
    dense = gap_fill(
        agg,
        _Q18_TSR_STRIDE,
        ["user_id"],
        fill={"n": "zero", "sv": "ffill"},
        materialize=False,
    ).localCheckpoint(eager=False)
    win = spark.sql(_Q18_WIN_MEMBER_SQL)
    tsr = dense.select(
        F.lit("tsr").alias("member"),
        F.timestamp_micros(F.col("bucket_us")).alias("w"),
        F.col("user_id").cast("string").alias("key"),
        F.col("n").cast("long").alias("c"),
        F.col("sv").cast("decimal(18,4)").cast("string").alias("s"),
    )
    w = _Q18_TSM_WINDOW
    roll = rolling(dense, ["user_id"], {"n": ["sum"], "sv": ["max"]}, w)
    tsm = roll.select(
        F.lit("tsm").alias("member"),
        F.timestamp_micros(F.col("bucket_us")).alias("w"),
        F.col("user_id").cast("string").alias("key"),
        F.col(f"n_sum{w}").cast("long").alias("c"),
        F.col(f"sv_max{w}").cast("decimal(18,4)").cast("string").alias("s"),
    )
    w = _Q18_TSM_WINDOW
    sparse = rolling(
        agg,
        ["user_id"],
        {"n": ["sum"], "sv": ["max"]},
        w,
        frame="range",
        stride=_Q18_TSR_STRIDE,
    )
    tsms = sparse.select(
        F.lit("tsms").alias("member"),
        F.timestamp_micros(F.col("bucket_us")).alias("w"),
        F.col("user_id").cast("string").alias("key"),
        F.col(f"n_sum{w}").cast("long").alias("c"),
        F.col(f"sv_max{w}").cast("decimal(18,4)").cast("string").alias("s"),
    )
    return win.unionByName(tsr).unionByName(tsm).unionByName(tsms)


def _q18_oracle() -> str:
    from knovexlite_spark.ops.timeseries import (
        resample_duckdb_sql,
        rolling_duckdb_sql,
    )

    dense = resample_duckdb_sql(
        "events",
        "ts",
        _Q18_TSR_STRIDE,
        ["user_id"],
        {"n": "COUNT(*)", "sv": "SUM(CAST(value AS DECIMAL(18,4)))"},
        fill={"n": "zero", "sv": "ffill"},
    )
    w = _Q18_TSM_WINDOW
    rolled = rolling_duckdb_sql(
        dense, ["user_id"], {"n": ["sum"], "sv": ["max"]}, w
    )
    sparse_agg = resample_duckdb_sql(
        "events",
        "ts",
        _Q18_TSR_STRIDE,
        ["user_id"],
        {"n": "COUNT(*)", "sv": "SUM(CAST(value AS DECIMAL(18,4)))"},
        emit="agg",
    )
    rolled_sparse = rolling_duckdb_sql(
        sparse_agg,
        ["user_id"],
        {"n": ["sum"], "sv": ["max"]},
        w,
        frame="range",
        stride=_Q18_TSR_STRIDE,
    )
    return f"""
    {_Q18_WIN_MEMBER_SQL}
    UNION ALL
    SELECT 'tsr' AS member, make_timestamp(bucket_us) AS w,
           CAST(user_id AS VARCHAR) AS key, CAST(n AS BIGINT) AS c,
           CAST(CAST(sv AS DECIMAL(18,4)) AS VARCHAR) AS s
    FROM ({dense})
    UNION ALL
    SELECT 'tsm' AS member, make_timestamp(bucket_us) AS w,
           CAST(user_id AS VARCHAR) AS key,
           CAST(n_sum{w} AS BIGINT) AS c,
           CAST(CAST(sv_max{w} AS DECIMAL(18,4)) AS VARCHAR) AS s
    FROM ({rolled})
    UNION ALL
    SELECT 'tsms' AS member, make_timestamp(bucket_us) AS w,
           CAST(user_id AS VARCHAR) AS key,
           CAST(n_sum{w} AS BIGINT) AS c,
           CAST(CAST(sv_max{w} AS DECIMAL(18,4)) AS VARCHAR) AS s
    FROM ({rolled_sparse})
    """


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out = {name: _runner(sql) for name, sql in SHARED_SQL.items()}
    out["q18_tumbling_window"] = _q18_widened
    return out


def oracle_sql() -> dict[str, str]:
    out = dict(SHARED_SQL)
    out["q18_tumbling_window"] = _q18_oracle()
    return out
