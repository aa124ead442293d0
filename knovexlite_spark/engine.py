"""Engine facade: session + registered views + SQL + EFO entry points.

The reference's lifecycle (SURVEY.md §3) is lstr -> AST -> DNF -> scored
evaluation; ours adds a full Spark SQL surface on the same session.  The
SQL path is a passthrough: Catalyst owns predicate pushdown, column
pruning, join reordering, AQE — we deliberately add no layer on top.
EFO queries on a KG below ``LOCAL_MAX_EDGES`` run on the driver
(``plans/local.py``) and on Spark otherwise (``plans/exact.py``).  A
driver answer stays on the driver: its frame holds the ids, collects
them without the JVM, and builds a Spark table of them only when some
other DataFrame method needs one.
"""

from __future__ import annotations

import logging
import threading
import weakref

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from knovexlite_spark.datasets import DEFAULT_SF_DIR, register_views
from knovexlite_spark.kg.triples import build_triples_view, pair_encode_inverse
from knovexlite_spark.plans.exact import answer_exact, compile_plan
from knovexlite_spark.plans.local import Adjacency, answer_local
from knovexlite_spark.session import get_spark

log = logging.getLogger(__name__)

# KGs with fewer base edges than this answer EFO queries from a
# driver-held adjacency of 48 bytes per base edge (96 MB at the gate).
# Measured on 4 vCPUs: sf0.1's 1.37 M edges count, collect and sort in
# 2.3 s into 66 MB, and its anchored CQs then take 0.2-7.5 ms of driver
# work against 175-560 ms as Spark joins.
LOCAL_MAX_EDGES = 2_000_000


class _LocalAnswer(ClassicDataFrame):
    """A below-gate answer: the sorted distinct ids of ``free_var``, held
    on the driver.  ``collect`` builds the rows from them with no py4j
    call; the JVM frame (a local table of the ids) is built on first use
    of ``_jdf``, so every other method behaves as on that table."""

    def __new__(cls, *args, **kwargs):
        return object.__new__(cls)

    def __init__(self, spark: SparkSession, free_var: str, ids: np.ndarray):
        self._ids = ids
        self._free_var = free_var
        super().__init__(None, spark)  # assigns _jdf = None: not built yet

    @property
    def _jdf(self):
        # Unlocked: two threads building it at once make two equal
        # frames, and the last assignment wins.
        if self._built_jdf is None:
            table = pa.table({self._free_var: pa.array(self._ids, pa.int64())})
            self._built_jdf = self.sparkSession.createDataFrame(table)._jdf
        return self._built_jdf

    @_jdf.setter
    def _jdf(self, jdf) -> None:
        self._built_jdf = jdf

    def collect(self) -> list[Row]:
        row = Row(self._free_var)
        return [row(i) for i in self._ids.tolist()]


class Engine:
    """One engine per (session, scale-factor dir)."""

    # Engines are cheap but not free (parquet footer reads, view
    # registration, pinned-constant collects); the driver runs dozens of
    # queries against one sf_dir, so cache per (session, sf_dir).
    # Keyed by WEAK reference to the session: an id()-keyed cache could
    # resurrect a stale engine bound to a dead session whose id was
    # reused by a new one (round-1 advisor finding).
    # Retention caveat (accepted): cached Engine values hold DataFrames
    # whose JVM plans reference the session, so an entry only collects
    # once both the session AND its engines are unreferenced; a stopped
    # session that the caller still (transitively) reaches via a cached
    # engine stays in the map.  Entries are small (plans, not data) and
    # one-session processes dominate, so we document rather than chase
    # full weakness (round-2 advisor finding).
    _cache: "weakref.WeakKeyDictionary[SparkSession, dict[str, Engine]]" = (
        weakref.WeakKeyDictionary()
    )
    _registered_dir: "weakref.WeakKeyDictionary[SparkSession, str]" = (
        weakref.WeakKeyDictionary()
    )
    # Guards the check-and-build in for_dir: threads sharing a session
    # must get one engine and must not re-register views mid-query.
    _lock = threading.Lock()

    def __init__(
        self,
        spark: SparkSession | None = None,
        sf_dir: str = DEFAULT_SF_DIR,
        register: bool = True,
    ):
        # Held weakly: the cache maps session -> engine, and an engine
        # holding its session strongly would keep the weak cache key
        # alive forever (value -> key back-reference), defeating
        # collection of stopped sessions.
        self._spark_ref = weakref.ref(spark or get_spark())
        self.sf_dir = sf_dir
        self.tables: dict[str, DataFrame] = {}
        self.triples: DataFrame | None = None
        self._scalars: dict[str, int] = {}
        # EFO serving state, built on first use under _efo_lock: the
        # pair-encoded view, the KG's edge count (measured once, for the
        # size gate) and, below the gate, the local adjacency.
        self._efo_lock = threading.Lock()
        self._pair_encoded: DataFrame | None = None
        self._n_edges: int | None = None
        self._adjacency: Adjacency | None = None
        # The engine may receive a session it did not build (the driver
        # contract passes one in).  These are runtime-settable SQL confs
        # the engine's correctness depends on: nanos-timestamp parquet
        # reads, UTC timestamps (the DuckDB oracle runs UTC), Arrow
        # kernels, AQE.
        for k, v in (
            ("spark.sql.legacy.parquet.nanosAsLong", "true"),
            ("spark.sql.session.timeZone", "UTC"),
            ("spark.sql.execution.arrow.pyspark.enabled", "true"),
            ("spark.sql.adaptive.enabled", "true"),
        ):
            try:
                self.spark.conf.set(k, v)
            except Exception:  # noqa: BLE001 - conf may be static on some builds
                pass
        if register:
            self.tables = register_views(self.spark, sf_dir)
            self.triples = build_triples_view(self.spark)
            Engine._registered_dir[self.spark] = sf_dir

    @property
    def spark(self) -> SparkSession:
        s = self._spark_ref()
        if s is None:
            raise RuntimeError(
                "this Engine's SparkSession has been garbage-collected; "
                "create a new Engine with a live session"
            )
        return s

    @classmethod
    def for_dir(cls, spark: SparkSession, sf_dir: str) -> "Engine":
        """Cached engine; re-registers temp views only when the session
        last pointed at a different sf_dir.  DataFrames held by a cached
        engine stay bound to their files (views resolve at creation), so
        only the SQL-name surface needs refreshing.  Thread-safe."""
        with cls._lock:
            per_session = cls._cache.setdefault(spark, {})
            eng = per_session.get(sf_dir)
            if eng is None:
                eng = cls(spark, sf_dir)
                per_session[sf_dir] = eng
            elif cls._registered_dir.get(spark) != sf_dir:
                for name, df in eng.tables.items():
                    df.createOrReplaceTempView(name)
                assert eng.triples is not None
                eng.triples.createOrReplaceTempView("triples")
                cls._registered_dir[spark] = sf_dir
            return eng

    # -- relational surface ------------------------------------------------

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    def table(self, name: str) -> DataFrame:
        return self.tables[name]

    def register_function(self, name: str, fn, return_type=None):
        """UDF registration surface (SURVEY §2.9 gap list).  Prefer
        built-in functions — a registered Python UDF is the slow path;
        use pandas_udf for anything hot."""
        return self.spark.udf.register(name, fn, return_type)

    # -- KG / EFO surface --------------------------------------------------

    def triples_with_inverses(self) -> DataFrame:
        """The pair-encoded inverse-augmented edge view (G4): relation k
        becomes 2k forward and 2k+1 backward, so inverse(r) = r XOR 1.
        One view per engine."""
        assert self.triples is not None
        with self._efo_lock:
            if self._pair_encoded is None:
                self._pair_encoded = pair_encode_inverse(self.triples)
            return self._pair_encoded

    def _local_adjacency(self) -> Adjacency | None:
        """The driver-local adjacency when the KG is below the size
        gate, else None.  Decided and built once per engine."""
        assert self.triples is not None
        with self._efo_lock:
            if self._n_edges is None:
                n_edges = self.triples.count()
                if n_edges < LOCAL_MAX_EDGES:
                    pdf = self.triples.select("h", "r", "t").dropna().toPandas()
                    self._adjacency = Adjacency(
                        *(pdf[c].to_numpy("int64") for c in ("h", "r", "t"))
                    )
                log.info(
                    "efo backend for %s: %s (%d edges, gate %d, adjacency %d bytes)",
                    self.sf_dir, "spark" if self._adjacency is None else "local",
                    n_edges, LOCAL_MAX_EDGES,
                    0 if self._adjacency is None else self._adjacency.nbytes,
                )
                self._n_edges = n_edges
            return self._adjacency

    def efo(
        self,
        lstr: str,
        bindings: dict[str, int],
        free_var: str = "f",
        augmented: bool = False,
    ) -> DataFrame:
        """Answer an EFO query under exact set semantics: parse ->
        NNF/DNF -> one compiled plan -> UNION of per-clause joins
        (SURVEY §2.2-2.4).  Returns a one-column LONG DataFrame, named
        ``free_var``, of the distinct entity ids of the free variable.

        Below the KG-size gate (``LOCAL_MAX_EDGES``) the plan runs on
        the driver over a sorted adjacency, and the frame holds the
        answer ids: ``collect()`` makes no py4j call and runs no Spark
        job, and any other method first builds the same local table
        (``createDataFrame`` of the ids) that it then acts on.  A query
        whose joins would exceed ``plans.local.LOCAL_MAX_JOIN_ROWS``, and
        every query above the gate, runs as Spark joins.

        ``augmented=True`` evaluates over the pair-encoded inverse view
        (relation k -> 2k forward / 2k+1 backward), which inverse-edge
        queries require."""
        plan = compile_plan(lstr, free_var, bindings)
        adj = self._local_adjacency()
        if adj is not None:
            ids = answer_local(plan, adj, bindings, augmented)
            if ids is not None:
                return _LocalAnswer(self.spark, free_var, ids)
        triples = self.triples_with_inverses() if augmented else self.triples
        return answer_exact(triples, lstr, bindings, free_var=free_var)
