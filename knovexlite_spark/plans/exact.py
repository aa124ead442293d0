"""Exact set-semantics EFO evaluation: one compiled plan, Spark joins.

An lstr compiles once (``compile_plan``) into a backend-neutral
``ExactPlan``: per DNF clause, the positive atoms in join order, the
negated atoms, and every atom in both orientations for the neural
reasoners (CQD, LMPNN).  Unsafe negation, unbound symbols and a free
variable that a clause does not bind are rejected there, before any
backend runs.  Two exact interpreters run the plan: the Spark one
here and the driver-local NumPy one in ``plans/local.py``, which
``Engine.efo`` picks below a KG-size gate.  On Spark every query atom
is a join against the triples DataFrame —

- positive atom          -> inner equi-join (J1)
- negated atom           -> left_anti join (J4, exact semantics)
- conjunction            -> chained natural joins on shared variables
- disjunction (DNF)      -> UNION of per-clause plans
- existential projection -> DISTINCT on the free variable

``answer_exact`` (literal bindings) and ``answer_counts_batched`` (an
instance frame of bindings) run the same join chain and differ only in
how an atom becomes a frame.

Join order is a greedy connected ordering seeded by the most-selective
atom (most bound constants), mirroring the reference's backward-BFS
evaluation order (L9, efo_lang.py:749-776).  Scale notes: each
constant-anchored atom filters ``triples`` on (r, h) or (r, t) — those
predicates push into the parquet scan; the frontier side of every join
starts tiny (one anchor's neighborhood), so AQE converts these to
broadcast joins at runtime.  The Spark interpreter collects nothing to
the driver.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from knovexlite_spark.language.ast import Atomic, ConjunctiveClause, Term
from knovexlite_spark.language.parser import parse_lstr
from knovexlite_spark.language.normalize import dnf_conjuncts

# The one column of a fully ground atom's frame (a sentence check).
GROUND = "__ground__"


def _atom_columns(atom: Atomic) -> tuple[str, ...]:
    """The columns of an atom's frame: its distinct variables, or
    ``GROUND`` when it has none."""
    names = tuple(dict.fromkeys(t.name for t in atom.terms if t.is_variable))
    return names or (GROUND,)


@dataclass(frozen=True)
class Edge:
    """One orientation of an atom, ``src -> dst``.  The inverted one
    reads the relation's inverse id (rel XOR 1), as the reference
    augments each query graph (utils/dataloader.py:32-61)."""

    src: Term
    dst: Term
    relation: str
    inverted: bool
    negated: bool


@dataclass(frozen=True)
class ClausePlan:
    """One DNF clause: positive atoms in join order, then anti-joins.
    ``edges`` holds each atom forward then inverted, in the clause's
    written order (positive atoms, then negative ones)."""

    positive: tuple[Atomic, ...]
    negative: tuple[Atomic, ...]
    edges: tuple[Edge, ...]

    def lstr(self) -> str:
        return "&".join(
            [a.lstr() for a in self.positive] + [f"!{a.lstr()}" for a in self.negative]
        )


@dataclass(frozen=True)
class ExactPlan:
    """A compiled lstr: the UNION of its clauses' free-variable values.
    ``symbols`` are the relation and constant names a binding must give."""

    free_var: str
    clauses: tuple[ClausePlan, ...]
    symbols: tuple[str, ...]


def atom_frame(triples: DataFrame, atom: Atomic, bindings: dict[str, int]) -> DataFrame:
    """One atom r(a,b) -> DataFrame of its variable columns.

    Constants become pushed-down filters; variables become renamed
    columns.  A repeated variable (r(e1,e1)) becomes an h=t filter.
    """
    rel_id = bindings[atom.relation]
    df = triples.filter(F.col("r") == F.lit(rel_id))
    head, tail = atom.head, atom.tail
    cols = []
    if head.is_constant:
        df = df.filter(F.col("h") == F.lit(bindings[head.name]))
    if tail.is_constant:
        df = df.filter(F.col("t") == F.lit(bindings[tail.name]))
    if head.is_variable and tail.is_variable and head.name == tail.name:
        df = df.filter(F.col("h") == F.col("t"))
        cols.append(F.col("h").alias(head.name))
    else:
        if head.is_variable:
            cols.append(F.col("h").alias(head.name))
        if tail.is_variable:
            cols.append(F.col("t").alias(tail.name))
    if not cols:  # fully ground atom (sentence check): boolean via count
        cols = [F.lit(1).alias(GROUND)]
    return df.select(*cols)


def _order_positive(clause: ConjunctiveClause) -> list[Atomic]:
    """Greedy connected join order, most-constant-bound atom first."""
    remaining = list(clause.positive)
    if not remaining:
        raise ValueError("clause has no positive atoms")
    remaining.sort(
        key=lambda a: (-sum(t.is_constant for t in a.terms), a.lstr())
    )
    ordered = [remaining.pop(0)]
    bound = {t.name for t in ordered[0].terms if t.is_variable}
    while remaining:
        idx = next(
            (
                i
                for i, a in enumerate(remaining)
                if bound & {t.name for t in a.terms if t.is_variable}
            ),
            0,  # disconnected component: falls back to cross join
        )
        atom = remaining.pop(idx)
        ordered.append(atom)
        bound |= {t.name for t in atom.terms if t.is_variable}
    return ordered


def _edges(clause: ConjunctiveClause) -> tuple[Edge, ...]:
    signed = [(a, False) for a in clause.positive] + [(a, True) for a in clause.negative]
    return tuple(
        edge
        for a, negated in signed
        for edge in (
            Edge(a.head, a.tail, a.relation, False, negated),
            Edge(a.tail, a.head, a.relation, True, negated),
        )
    )


@functools.lru_cache(maxsize=256)
def _compile(lstr: str, free_var: str) -> ExactPlan:
    formula = parse_lstr(lstr)
    symbols = {a.relation for a in formula.atoms()} | {
        t.name for a in formula.atoms() for t in a.terms if t.is_constant
    }
    clauses = []
    for clause in dnf_conjuncts(formula):
        ordered = _order_positive(clause)
        bound = {c for a in ordered for c in _atom_columns(a)}
        for atom in clause.negative:
            unbound = set(_atom_columns(atom)) - bound
            if unbound:
                raise ValueError(
                    f"unsafe negation: {atom.lstr()} binds {sorted(unbound)} "
                    "not bound by any positive atom"
                )
        if free_var not in bound:
            raise ValueError(f"free variable {free_var!r} not in clause {clause}")
        clauses.append(ClausePlan(tuple(ordered), tuple(clause.negative), _edges(clause)))
    return ExactPlan(free_var, tuple(clauses), tuple(sorted(symbols)))


def compile_plan(
    lstr: str, free_var: str = "f", bindings: dict[str, int] | None = None
) -> ExactPlan:
    """Compile ``lstr`` (cached per (lstr, free_var)); with ``bindings``,
    also reject any symbol they leave unbound."""
    plan = _compile(lstr, free_var)
    if bindings is not None:
        missing = set(plan.symbols) - set(bindings)
        if missing:
            raise ValueError(f"unbound symbols in {lstr!r}: {sorted(missing)}")
    return plan


def _join_chain(
    clause: ClausePlan, frame_of: Callable[[Atomic], DataFrame]
) -> DataFrame:
    """One clause -> DataFrame of all its variable bindings."""
    acc = frame_of(clause.positive[0])
    for atom in clause.positive[1:]:
        right = frame_of(atom)
        shared = sorted(set(acc.columns) & set(right.columns))
        acc = acc.join(right, on=shared) if shared else acc.crossJoin(right)
    for atom in clause.negative:
        neg = frame_of(atom)
        acc = acc.join(neg, on=sorted(neg.columns), how="left_anti")
    return acc


def _batched_atom_frame(
    triples: DataFrame, inst: DataFrame, atom: Atomic
) -> DataFrame:
    """One atom over a batch of instances: (query_id, bindings MAP) x
    triples, with the per-instance relation/constant bindings as join
    conditions (L7 batched parameter binding — the instance frame is
    the batch).  The instance side carries an EXPLICIT broadcast hint:
    it is driver-sized by contract, but it usually arrives via
    createDataFrame (no stats), and without the hint Spark planned a
    SortMergeJoin that shuffled the whole edge set by relation id —
    ~10 distinct values, maximal skew — per atom (caught by round-4
    gate profiling: the shuffle was ~3x the rest of the QAA gate)."""
    t_ = triples.alias("T")
    i_ = F.broadcast(inst.alias("I"))

    def bound(sym: str) -> F.Column:
        return F.element_at(F.col("I.bindings"), F.lit(sym))

    cond = F.col("T.r") == bound(atom.relation)
    cols = [F.col("I.query_id").alias("query_id")]
    head, tail = atom.head, atom.tail
    if head.is_constant:
        cond = cond & (F.col("T.h") == bound(head.name))
    if tail.is_constant:
        cond = cond & (F.col("T.t") == bound(tail.name))
    if head.is_variable and tail.is_variable and head.name == tail.name:
        cond = cond & (F.col("T.h") == F.col("T.t"))
        cols.append(F.col("T.h").alias(head.name))
    else:
        if head.is_variable:
            cols.append(F.col("T.h").alias(head.name))
        if tail.is_variable:
            cols.append(F.col("T.t").alias(tail.name))
    return i_.join(t_, cond).select(*cols)


def answer_counts_batched(
    triples: DataFrame,
    lstr: str,
    instances: DataFrame,
    free_var: str = "f",
) -> DataFrame:
    """Batched exact evaluation with DERIVATION COUNTS: for every
    instance of one query shape, score(t) = number of assignments to the
    existential variables that derive the answer (A2 grouped-sum
    conjunction evidence; the exact-semantics analogue of the
    reference's batched QAA scoring, dataloader.py:64-102).

    instances: (query_id LONG, bindings MAP<STRING,LONG>) binding every
    r*/s* symbol.  Returns (query_id, t, score LONG), sparse — entities
    with no derivation are implicitly 0.
    """
    plan = compile_plan(lstr, free_var)
    if len(plan.clauses) != 1:
        raise NotImplementedError(
            "answer_counts_batched: single-clause shapes only (disjuncts "
            "have no canonical count semantics)"
        )
    inst = instances.select("query_id", "bindings")
    # Every r*/s* symbol of the clause must be bound (non-NULL) in every
    # instance: element_at on a missing key yields NULL, which makes the
    # atom join silently produce ZERO derivations for that instance
    # instead of an error (round-2 advisor finding).  Instance frames
    # are driver-sized by contract (they are the query batch), so one
    # eager validation job is cheap.
    req_arr = F.array(*[F.lit(s) for s in plan.symbols])
    bad = inst.filter(
        F.exists(req_arr, lambda s: F.element_at(F.col("bindings"), s).isNull())
    )
    bad_rows = bad.select("query_id").limit(20).collect()
    if bad_rows:
        raise ValueError(
            f"answer_counts_batched: instances {[r['query_id'] for r in bad_rows]} "
            f"are missing bindings for some of the clause symbols {list(plan.symbols)}"
        )
    acc = _join_chain(plan.clauses[0], lambda a: _batched_atom_frame(triples, inst, a))
    return acc.groupBy("query_id", F.col(free_var).alias("t")).agg(
        F.count("*").cast("long").alias("score")
    )


def answer_exact(
    triples: DataFrame,
    lstr: str,
    bindings: dict[str, int],
    free_var: str = "f",
) -> DataFrame:
    """Answer an EFO query exactly: the distinct set of free-variable
    entity ids, one clause plan per DNF disjunct combined by UNION."""
    plan = compile_plan(lstr, free_var, bindings)
    parts = [
        _join_chain(c, lambda a: atom_frame(triples, a, bindings)).select(free_var)
        for c in plan.clauses
    ]
    # ∃-projection of everything but the free variable + DNF set-union.
    return functools.reduce(DataFrame.unionByName, parts).distinct()
