from knovexlite_spark.language.ast import (
    Atomic,
    Conjunction,
    Disjunction,
    Formula,
    Negation,
    Term,
    TermType,
)
from knovexlite_spark.language.parser import parse_lstr
from knovexlite_spark.language.normalize import to_dnf, push_negations, dnf_conjuncts
from knovexlite_spark.language.query import QUERY_TYPES

__all__ = [
    "Atomic",
    "Conjunction",
    "Disjunction",
    "Formula",
    "Negation",
    "Term",
    "TermType",
    "parse_lstr",
    "to_dnf",
    "push_negations",
    "dnf_conjuncts",
    "QUERY_TYPES",
]
