"""The standard 26-type query corpus: the 15 BetaE + 11 EFO-1 lstr
templates (reference knovex/utils/metric.py:6-66).

An lstr becomes clauses in one place, ``plans/exact.compile_plan``,
which every evaluator (exact, CQD, LMPNN) reads.
"""

# lstr templates for the standard corpus (metric.py:6-66).
BETAE_TYPES = {
    "1p": "r1(s1,f)",
    "2p": "r1(s1,e1)&r2(e1,f)",
    "3p": "r1(s1,e1)&r2(e1,e2)&r3(e2,f)",
    "2i": "r1(s1,f)&r2(s2,f)",
    "3i": "r1(s1,f)&r2(s2,f)&r3(s3,f)",
    "ip": "r1(s1,e1)&r2(s2,e1)&r3(e1,f)",
    "pi": "r1(s1,e1)&r2(e1,f)&r3(s2,f)",
    "2in": "r1(s1,f)&!r2(s2,f)",
    "3in": "r1(s1,f)&r2(s2,f)&!r3(s3,f)",
    "inp": "r1(s1,e1)&!r2(s2,e1)&r3(e1,f)",
    "pin": "r1(s1,e1)&r2(e1,f)&!r3(s2,f)",
    "pni": "r1(s1,e1)&!r2(e1,f)&r3(s2,f)",
    "2u": "r1(s1,f)|r2(s2,f)",
    "up": "(r1(s1,e1)|r2(s2,e1))&r3(e1,f)",
    "up-dnf": "(r1(s1,e1)&r3(e1,f))|(r2(s2,e1)&r3(e1,f))",
}

EFO1_TYPES = {
    "2m": "((r1(s1,e1))&(r2(e1,f)))&(r3(e1,f))",
    "2nm": "((r1(s1,e1))&(r2(e1,f)))&(!(r3(e1,f)))",
    "3mp": "(((r1(s1,e1))&(r2(e1,e2)))&(r3(e2,f)))&(r4(e1,e2))",
    "3pm": "(((r1(s1,e1))&(r2(e1,e2)))&(r3(e2,f)))&(r4(e2,f))",
    "im": "(((r1(s1,e1))&(r2(s2,e1)))&(r3(e1,f)))&(r4(e1,f))",
    "2il": "(r1(s1,f))&(r2(e1,f))",
    "3il": "((r1(s1,f))&(r2(s2,f)))&(r3(e1,f))",
    "3c": "((((r1(s1,e1))&(r2(e1,f)))&(r3(s2,e2)))&(r4(e2,f)))&(r5(e1,e2))",
    "3cm": "(((((r1(s1,e1))&(r2(e1,f)))&(r3(s2,e2)))&(r4(e2,f)))&(r5(e1,e2)))&(r6(e1,f))",
    "3pcp": "(((((r1(s1,e1))&(r2(e1,e3)))&(r3(s2,e2)))&(r4(e2,e3)))&(r5(e1,e2)))&(r6(e3,f))",
    "pni-efo1": "((r1(s1,e1))&(!(r2(e1,f))))&(r3(s2,f))",
}

QUERY_TYPES = {**BETAE_TYPES, **EFO1_TYPES}
