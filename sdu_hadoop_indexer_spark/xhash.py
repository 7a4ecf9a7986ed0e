"""Cross-engine deterministic hashing for sketch / LSH operators.

Spark's ``xxhash64`` has no DuckDB twin, which forced the MinHash / SimHash /
count-min family to be ROWS-ONLY at the oracle gate.  This module defines a
hash family BOTH engines evaluate bit-identically, so those operators can be
EXACT-oracled:

- ``xh1(expr)``/``xh2(expr)`` — a left-fold polynomial hash of a string's
  characters, ``h := (h*M + codepoint) % P`` with ``P = 1_000_000_007``.
  Spark evaluates it with ``aggregate(split(s, ''), init, ...)``; DuckDB with
  ``list_reduce(list_prepend(init, list_transform(string_split(s, ''), ...)))``.
  Both are plain int64 arithmetic in the engine (JVM codegen / vectorized),
  and both fold in identical left-to-right order, so the results agree
  exactly (verified by the oracle gate, and int64 overflow is impossible:
  every intermediate is < 2**62).

- ``hfam(i, x1, x2)`` — the i-th member of a universal-style family
  ``(A[i]*x1 + C[i]*x2 + B[i]) % P`` over the pair of independent folds
  ``x1, x2`` (two multipliers/seeds → ~60 bits of term identity, keeping
  accidental full-collisions across a 100 TB vocabulary negligible while
  every operand stays < 2**30 so products stay < 2**60 — DuckDB raises on
  int64 overflow where Spark wraps, so provable headroom is load-bearing).

Constants come from a fixed LCG so the family is reproducible from source
with no runtime RNG (SURVEY §5.2: no nondeterminism in registered queries).

Every Spark-side function here writes its column as SQL text and returns
ONE ``F.expr(...)``, so making a column is one py4j round-trip instead of
one per literal and operator (a cold 16-member signature + 4 band keys used
to cost thousands of round-trips). The functions take SQL text too: a
column name or any Spark SQL expression, never a ``Column``. ``hfam`` and
``combine`` hand Spark the very ``hfam_sql``/``combine_sql`` text the DuckDB
twins run (both engines parse ``::BIGINT``, ``%`` and the arithmetic
identically); only the fold differs, as ``aggregate(split(...))`` against
DuckDB's ``list_reduce``.

Production swap (``SPARK_GRAFT_XXHASH=1``): the char-fold is O(chars) of
JVM expression work per term — the right price for EXACT oracles at gate
scale, but at 100 TB the vocabulary hash should be ONE native call. With
the env switch set, :func:`xh1`/:func:`xh2` become
``pmod(xxhash64(seed_tag, col), XH_P)`` — same value domain [0, XH_P), so
every downstream ``hfam``/``combine``/min-reduction bound and the whole
MinHash/SimHash/CMS/LSH/bloom pipeline structure are untouched; only the
per-term cost drops from O(chars) multiply-mod steps to one vectorized
xxhash64. The DuckDB oracle twins intentionally have NO xxhash64
equivalent — the oracle path stays pinned to the portable fold (gate runs
never set the flag), and `tests/test_xhash.py` pins the structural
equivalence: identical strings sketch identically under either family, so
exact-duplicate candidate structure is family-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import Column
from pyspark.sql import functions as F


def production_hashing() -> bool:
    """True when the xxhash64 production family is switched on via env.

    Read at expression-build time (not import time) so a test or a prod
    session can flip it per-query; registered oracle runs leave it unset."""
    return os.environ.get("SPARK_GRAFT_XXHASH", "") not in ("", "0", "false")

XH_P = 1_000_000_007  # prime modulus, < 2**30
_M1, _INIT1 = 131, 7
_M2, _INIT2 = 137, 17

_LCG_A, _LCG_C, _LCG_M = 1103515245, 12345, 2**31


def _lcg_consts(seed: int, n: int) -> list[int]:
    """n reproducible constants in [1, 2**30): a fixed LCG stream."""
    out, s = [], seed
    for _ in range(n):
        s = (_LCG_A * s + _LCG_C) % _LCG_M
        out.append(s % (2**30 - 1) + 1)
    return out


_N_FAM = 64  # enough members for SimHash's 64 bit-votes; MinHash uses 16
A = _lcg_consts(1, _N_FAM)
B = _lcg_consts(2, _N_FAM)
C = _lcg_consts(3, _N_FAM)


def extended_planes(n: int) -> tuple[list[int], list[int]]:
    """(A, B) constants for n family members — the SAME LCG streams as the
    module-level A/B (identical prefix for n ≤ 64), continued past 64 for
    consumers that need more planes than the default family carries (the
    production sign-LSH band operating point: bands × planes can exceed
    64 there). Pure function of n; no runtime RNG."""
    return _lcg_consts(1, n), _lcg_consts(2, n)


def xh1(expr: str) -> Column:
    """First string hash over a Spark SQL string expression (a column name
    or any SQL text): portable char-fold, or xxhash64 in production."""
    return _xh(expr, 1, _M1, _INIT1)


def xh2(expr: str) -> Column:
    """Second, independent string hash (different seed tag / multiplier)."""
    return _xh(expr, 2, _M2, _INIT2)


def _xh(expr: str, tag: int, mult: int, init: int) -> Column:
    if production_hashing():
        return F.expr(f"pmod(xxhash64({tag}, {expr}), {XH_P})")
    return _fold(expr, mult, init)


def _fold(expr: str, mult: int, init: int) -> Column:
    return F.expr(
        f"aggregate(split({expr}, ''), {init}::BIGINT, "
        f"(h, c) -> (h * {mult} + ascii(c)) % {XH_P})"
    )


def xh1_sql(expr: str) -> str:
    """DuckDB twin of :func:`xh1` over an SQL string expression."""
    return _fold_sql(expr, _M1, _INIT1)


def xh2_sql(expr: str) -> str:
    return _fold_sql(expr, _M2, _INIT2)


def _fold_sql(expr: str, mult: int, init: int) -> str:
    return (
        f"list_reduce(list_prepend({init}::BIGINT, "
        f"list_transform(string_split({expr}, ''), c -> ascii(c)::BIGINT)), "
        f"(h, c) -> (h * {mult} + c) % {XH_P})"
    )


def hfam(i: int, x1: str = "x1", x2: str = "x2") -> Column:
    """i-th family hash over the fold-pair columns — value in [0, XH_P)."""
    return F.expr(hfam_sql(i, x1, x2))


def hfam_sql(i: int, x1: str = "x1", x2: str = "x2") -> str:
    # ::BIGINT so the products can't overflow INT32 even on literal operands;
    # the same text parses in Spark and DuckDB
    return (
        f"(({A[i]}::BIGINT * ({x1}) + {C[i]}::BIGINT * ({x2}) + {B[i]}) % {XH_P})"
    )


# Fold used to combine several already-reduced values (< XH_P each) into one
# bucket key — e.g. a MinHash band hash over its row minima. A single mod-P
# combine is only ~30 bits: at 10^9 docs that is ~C(n,2)/2^30 spurious
# same-bucket collisions per band, so `combine` packs TWO independent mod-P
# folds (different multipliers) as c1*XH_P + c2 — a ~60-bit key, still
# provably < 2^61 so DuckDB's checked int64 arithmetic can't overflow.
_COMBINE_M1 = 1_000_003
_COMBINE_M2 = 1_000_033

# Exclusive upper bound of combine()'s output: (XH_P-1)*XH_P + XH_P = XH_P².
COMBINE_BOUND = XH_P * XH_P


def combine(exprs: list[str]) -> Column:
    """Band key over already-reduced value columns (names or SQL text)."""
    return F.expr(combine_sql(exprs))


def _combine_one_sql(exprs: list[str], mult: int) -> str:
    h = f"({exprs[0]})::BIGINT"
    for e in exprs[1:]:
        h = f"(({h}) * {mult}::BIGINT + ({e})) % {XH_P}"
    return h


def combine_sql(exprs: list[str]) -> str:
    return (
        f"({_combine_one_sql(exprs, _COMBINE_M1)}) * {XH_P}::BIGINT"
        f" + ({_combine_one_sql(exprs, _COMBINE_M2)})"
    )
