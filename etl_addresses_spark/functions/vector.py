"""Vector kernels and their DuckDB twins — the one home of the fold
contract every similarity row's oracle parity rests on.

Spark evaluates a kernel as zip_with + aggregate: per-element doubles
(float -> double is exact) summed by a SEQUENTIAL left fold from a
0.0 seed.  DuckDB's list_reduce folds the same terms in the same
order (Spark's leading +0.0 is an IEEE no-op), so both engines
produce the identical double, row for row.  Two alternatives were
measured and rejected: a decimal accumulation (DuckDB's
DECIMAL->DOUBLE cast is not correctly rounded and diverges from the
JVM's by 1 ulp), and an unrolled 64-term chain for dot products (3x
SLOWER than the fold: 64 GetArrayItem nodes each pay a null+bounds
check, while zip_with/aggregate make one primitive-array traversal).

Squared-L2 keeps the unrolled chain as a tier (`sq_l2(..., dim)`):
the left-associated 0.0 + d1 + d2 + ... is the exact sequence the fold
computes, term for term, so the two tiers are BIT-IDENTICAL (asserted
row-wise in tests and by the unchanged oracle hashes).  Shape rule
(r12, all three shapes measured on the 30x replica — SCALE.md "fold
vs unrolled kernel matrix"): use the unrolled chain ONLY in
broadcast-argmin kernels that evaluate MANY short/medium folds per
probe row against a model-sized build side (corpus x k-centroid
assignment: 5.26 -> 2.00 s; PQ encode 480k x 256 codewords of dim 8:
10.25 -> 4.11 s), past the sizing.use_unrolled_kernel crossover.
Keep the fold for scan-shaped single folds per row (norms: fold 2x
faster) AND for the wide-broadcast cosine kernels, where the unrolled
chain measured 9x SLOWER at 30x (18.6 -> 175 s, corpus x 1200-query
broadcast) — the generated join-loop method grows past JIT limits and
runs deoptimized.

SQ8 integer dots are exact in any order, so their twin is a plain
SQL sum.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import functions as F


def _fold_sum(
    a: F.Column,
    b: F.Column,
    term: Callable[[F.Column, F.Column], F.Column],
    zero: F.Column,
) -> F.Column:
    """term(a[i], b[i]) summed left to right from `zero`."""
    return F.aggregate(F.zip_with(a, b, term), zero, lambda acc, v: acc + v)


def dot(a: F.Column, b: F.Column) -> F.Column:
    """Bit-reproducible dot product of two float vectors."""
    return _fold_sum(
        a, b, lambda x, y: x.cast("double") * y.cast("double"), F.lit(0.0)
    )


def norm(c: F.Column) -> F.Column:
    """L2 norm: sqrt of the sequential-fold self dot product."""
    return F.sqrt(dot(c, c))


def sq_l2(a: F.Column, b: F.Column, dim: int | None = None) -> F.Column:
    """Squared L2 distance.  `dim` selects the bit-identical unrolled
    element_at chain over fixed-width arrays (see the shape rule
    above); None keeps the fold."""
    if dim is None:
        return _fold_sum(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
            F.lit(0.0),
        )
    expr = F.lit(0.0)
    for i in range(1, dim + 1):
        diff = F.element_at(a, i).cast("double") - F.element_at(b, i).cast(
            "double"
        )
        expr = expr + diff * diff
    return expr


def sq8_int_dot(a: F.Column, b: F.Column) -> F.Column:
    """Exact integer dot of two SQ8 code arrays (order-free: integer
    addition is associative, no float caveats)."""
    return _fold_sum(a, b, lambda x, y: x * y, F.lit(0).cast("long"))


def fold_sql(a: str, term: str) -> str:
    """DuckDB twin of the fold: `term` (over index i) for
    i = 1..len(a), summed by list_reduce left to right."""
    return (
        f"list_reduce(list_transform(generate_series(1, len({a})), "
        f"i -> {term}), "
        f"(x, y) -> x + y)"
    )


def dot_sql(a: str, b: str) -> str:
    """DuckDB twin of `dot` for list expressions a/b."""
    return fold_sql(a, f"CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)")


def sq_l2_sql(a: str, b: str) -> str:
    """DuckDB twin of `sq_l2` (both tiers)."""
    diff = f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    return fold_sql(a, f"{diff} * {diff}")


def sq8_int_dot_sql(a: str, b: str) -> str:
    """DuckDB twin of `sq8_int_dot` for int-array expressions a/b."""
    return (
        f"(SELECT sum({a}[i] * {b}[i]) "
        f"FROM UNNEST(generate_series(1, len({b}))) AS u(i))"
    )
