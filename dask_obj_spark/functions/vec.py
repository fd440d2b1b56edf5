"""Vector kernels: the one place that writes dot / norm / cosine /
squared-distance / Hamming expression text, for Spark SQL and for the
DuckDB oracles.

Oracle determinism: every float kernel is the SAME left-associated fold
on both engines, ``(seed + t_1 + ... + t_n)`` over float64 with the
terms in element order and a double seed (``0.0D`` in Spark, ``0.0`` in
DuckDB).  Spark's `F.aggregate` fold, the unrolled `element_at` chain
and DuckDB's ``a[i]`` chain therefore perform the identical sequence of
IEEE operations, so results are bit-identical and rankings compare
without tolerance.  Every text below is rendered from one term template
per op (`prod`, `sqdiff`, `xor_bits`) and one chain renderer (`chain`),
so the conventions cannot drift between copies.

Three Spark forms; each call site keeps the one it uses:

- **HOF folds** (`dot`, `l2_norm`, `sqdist`): Columns over any width.
  `F.aggregate`/`F.zip_with` are CodegenFallback expressions, so every
  row pays an interpreted fold with per-element lambda binding.
- **Unrolled chains** (`dot_sql`, `sqdist_sql`, ...): SQL text for a
  fixed width.  Whole-stage codegen compiles them to straight-line
  double arithmetic (measured ~5x on the brute-kNN scoring stage), and
  one `F.expr` parse is one driver round-trip instead of ~2 per term.
- **Width-guarded Columns** (`fixed_dot`, `fixed_norm`, ...):
  ``CASE WHEN size(..) = n THEN <unrolled> ELSE <HOF fold> END``.  The
  guard exists because ANSI `element_at` past the array end is an
  error, where the fold just folds the actual width; both branches are
  node-for-node the fold at their width, so results are identical for
  every input.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence
from typing import NamedTuple, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dask_obj_spark.functions.fastlit import sql_double


class Dialect(NamedTuple):
    seed: str  # double seed literal of every float fold
    sqrt: str
    elem: Callable[[str, int], str]  # 1-based element of an array expression
    lit: Callable[[float], str]  # exact double literal


def _duck_double(x: float) -> str:
    """Exact DuckDB double literal.  A plain ``0.1`` parses as DECIMAL,
    and DuckDB's DECIMAL→DOUBLE cast misrounds long mantissas (~15% of
    random doubles in [-2, 2]); the exponent form parses as DOUBLE,
    correctly rounded, so ``repr``'s round-trip digits are exact."""
    r = sql_double(x)[:-1]  # finite check + repr digits
    return f"({r})" if "e" in r else f"({r}e0)"


SPARK = Dialect("0.0D", "SQRT", lambda a, i: f"element_at({a}, {i})", sql_double)
DUCK = Dialect("0.0", "sqrt", lambda a, i: f"{a}[{i}]", _duck_double)

Operand = Union[str, Sequence[float]]
"""An array expression (column name or SQL text) or a literal vector."""


# -- term templates and the chain ---------------------------------------------


def prod(x: str, y: str) -> str:
    return f"{x} * {y}"


def sqdiff(x: str, y: str) -> str:
    return f"({x} - {y}) * ({x} - {y})"


def xor_bits(x: str, y: str) -> str:
    return f"bit_count({x} ^ {y})"


def chain(terms: Iterable[str], seed: str) -> str:
    """``(seed + t_1 + ... + t_n)``: `+` parses left-associated on both
    engines, so this is the fold's tree, term for term."""
    return f"({seed} + " + " + ".join(terms) + ")"


def _elems(x: Operand, n: int, lo: int, d: Dialect) -> list[str]:
    if isinstance(x, str):
        return [d.elem(x, i) for i in range(lo, lo + n)]
    if len(x) != n:
        raise ValueError(f"literal vector has {len(x)} elements, kernel width is {n}")
    return [d.lit(v) for v in x]


def fold_sql(
    term: Callable[[str, str], str],
    a: Operand,
    b: Operand,
    n: int,
    d: Dialect = SPARK,
    lo: int = 1,
    blo: int | None = None,
    seed: str | None = None,
) -> str:
    """Unrolled ``term`` fold over ``n`` element pairs: elements
    ``lo..lo+n-1`` of ``a`` against ``blo..`` of ``b`` (default ``lo``).
    A literal-vector operand contributes its ``n`` values in order."""
    xs = _elems(a, n, lo, d)
    ys = _elems(b, n, lo if blo is None else blo, d)
    return chain(map(term, xs, ys), d.seed if seed is None else seed)


def dot_sql(
    a: Operand, b: Operand, n: int, d: Dialect = SPARK, lo: int = 1, blo: int | None = None
) -> str:
    return fold_sql(prod, a, b, n, d, lo, blo)


def sqdist_sql(a: Operand, b: Operand, n: int, d: Dialect = SPARK, lo: int = 1) -> str:
    return fold_sql(sqdiff, a, b, n, d, lo)


def norm_sql(a: str, n: int, d: Dialect = SPARK, lo: int = 1) -> str:
    return f"{d.sqrt}({dot_sql(a, a, n, d, lo)})"


def _cosine(sqrt: str, ab: str, aa: str, bb: str) -> str:
    return f"{ab} / ({sqrt}({aa}) * {sqrt}({bb}))"


def cosine_sql(a: str, b: str, n: int, d: Dialect = SPARK) -> str:
    """``dot(a, b) / (‖a‖·‖b‖)`` over the first ``n`` elements."""
    return _cosine(d.sqrt, dot_sql(a, b, n, d), dot_sql(a, a, n, d), dot_sql(b, b, n, d))


def sqnum_sql(a: str, s: Sequence[int], n: int) -> str:
    """Exact BIGINT numerator ``Σ (a_i·n − s_i)²`` of the squared
    distance to the rational centroid ``s/n``.  Integer adds are
    associative, so order is immaterial; ANSI overflow still raises."""
    xs = (f"{x} * {int(n)}L" for x in _elems(a, len(s), 1, SPARK))
    return chain(map(sqdiff, xs, (f"{int(c)}L" for c in s)), "CAST(0 AS BIGINT)")


# -- Spark folds and width guards ---------------------------------------------


def hof_sql(
    term: Callable[[str, str], str], a: str, b: str, seed: str = SPARK.seed
) -> str:
    """Spark SQL text of the width-generic fold: it parses to the
    ArrayAggregate/ZipWith tree `dot`/`sqdist` build (``0.0D`` is the
    double seed `F.lit(0.0)` produces)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> {term('x', 'y')}), {seed}, "
        "(acc, x) -> acc + x)"
    )


def guard(
    arrays: Sequence[str], n: int, unrolled: str, fold: str, cmp: str = "="
) -> str:
    """``CASE WHEN size(a) <cmp> n AND ... THEN unrolled ELSE fold END``."""
    cond = " AND ".join(f"size({a}) {cmp} {n}" for a in arrays)
    return f"CASE WHEN {cond} THEN {unrolled} ELSE {fold} END"


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns: the width-generic fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def sqdist(a: Column, b: Column) -> Column:
    """Squared euclidean distance of two array columns: the fold of `dot`
    over ``(x - y) * (x - y)``."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def fixed_dot(a: str, b: str, n: int) -> Column:
    """Width-guarded dot of two array columns, ``n`` wide in the fast case."""
    return F.expr(guard((a, b), n, dot_sql(a, b, n), hof_sql(prod, a, b)))


def fixed_norm(a: str, n: int) -> Column:
    return F.expr(guard((a,), n, norm_sql(a, n), f"{SPARK.sqrt}({hof_sql(prod, a, a)})"))


def fixed_cosine(a: str, b: str, n: int) -> Column:
    fold = _cosine(
        SPARK.sqrt, hof_sql(prod, a, b), hof_sql(prod, a, a), hof_sql(prod, b, b)
    )
    return F.expr(guard((a, b), n, cosine_sql(a, b, n), fold))


def fixed_hamming(a: str, b: str, nwords: int) -> Column:
    """Width-guarded Hamming distance over packed sign-bit words: an
    integer fold (≤ 64 per word, no overflow), so any order is exact."""
    unrolled = fold_sql(xor_bits, a, b, nwords, seed="0")
    return F.expr(guard((a, b), nwords, unrolled, hof_sql(xor_bits, a, b, "0")))


def chained_prefix_dots(
    frame: DataFrame, a: str, b: str, widths: tuple[int, ...], prefix: str
) -> tuple[DataFrame, dict[int, str]]:
    """Project one prefix-dot column per width, each chain EXTENDING the
    previous width's column instead of re-unrolling from element 1
    (optimization r16, guide §7.3 plan size): the fold is
    left-associated, so the m₂-prefix sum IS the m₁-prefix sum followed
    by terms m₁+1..m₂, and the total unrolled term count across widths
    drops from Σwidths to max(widths) (120 → 64 at the matryoshka
    fixture widths).

    Each column is guarded by ``size() >= m`` on both arrays; under the
    guard the previous column took its own unrolled branch (its guard is
    implied), outside it the fold runs over ``slice(x, 1, m)``, so every
    width is ``dot(slice(a, 1, m), slice(b, 1, m))`` exactly.  Returns
    the frame plus {width: column name}."""
    cols: dict[int, str] = {}
    seed, lo = SPARK.seed, 1
    for m in sorted(widths):
        name = f"__{prefix}d{m}"
        unrolled = fold_sql(prod, a, b, m - lo + 1, lo=lo, seed=seed)
        fold = hof_sql(prod, f"slice({a}, 1, {m})", f"slice({b}, 1, {m})")
        frame = frame.withColumn(name, F.expr(guard((a, b), m, unrolled, fold, ">=")))
        cols[m] = name
        seed, lo = f"`{name}`", m + 1
    return frame, cols
