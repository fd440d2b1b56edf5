"""Single-parse literal arrays (optimization r15, guide §1.2 step 2).

Building a k-element literal array as ``F.array(*[F.lit(c) for c in
vals])`` costs 2k+1 py4j driver round-trips; on this host a round-trip
is several ms, so the 8x64 centroid/hyperplane tables behind the
kmeans/LSH/PQ operators spent SECONDS of pure driver time per query
constructing literals.  One ``F.expr("array(...)")`` parse builds the
identical Literal nodes in a single round-trip.

Exactness: ``repr(float)`` is the shortest digit string that round-trips
to the same IEEE double in Python, and Spark's SQL lexer parses the
``...D`` double literal with correctly-rounded semantics, so the parsed
Literal is BIT-IDENTICAL to what ``F.lit(c)`` would have produced
(verified for subnormals, extremes and exponent forms).
"""

from __future__ import annotations

import math
from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F


def sql_double(x: float) -> str:
    """Exact SQL double literal for ``x``.

    Finite values only: ``repr(inf)`` / ``repr(nan)`` are not valid SQL
    double tokens, so a non-finite input would silently emit text that
    fails to parse (or worse, parses as a column reference) — raise
    loudly instead so a future caller with an unexpected ``inf``
    centroid gets a clear error at build time."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(
            f"sql_double: non-finite value {x!r} has no SQL double literal "
            "form — use F.lit() for inf/nan"
        )
    return repr(x) + "D"


def lit_double_array(vals: Iterable[float]) -> Column:
    """``array<double>`` literal column in one py4j round-trip."""
    return F.expr("array(" + ", ".join(sql_double(v) for v in vals) + ")")


def lit_double_matrix(rows: Iterable[Iterable[float]]) -> Column:
    """``array<array<double>>`` literal in one parse — and, after
    constant folding, ONE Literal node: k·dim doubles ride the plan as
    DATA, not as k·dim expression nodes.  This is what keeps a large
    codebook out of whole-stage-codegen source size (r16: per-codeword
    literal expressions at k=64 codewords × m=8 subspaces generated a
    multi-MiB codegen method that Janino chewed on for minutes per
    stage).

    An empty matrix or an empty row raises ``ValueError``: ``array()``
    parses as ``array<void>``, not ``array<double>``, so it would fail
    later, far from the caller, or silently change the column type."""
    texts = []
    for r in rows:
        vals = [sql_double(v) for v in r]
        if not vals:
            raise ValueError(f"lit_double_matrix: row {len(texts)} is empty")
        texts.append("array(" + ", ".join(vals) + ")")
    if not texts:
        raise ValueError("lit_double_matrix: empty matrix")
    return F.expr("array(" + ", ".join(texts) + ")")
