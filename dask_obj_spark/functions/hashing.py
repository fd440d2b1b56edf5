"""Engine-portable hashing for oracle-checkable sketch operators.

MinHash/SimHash need hash functions that BOTH Spark and the DuckDB oracle
can compute identically.  Spark's xxhash64/murmur are engine-internal, so
we derive a 60-bit integer hash from md5 (stable, standardized, available
in both):

    spark:  conv(substr(md5(x || '#' || salt), 1, 15), 16, 10)::bigint
    duckdb: ('0x' || substr(md5(x || '#' || salt), 1, 15))::BIGINT

15 hex digits = 60 bits, always positive, fits bigint in both engines.
Verified bit-identical across engines (see tests/test_dedup.py).

At 100 TB one would swap md5 for xxhash64 (≈10× cheaper, no oracle
requirement in production); the operator structure is hash-agnostic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def porthash(col: Column | str, salt: str = "") -> Column:
    """Portable 60-bit hash of a string column (Spark side)."""
    c = F.col(col) if isinstance(col, str) else col
    if salt:
        c = F.concat(c, F.lit(f"#{salt}"))
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def duck_porthash(expr: str, salt: str = "") -> str:
    """The identical hash as a DuckDB SQL expression string."""
    e = f"({expr}) || '#{salt}'" if salt else expr
    return f"('0x' || substr(md5({e}), 1, 15))::BIGINT"


def ws_tokens(col: Column | str) -> Column:
    """Whitespace tokens of a text column: ``split(trim(col), '\\s+')``.
    The one Spark tokenizer every word-level operator shares."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def duck_ws_tokens(expr: str) -> str:
    """The identical tokenization as a DuckDB SQL expression string."""
    return f"string_split_regex(trim({expr}), '\\s+')"


def word_shingles(col: Column | str, n: int) -> Column:
    """Distinct word n-gram shingles of a text column (JVM-side, no UDF):
    split on whitespace → slide an n-window via sequence+transform."""
    words = ws_tokens(col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
            lambda i: F.array_join(F.slice(words, i + 1, n), " "),
        )
    )


def word_ngrams(col: Column | str, n: int) -> Column:
    """ALL word n-grams (non-distinct, corpus-frequency semantics) —
    `word_shingles` minus the per-doc distinct."""
    words = ws_tokens(col)
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(words, i + 1, n), " "),
    )


def duck_word_ngrams(expr: str, n: int) -> str:
    """Identical non-distinct n-grams as a DuckDB SQL expression string."""
    words = duck_ws_tokens(expr)
    return (
        f"list_transform("
        f"range(greatest(len({words}) - {n}, 0) + 1), "
        f"i -> array_to_string({words}[i+1:i+{n}], ' '))"
    )


def duck_word_shingles(expr: str, n: int) -> str:
    """Identical shingling as a DuckDB SQL expression string."""
    words = duck_ws_tokens(expr)
    return (
        f"list_distinct(list_transform("
        f"range(greatest(len({words}) - {n}, 0) + 1), "
        f"i -> array_to_string({words}[i+1:i+{n}], ' ')))"
    )
