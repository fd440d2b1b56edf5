"""Local replica of the driver's correctness gate: run every registered
query on Spark AND its oracle SQL on DuckDB over the same parquet, then
compare row count, column names, and order-insensitive values.

This is the primary test (SURVEY.md §5.2.1) — if this passes at sf0.001
locally, the driver's sf0.01 check should pass identically.
"""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entrymod


def _norm(v):
    # returns a (tag, value) pair so rows with NULLs still sort.
    # Null semantics mirror the driver (evidenced by its round-1..5
    # records): None / NaN / NaT are ONE null marker (r1 passed a
    # nullable-timestamp oracle whose pandas fetch yields NaT against
    # Spark None), but numeric TYPE promotion is NOT normalized —
    # '5.0' vs '5' fails, exactly like the round-2 HUGEINT incident.
    import pandas as pd

    try:
        if v is None or (not isinstance(v, (list, tuple, str)) and pd.isna(v)):
            return (0, "")
    except (TypeError, ValueError):
        pass
    if isinstance(v, float):
        if math.isnan(v):
            return (0, "")
        # tolerate float round-trip noise between engines
        return (1, str(round(v, 6)))
    if isinstance(v, list):
        return (1, str(tuple(_norm(x) for x in v)))
    return (1, str(v))


def _rows_to_multiset(cols, rows):
    # driver compares order-insensitively with columns sorted by name
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def _duck_connection(sf_dir: str, spill_dir) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # DuckDB's default buffer pool is 80% of host RAM; one connection
    # serves a whole sweep, so bound it and let large oracles spill, to a
    # bounded directory (an unbounded spill can fill the disk)
    con.execute("SET memory_limit = '4GB'")
    con.execute(f"SET temp_directory = '{spill_dir}'")
    con.execute("SET max_temp_directory_size = '8GB'")
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


QUERIES = entrymod.queries()
ORACLE = entrymod.oracle_sql()

# Queries whose CORRECT answer is legitimately empty at small scale
# factors — an explicit declaration, so the non-vacuousness guard below
# stays a hard default without forbidding intentionally-empty results
# (r14 advice).  Empty today; adding a name here is a reviewed decision,
# not a convenience.
ALLOWED_EMPTY: frozenset[str] = frozenset()


@pytest.fixture(scope="module")
def duck(oracle_sf_dir, tmp_path_factory):
    con = _duck_connection(oracle_sf_dir, tmp_path_factory.mktemp("duck_spill"))
    yield con
    con.close()


def assert_query_matches_oracle(name: str, spark, sf_dir: str, duck) -> None:
    """One query vs its oracle at the given scale (shared with the
    sf0.1 slow sweep in test_oracle_parity_sf01.py)."""
    sdf = QUERIES[name](spark, sf_dir)
    spark_rows = sdf.collect()
    spark_cols = sdf.columns

    if name not in ORACLE:
        # rows-only contract for non-SQL-expressible ops
        assert len(spark_rows) >= 0
        return

    # fetch through PANDAS, exactly like the driver: a NULL in an
    # integral column promotes the whole column to float64 ('5.0' vs
    # '5'), timestamps become Timestamp/NaT — fetchall()'s native
    # Python values masked that class of crack until round 6 (it cost
    # five would-be driver FAILs in the rotated window)
    od = duck.execute(ORACLE[name]).fetchdf()
    duck_cols = list(od.columns)
    duck_rows = [tuple(r) for r in od.itertuples(index=False)]

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    left = _rows_to_multiset(spark_cols, [tuple(r) for r in spark_rows])
    right = _rows_to_multiset(duck_cols, duck_rows)
    assert left == right, f"{name}: value mismatch (first diff: {_first_diff(left, right)})"
    # non-vacuousness guard (r14 review): a query that returns 0 rows
    # agrees with ANY oracle — three shipped queries (tpch_q11,
    # anti_join_customers, except_nations) were green for rounds while
    # exercising nothing.  An empty result is a test-data bug, not a
    # parity pass — unless the query DECLARES emptiness as its correct
    # answer via ALLOWED_EMPTY (r14 advice: don't conflate a fixture
    # gap with a parity failure for legitimately-empty results).
    assert len(spark_rows) > 0 or name in ALLOWED_EMPTY, (
        f"{name}: vacuous parity (0 rows at this SF) — if emptiness is "
        "the intended answer, declare it in ALLOWED_EMPTY"
    )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, oracle_sf_dir, duck):
    assert_query_matches_oracle(name, spark, oracle_sf_dir, duck)


def _first_diff(a, b):
    for x, y in zip(a, b):
        if x != y:
            return (x, y)
    return ("length", len(a), len(b))


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns


def test_no_oracle_emits_client_fragile_types(duck):
    """Guard: the driver's compare converts both result sets through
    pandas, where DuckDB HUGEINT (integer SUM) silently becomes float64
    ('1234.0' vs Spark's '1234'), DECIMAL widens oddly, and nested lists
    stringify as numpy arrays. Every oracle must emit only scalar types
    both clients render identically (cost the round-2 driver gate five
    false FAILs)."""
    fragile = {"HUGEINT", "UHUGEINT"}
    for name, sql in ORACLE.items():
        rel = duck.sql(sql)
        for col, typ in zip(rel.columns, rel.types):
            t = str(typ)
            assert t not in fragile, f"{name}.{col} is {t}"
            assert not t.startswith("DECIMAL"), f"{name}.{col} is {t}"
            assert not t.endswith("[]"), f"{name}.{col} is a list type"


def test_driver_window_is_curated_and_fully_oracle_paired():
    """The harness checks the FIRST 50 registered queries; pin that the
    curated window is exactly what registers first and every entry has
    an oracle (hard hash signal) — except the rows-only entries whose
    contract IS rows-only (trained-model recalls, sampling, recurrences
    DuckDB can't replay, the thread-pool DelayedObjects fleet); the
    driver records those as no_oracle executions."""
    from dask_obj_spark.queries import _WINDOW_50

    names = list(QUERIES)
    assert names[:50] == list(_WINDOW_50)
    # rows-only contracts are marked by the _rowsonly suffix; every other
    # window entry must carry the hard hash signal
    assert all(
        n in ORACLE for n in names[:50] if not n.endswith("_rowsonly")
    )
