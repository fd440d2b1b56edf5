"""functions/vec.py: every rendering of one kernel agrees bit for bit.

One small seeded frame, evaluated once on Spark (width-guarded unrolled
chains next to the HOF folds) and once on DuckDB (the oracle text).  Rows
of width 1, 7 and 64 take the unrolled branch at their width; short and
mismatched rows take the ELSE branch.  Oracle parity rounds floats to
6 dp, so this is the only exact Spark-vs-DuckDB check on arbitrary
(non-fixture) vectors."""

import ast
import pathlib
import random
import re
import struct

import duckdb
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from dask_obj_spark.functions import vec
from dask_obj_spark.functions.fastlit import lit_double_array, sql_double
from dask_obj_spark.functions.vec import DUCK

WIDTHS = (1, 7, 64)
_SHAPES = [(n, n) for n in WIDTHS for _ in range(3)] + [(6, 6), (7, 8), (64, 7), (63, 64)]
_CNT = 3  # rows behind the rational centroid of the BIGINT numerator

_rng = random.Random(11)
CENTS = {n: [_rng.uniform(-2.0, 2.0) for _ in range(n)] for n in WIDTHS}
SUMS = {n: [_rng.randint(-900, 900) for _ in range(n)] for n in WIDTHS}


def _rows():
    rng = random.Random(5)
    out = []
    for i, (na, nb) in enumerate(_SHAPES):
        out.append(
            (
                i,
                [rng.uniform(-2.0, 2.0) for _ in range(na)],
                [rng.uniform(-2.0, 2.0) for _ in range(nb)],
                [rng.getrandbits(32) for _ in range(na)],
                [rng.getrandbits(32) for _ in range(nb)],
                [rng.randint(-600, 600) for _ in range(na)],
            )
        )
    return out


ROWS = _rows()
_SCHEMA = "id long, a array<double>, b array<double>, wa array<bigint>, wb array<bigint>, xq array<bigint>"


def _bits(v):
    return struct.pack("<d", v) if isinstance(v, float) else v


def _spark_cols():
    """{name: (unrolled-or-guarded Column, HOF Column)} per op and width."""
    a, b = F.col("a"), F.col("b")
    cols = {}
    for n in WIDTHS:
        cent_text = "array(" + ", ".join(sql_double(c) for c in CENTS[n]) + ")"
        sums_text = "array(" + ", ".join(f"{s}L" for s in SUMS[n]) + ")"

        def scaled(x, y):
            return vec.sqdiff(f"{x} * {_CNT}L", y)

        cols[f"dot{n}"] = (vec.fixed_dot("a", "b", n), vec.dot(a, b))
        cols[f"norm{n}"] = (vec.fixed_norm("a", n), vec.l2_norm(a))
        cols[f"cos{n}"] = (
            vec.fixed_cosine("a", "b", n),
            vec.dot(a, b) / (vec.l2_norm(a) * vec.l2_norm(b)),
        )
        cols[f"sqd{n}"] = (
            F.expr(
                vec.guard(
                    ("a", "b"), n, vec.sqdist_sql("a", "b", n), vec.hof_sql(vec.sqdiff, "a", "b")
                )
            ),
            vec.sqdist(a, b),
        )
        cols[f"sqdlit{n}"] = (
            F.expr(
                vec.guard(
                    ("a",),
                    n,
                    vec.sqdist_sql("a", CENTS[n], n),
                    vec.hof_sql(vec.sqdiff, "a", cent_text),
                )
            ),
            vec.sqdist(a, lit_double_array(CENTS[n])),
        )
        cols[f"ham{n}"] = (
            vec.fixed_hamming("wa", "wb", n),
            F.expr(vec.hof_sql(vec.xor_bits, "wa", "wb", "0")),
        )
        cols[f"sqnum{n}"] = (
            F.expr(
                vec.guard(
                    ("xq",),
                    n,
                    vec.sqnum_sql("xq", SUMS[n], _CNT),
                    vec.hof_sql(scaled, "xq", sums_text, "CAST(0 AS BIGINT)"),
                )
            ),
            F.expr(vec.hof_sql(scaled, "xq", sums_text, "CAST(0 AS BIGINT)")),
        )
    # offset dot: token 3 of a against token 5 of b, 8-wide tokens
    wide = (F.size("a") == 64) & (F.size("b") == 64)
    cols["tok"] = (
        F.when(wide, F.expr(vec.dot_sql("a", "b", 8, lo=25, blo=41))),
        F.when(wide, vec.dot(F.slice(a, 25, 8), F.slice(b, 41, 8))),
    )
    return cols


def _duck_sql():
    """DuckDB renderings of the same ops (no DuckDB Hamming/BIGINT forms)."""
    sel = ["id"]
    for n in WIDTHS:
        sel += [
            f"{vec.dot_sql('a', 'b', n, DUCK)} AS dot{n}",
            f"{vec.norm_sql('a', n, DUCK)} AS norm{n}",
            f"{vec.cosine_sql('a', 'b', n, DUCK)} AS cos{n}",
            f"{vec.sqdist_sql('a', 'b', n, DUCK)} AS sqd{n}",
            f"{vec.sqdist_sql('a', CENTS[n], n, DUCK)} AS sqdlit{n}",
        ]
    sel.append(f"{vec.dot_sql('a', 'b', 8, DUCK, lo=25, blo=41)} AS tok")
    return "SELECT " + ", ".join(sel) + " FROM t ORDER BY id"


@pytest.fixture(scope="module")
def evaluated(spark):
    cols = _spark_cols()
    df = spark.createDataFrame(ROWS, _SCHEMA)
    df, pre = vec.chained_prefix_dots(df, "a", "b", WIDTHS, "t")
    exprs = [F.col("id")]
    for name, (fast, hof) in cols.items():
        exprs += [fast.alias(f"{name}_u"), hof.alias(f"{name}_h")]
    for m in WIDTHS:
        exprs.append(F.col(pre[m]).alias(f"pre{m}_u"))
        exprs.append(vec.dot(F.slice("a", 1, m), F.slice("b", 1, m)).alias(f"pre{m}_h"))
    spark_rows = {r["id"]: r.asDict() for r in df.select(*exprs).collect()}

    con = duckdb.connect()
    con.register(
        "t",
        pa.table(
            {
                "id": [r[0] for r in ROWS],
                "a": pa.array([r[1] for r in ROWS], pa.list_(pa.float64())),
                "b": pa.array([r[2] for r in ROWS], pa.list_(pa.float64())),
            }
        ),
    )
    cur = con.execute(_duck_sql())
    names = [d[0] for d in cur.description]
    duck_rows = {r[0]: dict(zip(names, r)) for r in cur.fetchall()}
    con.close()
    return spark_rows, duck_rows


@pytest.mark.parametrize("op", ["dot", "norm", "cos", "sqd", "sqdlit", "pre"])
@pytest.mark.parametrize("n", WIDTHS)
def test_float_kernels_agree_bitwise(evaluated, op, n):
    spark_rows, duck_rows = evaluated
    name = f"{op}{n}"
    unrolled_rows = 0
    for rid, (_, a, b, *_rest) in enumerate(ROWS):
        s = spark_rows[rid]
        u, h = s[f"{name}_u"], s[f"{name}_h"]
        assert _bits(u) == _bits(h), (name, rid, u, h)
        if op == "pre":
            fast = len(a) >= n and len(b) >= n
        else:
            fast = len(a) == n and (op in ("norm", "sqdlit") or len(b) == n)
        if fast:
            unrolled_rows += 1
            d = duck_rows[rid][f"dot{n}" if op == "pre" else name]
            assert _bits(u) == _bits(d), (name, rid, u, d)
    assert unrolled_rows >= 3


def test_offset_dot_agrees_bitwise(evaluated):
    spark_rows, duck_rows = evaluated
    checked = 0
    for rid, (_, a, b, *_rest) in enumerate(ROWS):
        s = spark_rows[rid]
        assert _bits(s["tok_u"]) == _bits(s["tok_h"])
        if len(a) == 64 and len(b) == 64:
            assert _bits(s["tok_u"]) == _bits(duck_rows[rid]["tok"])
            checked += 1
    assert checked == 3


@pytest.mark.parametrize("n", WIDTHS)
def test_integer_kernels_are_exact(evaluated, n):
    spark_rows, _ = evaluated
    for rid, (_, _a, _b, wa, wb, xq) in enumerate(ROWS):
        s = spark_rows[rid]
        assert s[f"ham{n}_u"] == s[f"ham{n}_h"]
        assert s[f"sqnum{n}_u"] == s[f"sqnum{n}_h"]
        if len(wa) == len(wb):
            assert s[f"ham{n}_u"] == sum((x ^ y).bit_count() for x, y in zip(wa, wb))
        else:
            assert s[f"ham{n}_u"] is None
        if len(xq) == n:
            assert s[f"sqnum{n}_u"] == sum(
                (x * _CNT - c) ** 2 for x, c in zip(xq, SUMS[n])
            )


def test_duck_literal_kernels_are_exact():
    """Width-1 sqdist-to-literal kernels, one per offset of a 500-wide
    row, against the same fold in Python.  (Long sums can absorb a
    misrounded literal; single terms cannot.)  DuckDB parses a plain
    ``0.1`` as DECIMAL, whose cast to DOUBLE misrounds ~1 in 8 random
    doubles, so the rendered literal must be a DOUBLE token."""
    rng = random.Random(3)
    vs = [rng.uniform(-2.0, 2.0) for _ in range(500)]
    cs = [rng.uniform(-2.0, 2.0) for _ in range(500)]
    con = duckdb.connect()
    con.register("t", pa.table({"a": pa.array([vs], pa.list_(pa.float64()))}))
    terms = [vec.sqdist_sql("a", [c], 1, DUCK, lo=k + 1) for k, c in enumerate(cs)]
    got = con.execute("SELECT [" + ", ".join(terms) + "] FROM t").fetchone()[0]
    con.close()
    assert [_bits(g) for g in got] == [_bits(0.0 + (v - c) * (v - c)) for v, c in zip(vs, cs)]


# -- source check: the term convention lives in functions/vec.py only ---------

_PKG = pathlib.Path(__file__).resolve().parent.parent / "dask_obj_spark"
_SPARK_TERM = re.compile(r"element_at\([^)]*\{")
_DUCK_TERM = re.compile(r"\[\{[^{}]*\}\]")


def _fstring_text(node: ast.JoinedStr) -> str:
    return "".join(
        str(v.value) if isinstance(v, ast.Constant) else "{" + ast.unparse(v.value) + "}"
        for v in node.values
    )


def unrolled_chain_sites(source: str) -> list[tuple[int, str]]:
    """(line, text) of each f-string element term inside a
    ``" + ".join(...)`` in one module's source."""
    sites = []
    for node in ast.walk(ast.parse(source)):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "join"
            and isinstance(node.func.value, ast.Constant)
            and node.func.value.value == " + "
        ):
            continue
        for sub in ast.walk(node):
            if isinstance(sub, ast.JoinedStr):
                text = _fstring_text(sub)
                if _SPARK_TERM.search(text) or (_DUCK_TERM.search(text) and "*" in text):
                    sites.append((sub.lineno, text))
    return sites


def test_source_check_detects_both_dialects():
    source = (
        'a = " + ".join(f"element_at({v}, {i}) * element_at({w}, {i})" for i in r)\n'
        'b = " + ".join(f"({v}[{i}]-{w}[{i}])*({v}[{i}]-{w}[{i}])" for i in r)\n'
        'c = " + ".join(f"b{i} * {2 ** i}" for i in r)\n'
    )
    assert [line for line, _ in unrolled_chain_sites(source)] == [1, 2]


def test_only_vec_builds_unrolled_kernel_chains():
    sites = [
        f"{p.relative_to(_PKG.parent)}:{line}: {text}"
        for p in sorted(_PKG.rglob("*.py"))
        if p != _PKG / "functions" / "vec.py"
        for line, text in unrolled_chain_sites(p.read_text())
    ]
    assert sites == [], "render vector kernels with functions/vec.py:\n" + "\n".join(sites)


# each vector-search stage, by a fragment only its one helper writes
_STAGE_FRAGMENTS = {
    "_cos_ranked": re.compile(r'F\.desc\(\s*"cos_raw"\s*\)'),  # per-probe top-k window
    "_unit_vectors": re.compile(r'/\s*F\.col\(\s*"_vn"\s*\)'),  # x / _vn normalize
    "_adc_sum": re.compile(r'F\.element_at\(\s*F\.col\(\s*"pt"\s*\)'),  # ADC lookups
}


def vector_stage_sites(
    source: str, fragments: dict[str, re.Pattern] = _STAGE_FRAGMENTS
) -> list[tuple[str, str]]:
    """(helper, enclosing function) of each stage fragment in one
    module's source."""
    owner: dict[int, str] = {}
    for node in ast.walk(ast.parse(source)):  # breadth-first: inner defs win
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for line in range(node.lineno, node.end_lineno + 1):
                owner[line] = node.name
    return [
        (helper, owner.get(source.count("\n", 0, m.start()) + 1, "<module>"))
        for helper, frag in fragments.items()
        for m in frag.finditer(source)
    ]


def test_each_vector_search_stage_is_written_once():
    sites = sorted(
        (helper, f"{p.relative_to(_PKG.parent)}:{fn}")
        for p in sorted(_PKG.rglob("*.py"))
        for helper, fn in vector_stage_sites(p.read_text())
    )
    want = sorted(
        (h, f"dask_obj_spark/operators/similarity.py:{h}") for h in _STAGE_FRAGMENTS
    )
    assert sites == want, "call the one helper of each stage:\n" + "\n".join(
        map(str, sites)
    )


# each DuckDB oracle stage, by a fragment only its one helper in
# queries_similarity.py writes
_ORACLE_FRAGMENTS = {
    "_duck_base": re.compile(r"vec_id AS vid, embedding::DOUBLE\[\] AS v FROM embeddings"),
    "_duck_ranked": re.compile(r"cos_raw DESC, id2"),  # per-probe top-k window
    "_duck_lsh_cand": re.compile(r"SELECT DISTINCT p\.pid, p\.pv, c\.vid, c\.v\s+FROM keyed"),
    "_duck_knn_edges": re.compile(r"SELECT DISTINCT least\(id1, id2\)"),
    "_duck_pq_enc": re.compile(r"vid, s ORDER BY dist, cid"),  # PQ subspace argmin
    "_duck_recall_hits": re.compile(r"count\(a\.id2\)"),
}
# string surgery on rendered SQL: fragments return bare CTE entries and
# `_duck_with` alone writes the WITH
_WITH_SURGERY = {
    "replace": re.compile(r"""\.replace\(\s*["']WITH """),
    "lstrip": re.compile(r"""\.lstrip\(\s*["'],"""),
}


def test_each_oracle_stage_is_written_once():
    files = [(p, p.read_text()) for p in sorted(_PKG.rglob("*.py"))]
    sites = sorted(
        (helper, f"{p.relative_to(_PKG.parent)}:{fn}")
        for p, text in files
        for helper, fn in vector_stage_sites(text, _ORACLE_FRAGMENTS)
    )
    want = sorted(
        (h, f"dask_obj_spark/queries_similarity.py:{h}") for h in _ORACLE_FRAGMENTS
    )
    assert sites == want, "call the one helper of each oracle stage:\n" + "\n".join(
        map(str, sites)
    )
    surgery = [
        f"{p.relative_to(_PKG.parent)}:{fn}: {kind}"
        for p, text in files
        for kind, fn in vector_stage_sites(text, _WITH_SURGERY)
    ]
    assert surgery == [], "compose with _duck_with:\n" + "\n".join(surgery)
