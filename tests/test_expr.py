"""Expr unit tests: grammar parity with the reference doctest examples
(src/dask_obj/expr.py:265-281, typo fixed), Python replay semantics
(expr.py:393-435), re-rooting (expr.py:465-468), and compile-to-Column
equivalence (property-tested against replay)."""

import math

import pytest
from pyspark.sql import functions as F

from dask_obj_spark.expr import (
    NO_VALUE,
    CompileError,
    Expr,
    compile_expr,
    replace_root_value,
)


class Obj:
    def __init__(self, **kw):
        self.__dict__.update(kw)


# -- C1-C5 capture + C7 rendering --------------------------------------------


def test_attr_chain_str():
    e = Expr("e")
    assert str(e.foo) == "e.foo"
    assert str(e.foo.bar) == "e.foo.bar"


def test_getitem_str():
    assert str(Expr("e")["k"]) == "e['k']"
    assert str(Expr("e")[0]) == "e[0]"


def test_call_str():
    assert str(Expr("e").foo(1, two=2)) == "e.foo(1, two=2)"


def test_func_application_str():
    e = Expr("e").F(len)
    assert str(e) == "len(e)"


def test_operator_str():
    assert str(Expr("e") + 1) == "(e + 1)"
    assert str(1 + Expr("e")) == "(1 + e)"
    assert str(-Expr("e")) == "(-e)"
    assert str(abs(Expr("e"))) == "abs(e)"
    assert str((Expr("a") + 1) * 2) == "((a + 1) * 2)"


def test_structural_hash():
    assert hash(Expr("e").x + 1) == hash(Expr("e").x + 1)
    assert hash(Expr("e").x + 1) != hash(Expr("e").x + 2)


def test_underscore_names_not_captured():
    with pytest.raises(AttributeError):
        Expr("e")._private


# -- C9 evaluation ------------------------------------------------------------


def test_eval_attr_and_item():
    o = Obj(x=41, d={"k": "v"})
    assert (Expr() .x + 1).eval(o) == 42
    assert Expr().d["k"].eval(o) == "v"


def test_eval_bare_attr_returns_value_not_call():
    # reference quirk (expr.py:427): zero-arg attr returns the bound
    # method/value; a following call frame triggers invocation
    o = Obj(m=lambda: "called")
    bare = Expr().m.eval(o)
    assert callable(bare)
    assert Expr().m().eval(o) == "called"


def test_eval_method_call():
    assert Expr().upper().eval("abc") == "ABC"
    assert Expr().split(",").eval("a,b") == ["a", "b"]


def test_eval_func_application():
    assert Expr().F(len).eval("abcd") == 4
    assert Expr().F(lambda v, k: v * k, 3).eval(2) == 6


def test_eval_operators_include_reflected():
    assert (10 - Expr()).eval(3) == 7
    assert (Expr() ** 2).eval(3) == 9
    assert (~Expr()).eval(5) == -6
    assert ((Expr() + 1) * (Expr() - 1)).eval(3) == 8


def test_eval_root_literal_and_callable():
    assert (Expr(21) * 2).eval() == 42
    assert (Expr(lambda: 10) + 5).eval() == 15  # lazy source constructor


def test_eval_symbolic_root_without_value_raises():
    with pytest.raises(ValueError):
        (Expr() + 1).eval()


# -- C11/C12 linearize / re-root ---------------------------------------------


def test_frames_roundtrip():
    e = Expr("e").x[0] + 1
    rebuilt = Expr.from_frames(e.root, e.frames)
    assert str(rebuilt) == str(e)


def test_replace_root_value():
    e = Expr("e").x * 10
    assert replace_root_value(e, Obj(x=7)).eval() == 70


# -- compile-to-Column --------------------------------------------------------


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [(1, "Ab", [10, 20], 2.5), (2, "cD", [30], 0.5)],
        "id long, s string, arr array<int>, x double",
    )


def test_compile_named_root(df):
    out = df.select(compile_expr(Expr("id") + 100).alias("v")).collect()
    assert sorted(r.v for r in out) == [101, 102]


def test_compile_method_dispatch(df):
    out = df.select(compile_expr(Expr("s").upper()).alias("v")).collect()
    assert sorted(r.v for r in out) == ["AB", "CD"]


def test_compile_getitem_array(df):
    out = df.select(compile_expr(Expr("arr")[0]).alias("v")).collect()
    assert sorted(r.v for r in out) == [10, 30]


def test_compile_operator_tree(df):
    e = (Expr("id") * 2 + 1).F  # noqa: B018 — just building
    e = Expr("id") * 2 + 1
    out = df.select(compile_expr(e).alias("v")).collect()
    assert sorted(r.v for r in out) == [3, 5]


def test_compile_cross_column_operands(df):
    e = Expr("id") + Expr("x")
    out = df.select(compile_expr(e).alias("v")).collect()
    assert sorted(r.v for r in out) == [2.5, 3.5]


def test_compile_floordiv_matches_python(df):
    e = Expr("id") // 2
    out = df.select(compile_expr(e).alias("v")).collect()
    assert sorted(r.v for r in out) == [0, 1]


def test_compile_unknown_method_requires_fallback_type(df):
    e = Expr("s").swapcase()  # no JVM mapping
    with pytest.raises(CompileError):
        compile_expr(e)
    out = df.select(compile_expr(e, fallback_type="string").alias("v")).collect()
    assert sorted(r.v for r in out) == sorted(["aB", "Cd"])


def test_compile_symbolic_root_requires_column():
    with pytest.raises(CompileError):
        compile_expr(Expr() + 1)


def test_compile_unconvertible_operand_is_compile_error(df):
    class Opaque:
        pass

    for e in (Expr("id") == Opaque(), Expr("s")[Opaque()], Expr(Opaque()).x):
        with pytest.raises(CompileError, match="no JVM literal form"):
            compile_expr(e)


# -- property test: compiled Column ≡ Python replay ---------------------------


def test_property_compile_equals_replay(spark):
    from hypothesis import given, settings, strategies as st

    rows = [(i, float(i) + 0.5) for i in range(1, 8)]
    df = spark.createDataFrame(rows, "a long, b double")
    data = [dict(a=r[0], b=r[1]) for r in rows]

    # arithmetic chain with at most one trailing comparison: Spark booleans
    # are not numeric (unlike Python bools), a documented analysis-time
    # semantic difference — arithmetic on a comparison result is rejected
    # by Catalyst rather than silently coerced
    arith = st.sampled_from(["add", "sub", "mul"])
    cmps = st.sampled_from(["ge", "lt", "eq"])
    consts = st.integers(min_value=-5, max_value=5)

    @settings(max_examples=15, deadline=None)
    @given(
        st.lists(st.tuples(arith, consts), min_size=1, max_size=4),
        st.one_of(st.none(), st.tuples(cmps, consts)),
    )
    def check(chain, final_cmp):
        e = Expr("a")
        for opname, c in chain:
            e = getattr(e, f"__{opname}__")(c)
        if final_cmp is not None:
            e = getattr(e, f"__{final_cmp[0]}__")(final_cmp[1])
        compiled = [r.v for r in df.select(compile_expr(e).alias("v")).collect()]
        replayed = [replace_root_value(e, row["a"]).eval() for row in data]
        assert compiled == replayed

    check()


def test_dispatch_python_parity_edge_cases(spark):
    """JVM dispatch must agree with the Python method it claims to map
    (the module's 'semantics-faithful' contract), including uncased
    strings for islower/isupper and the empty-substring count."""
    from dask_obj_spark.functions.dispatch import dispatch_method

    vals = ["abc", "ABC", "aBc", "123", "abc1", "ABC1", "", "a b", "  "]
    df = spark.createDataFrame([(v,) for v in vals], ["s"])
    cols = [
        dispatch_method("islower", F.col("s")).alias("lo"),
        dispatch_method("isupper", F.col("s")).alias("up"),
        dispatch_method("count", F.col("s"), "b").alias("cb"),
        dispatch_method("count", F.col("s"), "").alias("ce"),
    ]
    got = {r.s: r for r in df.select("s", *cols).collect()}
    for v in vals:
        assert got[v].lo == v.islower(), ("islower", v)
        assert got[v].up == v.isupper(), ("isupper", v)
        assert got[v].cb == v.count("b"), ("count b", v)
        assert got[v].ce == v.count(""), ("count empty", v)

    # split maxsplit counts SPLITS, Spark's limit counts PARTS (r13
    # review finding: the 1:1 mapping sheared one part off every
    # maxsplit call, and maxsplit=0 meant "unlimited")
    sdf = spark.createDataFrame([("a b c d",)], ["s"])
    for ms in (0, 1, 2, -1):
        col = dispatch_method("split", F.col("s"), " ", ms)
        gotv = sdf.select(col.alias("x")).collect()[0].x
        assert gotv == "a b c d".split(" ", ms), ("split", ms, gotv)

    # datetime.timestamp() keeps microseconds (UTC session, UTC fixture)
    import datetime

    dt = datetime.datetime(2024, 1, 2, 3, 4, 5, 250000,
                           tzinfo=datetime.timezone.utc)
    tdf = spark.createDataFrame([(dt,)], "t timestamp")
    tcol = dispatch_method("timestamp", F.col("t"))
    assert tdf.select(tcol.alias("v")).collect()[0].v == dt.timestamp()

    # r14 review findings, pinned Python-parity:
    # zfill never truncates and pads AFTER a leading sign
    zvals = ["42", "-42", "+4", "abcdef", "", "-"]
    zdf = spark.createDataFrame([(v,) for v in zvals], ["s"])
    for width in (0, 3, 6):
        zc = dispatch_method("zfill", F.col("s"), width)
        gz = {r.s: r.z for r in zdf.select("s", zc.alias("z")).collect()}
        for v in zvals:
            assert gz[v] == v.zfill(width), ("zfill", v, width, gz[v])

    # ''.split() / '  '.split() == [] (Spark split alone gives [''])
    edf = spark.createDataFrame([("",), ("   ",), ("a  b",)], ["s"])
    sc = dispatch_method("split", F.col("s"))
    ge = {r.s: r.x for r in edf.select("s", sc.alias("x")).collect()}
    for v in ["", "   ", "a  b"]:
        assert ge[v] == v.split(), ("split-ws", v, ge[v])

    # split(None, maxsplit) keeps the remainder VERBATIM — trailing
    # whitespace survives in the last part when the limit is hit, and a
    # whitespace-only remainder is dropped, exactly like CPython
    # ('a b '.split(None, 1) == ['a', 'b '] — r14 advice: full trim ate
    # the trailing space)
    wvals = ["a b ", " a b c ", "a   ", "", "   ", "a \t b  c"]
    wdf = spark.createDataFrame([(v,) for v in wvals], ["s"])
    for ms in (0, 1, 2, 5):
        wc = dispatch_method("split", F.col("s"), None, ms)
        gw = {r.s: r.x for r in wdf.select("s", wc.alias("x")).collect()}
        for v in wvals:
            assert gw[v] == v.split(None, ms), ("split-ws-ms", v, ms, gw[v])

    # int.bit_length is the INTEGER's bit count, not the string's;
    # the type minimum must not ANSI-overflow in abs() — Python gives
    # (-2**63).bit_length() == 64 (r14 advice)
    ivals = [0, 1, 5, -5, 255, 256, 2**40, -(2**63), 2**63 - 1]
    idf = spark.createDataFrame([(v,) for v in ivals], "i long")
    bc = dispatch_method("bit_length", F.col("i"))
    gb = {r.i: r.b for r in idf.select("i", bc.alias("b")).collect()}
    for v in ivals:
        assert gb[v] == v.bit_length(), ("bit_length", v, gb[v])

    # ... and INT_MIN on an int-typed column (abs before the long cast
    # would overflow int arithmetic the same way)
    i32 = [0, -(2**31), 2**31 - 1]
    i32df = spark.createDataFrame([(v,) for v in i32], "i int")
    bc32 = dispatch_method("bit_length", F.col("i"))
    gb32 = {r.i: r.b for r in i32df.select("i", bc32.alias("b")).collect()}
    for v in i32:
        assert gb32[v] == v.bit_length(), ("bit_length-i32", v, gb32[v])

    # float.is_integer survives magnitudes past 2^63 and inf/nan
    fvals = [2.0, 2.5, -0.0, 1e300, float("inf"), float("nan")]
    fdf = spark.createDataFrame([(v,) for v in fvals], "x double")
    ic = dispatch_method("is_integer", F.col("x"))
    rows = fdf.select("x", ic.alias("ok")).collect()
    import math

    for r in rows:
        expect = r.x.is_integer() if not math.isnan(r.x) else False
        assert r.ok == expect, ("is_integer", r.x, r.ok)

    # isoformat keeps nonzero microseconds, omits them when zero
    dts = [
        datetime.datetime(2024, 1, 2, 3, 4, 5, tzinfo=datetime.timezone.utc),
        datetime.datetime(2024, 1, 2, 3, 4, 5, 250000, tzinfo=datetime.timezone.utc),
    ]
    ddf = spark.createDataFrame([(d,) for d in dts], "t timestamp")
    icol = dispatch_method("isoformat", F.col("t"))
    gots = sorted(r.s for r in ddf.select(icol.alias("s")).collect())
    wants = sorted(d.replace(tzinfo=None).isoformat() for d in dts)
    assert gots == wants, (gots, wants)

    # title is NOT JVM-dispatched (initcap diverges on "can't") — the
    # caller's UDF fallback carries the real Python semantics
    assert dispatch_method("title", F.col("s")) is None


def test_getitem_slice_stays_columnar(spark):
    from dask_obj_spark import ObjectFrame

    of = ObjectFrame([[1, 2, 3, 4], [5, 6], [7]], spark)
    sliced = of[1:3]
    assert not sliced.is_pickled  # F.slice, not the pickled replay path
    assert sliced.compute() == [[2, 3], [6], []]
    assert of[:-1].compute() == [[1, 2, 3], [5], []]
    assert of[-2:].compute() == [[3, 4], [5, 6], [7]]
    assert of[1:].compute() == [[2, 3, 4], [6], []]
    # string slices take the replay path but keep Python semantics
    strs = ObjectFrame(["hello", "xy"], spark)
    assert strs[1:3].compute() == ["el", "y"]


def test_expr_slice_compile_matches_python(spark):
    data = [[1, 2, 3, 4, 5], [9], []]
    df = spark.createDataFrame([(v,) for v in data], "a: array<long>")
    for sl in (slice(1, 3), slice(None, -1), slice(-3, None), slice(2, None), slice(None, None)):
        e = Expr("a")[sl]
        got = [r.v for r in df.select(compile_expr(e).alias("v")).collect()]
        assert got == [v[sl] for v in data], sl


def test_map_method_dispatch(spark):
    from dask_obj_spark import ObjectFrame

    df = spark.createDataFrame(
        [({"a": 1, "b": 2},), ({"b": 5},)], "value: map<string,long>"
    )
    of = ObjectFrame(df)
    got_get = of.call("get", "a")
    assert not got_get.is_pickled
    assert sorted(got_get.compute(), key=lambda x: (x is None, x)) == [1, None]
    keys = of.call("keys")
    assert not keys.is_pickled
    assert sorted(map(sorted, keys.compute())) == [["a", "b"], ["b"]]


def test_call_unknown_method_sampled_inference(spark):
    from dask_obj_spark import ObjectFrame

    of = ObjectFrame(["Ab", "cD"], spark)
    out = of.call("swapcase")  # not in the dispatch table
    # sampled-type inference keeps the frame columnar (pandas UDF), not pickled
    assert not out.is_pickled
    assert sorted(out.compute()) == ["Cd", "aB"]


def test_apply_expr_sampled_fallback_stays_columnar(spark):
    from dask_obj_spark import ObjectFrame

    of = ObjectFrame(["Ab", "cD"], spark)
    # map over a recorded expression whose method has no JVM mapping —
    # sampled inference should keep it columnar
    ex = Expr("x").swapcase()
    out = of.map(ex)
    assert not out.is_pickled
    assert sorted(out.compute()) == ["Cd", "aB"]


def test_slice_property_vs_python(spark):
    from hypothesis import given, settings, strategies as st

    data = [[1, 2, 3], [], [4], list(range(7)), [8, 9]]
    df = spark.createDataFrame([(v,) for v in data], "a: array<long>")
    bound = st.one_of(st.none(), st.integers(min_value=-8, max_value=8))

    @settings(max_examples=25, deadline=None)
    @given(bound, bound)
    def check(a, b):
        sl = slice(a, b)
        e = Expr("a")[sl]
        got = [r.v for r in df.select(compile_expr(e).alias("v")).collect()]
        assert got == [v[sl] for v in data], sl

    check()


# -- C14 debug helpers --------------------------------------------------------


def test_repr_str_and_get_name():
    from dask_obj_spark.expr import get_name, repr_str

    assert repr_str("plain") == "plain"
    assert repr_str(42) == "42"

    def named():  # noqa: D401
        pass

    assert get_name("s") == "s"
    assert get_name(named).endswith("named")  # __qualname__ wins
    assert get_name(len) == "len"

    class WithName:
        name = "n1"

    assert get_name(WithName()) == "n1"
    assert get_name(7) == "7"  # falls back to repr_str
    assert get_name(7, otherwise=lambda o: "X") == "X"


def test_print_result_decorator(capsys):
    from dask_obj_spark.expr import Expr, print_result

    @print_result
    def double_eval(e, v):
        return e.eval(v)

    e = Expr("x") + 1
    assert double_eval(e, 41) == 42
    out = capsys.readouterr().out
    assert "result=42" in out


def test_sql_double_rejects_non_finite():
    """fastlit.sql_double must fail loudly on inf/nan (r15 verdict §5:
    repr(inf) is not a valid SQL double token — a silent emit would
    surface later as an opaque parse error)."""
    from dask_obj_spark.functions.fastlit import sql_double

    assert sql_double(1.5) == "1.5D"
    assert sql_double(-0.0) == "-0.0D"
    assert sql_double(5e-324) == "5e-324D"  # subnormal round-trips
    for bad in (math.inf, -math.inf, math.nan):
        with pytest.raises(ValueError, match="non-finite"):
            sql_double(bad)


def test_lit_double_matrix_rejects_empty(spark):
    """An empty matrix or an empty row has no array<array<double>>
    literal: fail at build time, like sql_double on inf/nan."""
    from dask_obj_spark.functions.fastlit import lit_double_matrix

    for bad in ([], [[]], [[1.0, 2.0], []], iter([])):
        with pytest.raises(ValueError, match="lit_double_matrix"):
            lit_double_matrix(bad)
    with pytest.raises(ValueError, match="non-finite"):
        lit_double_matrix([[1.0], [math.nan]])
    got = spark.range(1).select(lit_double_matrix([[1.5, -0.0], [2.0, 3.0]]).alias("m"))
    assert got.schema["m"].dataType.simpleString() == "array<array<double>>"
    assert got.first().m == [[1.5, -0.0], [2.0, 3.0]]
