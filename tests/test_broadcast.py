"""One broadcast path: ``frame.<form>`` ≡ ``frame.map(Expr().<form>)`` ≡
Python over ``compute()``, in every storage mode; the ingest typing rule;
the ``Row`` element form of struct frames; and the worker-safe replay."""

import operator
import os
import subprocess
import sys

import numpy as np
import pytest
from pyspark import cloudpickle

from dask_obj_spark.core import ObjectFrame
from dask_obj_spark.expr import _BINARY_OPS, _COMPARISONS, _UNARY_OPS, Expr, replay_udf, replayer


class Int(int):
    """An int subclass: not native, so its frame is pickled."""


class Str(str):
    """A str subclass: not native, so its frame is pickled."""


class P:
    def __init__(self, x, y=0, q=None):
        self.x, self.y, self.q = x, y, q

    def norm(self):
        return (self.x**2 + self.y**2) ** 0.5

    def __eq__(self, other):
        return isinstance(other, P) and (self.x, self.y, self.q) == (other.x, other.y, other.q)


SCALAR_INTS = [3, 5, 7]
ARRAYS = [[1, 2, 3], [4, 5]]
STRS = ["ab", "cD"]
DICTS = [{"a": 1, "b": "xy", "p": (1, 2)}, {"a": 2, "b": "zw", "p": (3, 4)}]
# (rows, DDL): frames built from a DataFrame
NESTED = ([((1, "u", (10,)),), ((2, "v", (20,)),)], "value struct<x: bigint, y: string, q: struct<z: bigint>>")
MAPS = ([({1: "a", 2: "b"},), ({2: "c"},)], "value map<bigint, string>")
STR_MAPS = ([({"k": 1},), ({"j": 2},)], "value map<string, bigint>")
NESTED_MAPS = ([(1, {1: "a"}), (2, {3: "c"})], "a long, m map<bigint, string>")
FLAT = [{"a": 1, "b": "xy"}, {"a": 2, "b": "zw"}]
POINTS = [P(3, 4, P(1)), P(6, 8, P(2))]
MIXED = [[1, "a", 2.5], [2, "b"]]  # mixed element types: pickled lists
PDICTS = [{"a": 1, "b": P(1)}, {"a": 2, "b": P(2)}]
TUPLE_KEYED = [{(0, 1): "a", 0: "z"}, {(0, 1): "b", 0: "y"}]  # non-str keys: pickled
GRIDS = [np.arange(6).reshape(2, 3), np.arange(6, 12).reshape(2, 3)]


def pluck(keys):
    return lambda x: tuple(x[k] for k in keys)


def get(key):
    """A map lookup: a missing key gives None, as Spark's ``getItem``."""
    return lambda x: x.get(key)


def call(name, *args):
    """(frame form, element form) for a method call."""
    return (lambda f: f.call(name, *args)), (lambda x: getattr(x, name)(*args))


def same(form):
    return form, form


def _ops(data):
    cases = []
    for name in _UNARY_OPS:
        fn = getattr(operator, name)
        cases.append((f"unary-{name}", data, None, *same(fn), None))
    for name, fn in _BINARY_OPS.items():
        cases.append((name, data, None, *same(lambda x, fn=fn: fn(x, 2)), None))
        if name not in _COMPARISONS:
            cases.append((f"r{name}", data, None, *same(lambda x, fn=fn: fn(2, x)), None))
    return cases


# (id, items, project, form on frame, form on Expr/element, Python reference or
# None).  Names starting with "_" are never captured, so attribute forms use
# frames whose struct fields are named.
CASES = {
    "scalar": [
        ("attr", NESTED, None, *same(lambda x: x.y), None),
        ("nested-attr", NESTED, None, *same(lambda x: x.q.z), None),
        ("item-0", ARRAYS, None, *same(lambda x: x[0]), None),
        ("item-last", ARRAYS, None, *same(lambda x: x[-1]), None),
        ("item-neg2", ARRAYS, None, *same(lambda x: x[-2]), None),
        ("item-out-of-range", ARRAYS, None, *same(lambda x: x[5]), None),
        ("item-neg-out-of-range", ARRAYS, None, *same(lambda x: x[-4]), None),
        ("str-item-0", STRS, None, *same(lambda x: x[0]), None),
        ("str-item-last", STRS, None, *same(lambda x: x[-1]), None),
        ("slice", ARRAYS, None, *same(lambda x: x[1:]), None),
        ("slice-neg", ARRAYS, None, *same(lambda x: x[-2:-1]), None),
        ("str-slice", STRS, None, *same(lambda x: x[:1]), None),
        ("pluck", NESTED, None, *same(lambda x: x[["y", "x"]]), pluck(["y", "x"])),
        ("map-int-key", MAPS, None, *same(lambda x: x[2]), None),
        ("map-int-key-missing", MAPS, None, *same(lambda x: x[1]), get(1)),
        ("map-str-key-missing", STR_MAPS, None, *same(lambda x: x["k"]), get("k")),
        ("method-known", STRS, None, *call("upper"), None),
        ("method-known-args", STRS, None, *call("find", "D"), None),
        ("method-unknown", STRS, None, *call("swapcase"), None),
        ("method-unknown-args", STRS, None, *call("center", 6, "*"), None),
        *_ops(SCALAR_INTS),
    ],
    "struct": [
        ("attr", DICTS, None, *same(lambda x: x.a), None),
        ("nested-attr", ([(1, (10,)), (2, (20,))], "a long, q struct<z: bigint>"), None, *same(lambda x: x.q.z), None),
        ("nested-map-int-key", NESTED_MAPS, None, *same(lambda x: x.m[1]), lambda x: x.m.get(1)),
        ("item", DICTS, None, *same(lambda x: x["b"]), None),
        ("pluck", DICTS, None, *same(lambda x: x[["b", "a"]]), pluck(["b", "a"])),
        ("method-known-name", FLAT, None, *call("count", 1), None),
        ("method-unknown", FLAT, None, *call("asDict"), None),
        ("eq", FLAT, None, *same(lambda x: x == (1, "xy")), None),
        ("ne", FLAT, None, *same(lambda x: x != (1, "xy")), None),
    ],
    "pickled": [
        ("attr", POINTS, None, *same(lambda x: x.x), None),
        ("nested-attr", POINTS, None, *same(lambda x: x.q.x), None),
        ("item-0", MIXED, None, *same(lambda x: x[0]), None),
        ("item-last", MIXED, None, *same(lambda x: x[-1]), None),
        ("item-out-of-range", MIXED, None, *same(lambda x: x[5]), None),
        ("slice", MIXED, None, *same(lambda x: x[1:]), None),
        ("pluck", PDICTS, None, *same(lambda x: x[["b", "a"]]), pluck(["b", "a"])),
        ("tuple-key", TUPLE_KEYED, None, *same(lambda x: x[0, 1]), None),
        ("tuple-key-grid", GRIDS, None, *same(lambda x: x[1, 2]), None),
        ("method-known", [Str("ab"), Str("cD")], None, *call("upper"), None),
        ("method-unknown", POINTS, None, *call("norm"), None),
        *_ops([Int(3), Int(5), Int(7)]),
    ],
}
PARAMS = [
    pytest.param(mode, *case[1:], id=f"{mode}-{case[0]}") for mode, cases in CASES.items() for case in cases
]


def _outcome(thunk):
    try:
        return ("ok", thunk())
    except Exception as e:  # the error's kind is what must agree
        return ("raised", type(e).__name__)


@pytest.mark.parametrize("mode,items,project,on_frame,on_elem,reference", PARAMS)
def test_broadcast_parity(spark, mode, items, project, on_frame, on_elem, reference):
    if isinstance(items, tuple):
        frame = ObjectFrame(spark.createDataFrame(*items))
    else:
        frame = ObjectFrame(items, spark)
    if project is not None:
        frame = getattr(frame, project)
    assert frame.is_pickled == (mode == "pickled")
    assert frame.is_scalar == (mode != "struct")
    python = _outcome(lambda: [(reference or on_elem)(x) for x in frame.compute()])
    direct = _outcome(lambda: on_frame(frame).compute())
    via_expr = _outcome(lambda: frame.map(on_elem(Expr())).compute())
    if python[0] == "raised":
        assert direct[0] == via_expr[0] == "raised", (python, direct, via_expr)
    else:
        assert direct == via_expr == python


def test_native_forms_stay_columnar(spark):
    """The forms with a Catalyst or sampled-type form never go pickled."""
    arrays = ObjectFrame(ARRAYS, spark)
    strs = ObjectFrame(STRS, spark)
    nested = ObjectFrame(spark.createDataFrame(*NESTED))
    for out in (arrays[-1], arrays[1:], strs[0], strs.call("swapcase"), nested.q.z, nested[["y", "x"]]):
        assert not out.is_pickled


def _plan(frame):
    return frame.df._jdf.queryExecution().executedPlan().toString()


def test_map_lookups_run_in_catalyst(spark):
    """A map's key compiles to ``getItem`` whatever the key's type, so no
    lookup runs as a Python UDF."""
    maps = ObjectFrame(spark.createDataFrame(*MAPS))
    nested = ObjectFrame(spark.createDataFrame(*NESTED_MAPS))
    for out in (maps[1], maps.map(Expr()[2]), nested.m[1], nested.map(Expr().m[3])):
        assert not out.is_pickled
        assert "EvalPython" not in _plan(out)
    assert maps[1].compute() == ["a", None]


def test_numpy_results_stay_columnar(spark):
    """A sampled result types by isinstance: a numpy float is a double."""
    roots = ObjectFrame([1.0, 4.0], spark).map(np.sqrt)
    assert not roots.is_pickled
    assert roots.df.schema[0].dataType.simpleString() == "double"
    assert roots.sum() == 3.0
    assert roots.compute() == [1.0, 2.0]
    lists = ObjectFrame([1.0, 4.0], spark).map(lambda v: [np.float64(v)])
    assert lists.df.schema[0].dataType.simpleString() == "array<double>"
    assert lists.compute() == [[1.0], [4.0]]


def test_unknown_names_still_raise_eagerly(spark):
    dicts = ObjectFrame(DICTS, spark)
    with pytest.raises(AttributeError):
        dicts.nope
    with pytest.raises(KeyError):
        dicts["nope"]
    with pytest.raises(KeyError):
        dicts[["a", "nope"]]
    with pytest.raises(AttributeError):
        ObjectFrame(STRS, spark).nope


def test_broadcast_over_empty_frame(spark):
    """Nothing to sample: the replay runs, over no elements."""
    empty = ObjectFrame([], spark)
    assert empty.map(lambda x: x + 1).compute() == []
    assert (empty * 2).compute() == []


# -- ingest: one typing rule ----------------------------------------------------


@pytest.mark.parametrize(
    "items",
    [
        [{"a": 1}, {"a": "x"}],
        [{"a": P(3)}],
        [{"a": 1}, {"a": 2.5}],
        [(1,), ("x",)],
        [(P(3),)],
        [(1,), (2.5,)],
        [2**70, 1],
        [{"a": 2**64}],
        [{"a": None}],
        [{"a": 1}, {"a": 2, "b": 3}],
        [{"a": {"k": 1}}, {"a": {"k": "v"}}],
        [Int(1), 2],
    ],
    ids=repr,
)
def test_untypable_ingest_goes_pickled_and_round_trips(spark, items):
    frame = ObjectFrame(items, spark)
    assert frame.is_pickled
    back = frame.compute()
    assert back == items
    assert [type(x) for x in back] == [type(x) for x in items]


@pytest.mark.parametrize(
    "items,schema",
    [
        ([{"a": 1, "b": "x", "c": {"x": 1.5}}], "struct<a:bigint,b:string,c:map<string,double>>"),
        ([{"a": {}}, {"a": {"k": 1}}], "struct<a:map<string,bigint>>"),
        ([(1, "a"), (2, "b")], "struct<_1:bigint,_2:string>"),
        ([{"p": (1, [2.5])}], "struct<p:struct<_1:bigint,_2:array<double>>>"),
        ([[1], [], [2]], "struct<value:array<bigint>>"),
        ([True, False], "struct<value:boolean>"),
    ],
)
def test_typed_ingest_schema(spark, items, schema):
    frame = ObjectFrame(items, spark)
    assert not frame.is_pickled
    assert frame.df.schema.simpleString() == schema
    # struct frames come back as Rows, which compare as tuples
    assert frame.compute() == [tuple(x.values()) if isinstance(x, dict) else x for x in items]


def test_reordered_dict_keys_stay_native(spark):
    """Dicts convert to struct rows by key, so key order does not decide
    the mode; the first element's order names the fields."""
    frame = ObjectFrame([{"b": 1, "a": 2, "p": (1, "x")}, {"a": 3, "p": (2, "y"), "b": 4}], spark)
    assert not frame.is_pickled
    assert frame.df.schema.simpleString() == "struct<b:bigint,a:bigint,p:struct<_1:bigint,_2:string>>"
    rows = frame.compute()
    assert [r.asDict(recursive=True) for r in rows] == [
        {"b": 1, "a": 2, "p": {"_1": 1, "_2": "x"}},
        {"b": 4, "a": 3, "p": {"_1": 2, "_2": "y"}},
    ]
    assert frame.a.compute() == [2, 3]


def test_benchmark_dict_schema_unchanged(spark):
    from perfbench.objects import make_inputs

    frame = ObjectFrame(make_inputs(7).dicts[:500], spark)
    assert frame.df.schema.simpleString() == "struct<a:bigint,b:string,c:map<string,double>>"


# -- struct frames: one element form, Row ---------------------------------------


def test_struct_elements_are_rows_everywhere(spark):
    d = ObjectFrame(FLAT, spark)
    n = ObjectFrame([10, 20], spark)
    rows = d.compute()
    assert d.flatten().compute() == [v for r in rows for v in r]
    zipped = d.zip(n).compute()
    assert zipped == list(zip(rows, n.compute()))
    assert {type(r).__name__ for r, _ in zipped} == {"Row"}
    assert d.map(lambda r, k: (type(r).__name__, r.a + k), n).compute() == [("Row", 11), ("Row", 22)]
    assert (d + d).compute() == [r + r for r in rows]
    assert (d == d).compute() == [True, True]
    assert d.map(lambda r: type(r).__name__).compute() == ["Row", "Row"]
    assert d.filter(lambda r: r.a > 1).compute() == rows[1:]
    assert d.remove(lambda r: r.a > 1).compute() == rows[:1]
    # nested structs and arrays too, on the typed and the pickled path
    nested = ObjectFrame([{"p": (1, [2])}], spark)
    assert nested.map(lambda r: (type(r.p).__name__, type(r.p[1]).__name__)).compute() == [("Row", "list")]
    assert [type(r.p).__name__ for r, _ in nested.zip(nested).compute()] == ["Row"]


# -- the shipped replay runs where the package cannot be imported ---------------


def _run_elsewhere(fn, arg, tmp_path):
    """Unpickle ``fn`` in a fresh interpreter that cannot import this
    package (its own directory, no PYTHONPATH) and apply it to ``arg``."""
    code = (
        "import pickle, sys\n"
        "fn, arg = pickle.loads(sys.stdin.buffer.read())\n"
        "out = fn(arg)\n"
        "assert not any(m.startswith('dask_obj_spark') for m in sys.modules)\n"
        "sys.stdout.write(repr(out))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    done = subprocess.run(
        [sys.executable, "-c", code],
        input=cloudpickle.dumps((fn, arg)),
        capture_output=True,
        cwd=tmp_path,
        env=env,
        check=False,
    )
    assert done.returncode == 0, done.stderr.decode()
    return done.stdout.decode()


def test_pickled_broadcast_replay_is_worker_safe(spark, tmp_path, monkeypatch):
    shipped = []
    real = ObjectFrame._map_objects

    def spy(self, fn):
        shipped.append(fn)
        return real(self, fn)

    monkeypatch.setattr(ObjectFrame, "_map_objects", spy)
    nums = ObjectFrame([3 + 4j, 1 - 1j], spark)  # complex is not native: pickled
    assert nums.is_pickled
    forms = [nums.real, nums.call("conjugate"), nums.map(Expr().imag * 2), abs(nums), 1 + nums, nums.imag]
    assert len(shipped) == len(forms)
    got = [_run_elsewhere(fn, 3 + 4j, tmp_path) for fn in shipped]
    assert got == ["3.0", "(3-4j)", "8.0", "5.0", "(4+4j)", "4.0"]


def test_replay_udf_body_is_worker_safe(tmp_path):
    """The Python-UDF body of the sampled-type and pickled steps ships the
    same replay."""
    import pickle

    from pyspark.sql import types as T

    fn = replayer(Expr().swapcase()[1:])
    assert _run_elsewhere(replay_udf(fn, T.StringType()).func, "Ab", tmp_path) == "'B'"
    body = replay_udf(fn, T.StringType(), pickled=True).func
    assert _run_elsewhere(body, pickle.dumps("cDe"), tmp_path) == "'dE'"


def test_scalar_mode_is_decided_where_the_frame_is_made(spark):
    """A struct frame whose only field is named ``value`` stays a struct
    frame: its elements are ``Row``s and broadcasts address the row."""
    from pyspark.sql import Row

    rows = [Row(value=1), Row(value=2)]
    frame = ObjectFrame([{"value": 1}, {"value": 2}], spark)
    assert not frame.is_scalar
    assert frame.compute() == rows
    assert frame.map(lambda r: r).compute() == rows
    assert frame.value.compute() == [1, 2]
    assert frame.filter(Expr().value > 1).compute() == [Row(value=2)]
    assert frame.map(lambda r: r.value * 10).compute() == [10, 20]
    # a projection is a scalar frame, whatever its field is called
    assert frame.value.is_scalar
    # ingested atoms and a user DataFrame with one `value` column are scalar
    assert ObjectFrame([1, 2], spark).compute() == [1, 2]
    user = ObjectFrame(spark.createDataFrame([(1,), (2,)], "value long"))
    assert user.is_scalar and user.compute() == [1, 2]
