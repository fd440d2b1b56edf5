"""Deferred expression recorder compiled to Catalyst Columns.

Capability parity with the reference ``Expr``
(``src/dask_obj/expr.py:259-435``): record chains of attribute access,
indexing, calls, function application, and 34 Python operators as data;
render them as a readable source-like string; replay them against any
Python value with ``eval(value)`` (``expr.py:393-435``); re-root them with
:func:`replace_root_value` (``expr.py:465-468``).

The Spark-native upgrade: :func:`compile_expr` turns the same recorded
frames into a ``pyspark.sql.Column`` — attribute access becomes struct
field resolution, method calls hit the JVM dispatch table
(:mod:`dask_obj_spark.functions.dispatch`), operators become Column
operators — so the recorded computation runs columnar under whole-stage
codegen instead of row-at-a-time ``getattr`` interpretation.  Frames with
no JVM mapping fall back to an Arrow-batched Python UDF replaying the
frames per element (the documented slow path).

Design notes / deliberate deviations from the reference:

- Frames are a flat tuple on one object, not a child→parent linked list;
  ``reduce_expr``/``expr_maker`` (``expr.py:450-462``) therefore become
  trivial ``frames``/``from_frames`` — and the reference's latent
  ``NameError`` (missing ``deque`` import, SURVEY.md Appendix A) has no
  analog here.
- Attribute names starting with ``_`` are never captured (the reference
  blocks only ``__dask_*``, ``expr.py:291-292``); this keeps pickling,
  IPython probing, and copy protocols working.
- Real API members (``eval``, ``F``, ``frames``, …) resolve normally, as
  in the reference (``hasattr_`` over the MRO, ``expr.py:33-39``); they
  are consequently not capturable as element-attribute names.
- One replay, one compile, the same answers.  ``eval``, the UDF
  fallback and ``ObjectFrame``'s pickled path all run one replay
  function (:func:`replayer`), built by a module-level factory from
  nested defs and stdlib ``operator`` only: cloudpickle ships it by
  value, so it runs on Python workers that cannot import this package.
  ``compile_expr`` gives the replay's Python semantics: an ``int`` index
  into an array counts from the end when negative and raises when out
  of range; a list key plucks (``tuple(x[k] for k in key)`` in Python,
  a struct of the items in Catalyst), while a tuple key is one key.  A
  map lookup compiles to ``getItem`` for any key type when the caller
  passes the root's Spark type; a missing key gives null (Spark's
  semantics, not Python's ``KeyError``).
- ``ObjectFrame`` records every element-wise broadcast (attribute, item,
  ``call``, operators, ``map``) as an ``Expr`` and runs it through one
  ladder: ``compile_expr``; then a Python UDF typed from one sampled
  element; then the pickled replay.
"""

from __future__ import annotations

import functools
import operator as _op
import pickle
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dask_obj_spark.functions.dispatch import dispatch_method


class _NoValue:
    __slots__ = ()

    def __repr__(self) -> str:  # pragma: no cover
        return "NO_VALUE"


NO_VALUE = _NoValue()

# frame kinds: ("attr", name) | ("getitem", key) | ("call", args, kwargs)
#            | ("func", callable, args, kwargs) | ("op", opname, operand, reflected)
#            | ("unary", opname)

_BINARY_OPS: dict[str, Callable[[Any, Any], Any]] = {
    "add": _op.add,
    "sub": _op.sub,
    "mul": _op.mul,
    "truediv": _op.truediv,
    "floordiv": _op.floordiv,
    "mod": _op.mod,
    "pow": _op.pow,
    "lshift": _op.lshift,
    "rshift": _op.rshift,
    "and": _op.and_,
    "xor": _op.xor,
    "or": _op.or_,
    "lt": _op.lt,
    "le": _op.le,
    "eq": _op.eq,
    "ne": _op.ne,
    "gt": _op.gt,
    "ge": _op.ge,
}
_UNARY_OPS: dict[str, Callable[[Any], Any]] = {
    "neg": _op.neg,
    "pos": _op.pos,
    "abs": _op.abs,
    "invert": _op.invert,
}
# comparisons have no reflected dunder: Python swaps them itself
_COMPARISONS = frozenset({"lt", "le", "eq", "ne", "gt", "ge"})
_OP_SYMBOL = {
    "add": "+", "sub": "-", "mul": "*", "truediv": "/", "floordiv": "//",
    "mod": "%", "pow": "**", "lshift": "<<", "rshift": ">>", "and": "&",
    "xor": "^", "or": "|", "lt": "<", "le": "<=", "eq": "==", "ne": "!=",
    "gt": ">", "ge": ">=",
}
_UNARY_SYMBOL = {"neg": "-", "pos": "+", "invert": "~"}


def _fmt_args(args: tuple, kwargs: dict) -> str:
    parts = [repr(a) if not isinstance(a, Expr) else str(a) for a in args]
    parts += [f"{k}={v!r}" for k, v in kwargs.items()]
    return ", ".join(parts)


class Expr:
    """Deferred expression: ``Expr("e").foo[2].upper() + 1`` records frames.

    >>> e = Expr("e")
    >>> str(e.foo)
    'e.foo'
    >>> str(e["k"].upper())
    "e['k'].upper()"
    >>> str((e.x + 1) * 2)
    '((e.x + 1) * 2)'
    >>> (Expr("e").x + 1).eval(type("P", (), {"x": 41})())
    42
    """

    __slots__ = ("_root", "_frames")

    def __init__(self, root: Any = NO_VALUE, *, frames: tuple = ()):  # noqa: D401
        object.__setattr__(self, "_root", root)
        object.__setattr__(self, "_frames", tuple(frames))

    # -- construction helpers -------------------------------------------------
    def _extend(self, frame: tuple) -> "Expr":
        return Expr(self._root, frames=self._frames + (frame,))

    @property
    def frames(self) -> tuple:
        return self._frames

    @property
    def root(self) -> Any:
        return self._root

    @classmethod
    def from_frames(cls, root: Any, frames: tuple) -> "Expr":
        return cls(root, frames=frames)

    # -- capture --------------------------------------------------------------
    def __getattr__(self, name: str) -> "Expr":
        if name.startswith("_"):
            raise AttributeError(name)
        return self._extend(("attr", name))

    def __getitem__(self, key: Any) -> "Expr":
        return self._extend(("getitem", key))

    def __call__(self, *args: Any, **kwargs: Any) -> "Expr":
        return self._extend(("call", args, kwargs))

    def F(self, func: Callable, *args: Any, **kwargs: Any) -> "Expr":
        """Record ``func(current, *args, **kwargs)`` (reference ``expr.py:304-305``)."""
        return self._extend(("func", func, args, kwargs))

    # -- rendering ------------------------------------------------------------
    def __str__(self) -> str:
        if self._root is NO_VALUE:
            out = "e"
        elif isinstance(self._root, str):
            out = self._root
        else:
            out = repr(self._root)
        for frame in self._frames:
            kind = frame[0]
            if kind == "attr":
                out = f"{out}.{frame[1]}"
            elif kind == "getitem":
                out = f"{out}[{frame[1]!r}]"
            elif kind == "call":
                out = f"{out}({_fmt_args(frame[1], frame[2])})"
            elif kind == "func":
                fname = getattr(frame[1], "__name__", repr(frame[1]))
                rest = _fmt_args(frame[2], frame[3])
                out = f"{fname}({out}{', ' + rest if rest else ''})"
            elif kind == "op":
                _, opname, operand, reflected = frame
                oper = str(operand) if isinstance(operand, Expr) else repr(operand)
                sym = _OP_SYMBOL[opname]
                out = f"({oper} {sym} {out})" if reflected else f"({out} {sym} {oper})"
            elif kind == "unary":
                opname = frame[1]
                out = f"abs({out})" if opname == "abs" else f"({_UNARY_SYMBOL[opname]}{out})"
        return out

    def __repr__(self) -> str:
        return f"<Expr: {self}>"

    def __hash__(self) -> int:
        # structural identity, like the reference (expr.py:348-349)
        return hash((type(self), str(self)))

    # -- evaluation (Python replay) -------------------------------------------
    def eval(self, value: Any = NO_VALUE) -> Any:
        """Replay the recorded chain against ``value``.

        Reference semantics (``expr.py:393-435``): the root is substituted
        by ``value`` (or, absent a value, the stored root is used — a
        callable root acts as a lazy source constructor); a bare attribute
        access returns the attribute (bound methods are NOT auto-invoked;
        a following call frame invokes them).
        """
        return _run(_program(self), value, value is not NO_VALUE)


def _make_replay(binary: dict, unary: dict):
    """Build the one replay of recorded frames, ``run(program, value, given)``.

    Nested defs over stdlib ``operator`` callables only, with no reference
    into this package: cloudpickle pickles them by value (``<locals>``
    qualname), so a shipped replay runs on Python workers that cannot
    import ``dask_obj_spark``.  They run a *program* — an :class:`Expr`
    lowered by :func:`_program` to tuples, strings and user values — never
    an ``Expr`` instance, whose class would pickle by reference."""

    def operand(x, value, given):
        return run(x[1], value, given) if x[0] == "expr" else x[1]

    def run(program, value, given):
        mode, root, frames = program
        if given:
            cur = value
        elif mode == "symbolic":
            raise ValueError("no value to evaluate: expression has a symbolic root")
        else:
            cur = root() if mode == "thunk" else root
        for frame in frames:
            kind = frame[0]
            if kind == "attr":
                cur = getattr(cur, frame[1])
            elif kind == "getitem":
                key = operand(frame[1], value, given)
                # a list key plucks, as compile_expr's struct of the items
                cur = tuple(cur[k] for k in key) if isinstance(key, list) else cur[key]
            elif kind in ("call", "func"):
                args = tuple(operand(a, value, given) for a in frame[-2])
                kwargs = {k: operand(v, value, given) for k, v in frame[-1].items()}
                cur = cur(*args, **kwargs) if kind == "call" else frame[1](cur, *args, **kwargs)
            elif kind == "op":
                _, opname, other, reflected = frame
                other = operand(other, value, given)
                fn = binary[opname]
                cur = fn(other, cur) if reflected else fn(cur, other)
            else:  # "unary"
                cur = unary[frame[1]](cur)
        return cur

    return run


_run = _make_replay(_BINARY_OPS, _UNARY_OPS)


def _program(expr: Expr) -> tuple:
    """Lower ``expr`` to the plain tuples :func:`_make_replay`'s ``run``
    executes: ``(root mode, root, frames)``, every operand tagged
    ``("expr", program)`` or ``("lit", value)``."""

    def operand(x):
        return ("expr", _program(x)) if isinstance(x, Expr) else ("lit", x)

    frames = []
    for frame in expr.frames:
        kind = frame[0]
        if kind == "getitem":
            frame = (kind, operand(frame[1]))
        elif kind in ("call", "func"):
            args = tuple(operand(a) for a in frame[-2])
            kwargs = {k: operand(v) for k, v in frame[-1].items()}
            frame = frame[:-2] + (args, kwargs)
        elif kind == "op":
            frame = (kind, frame[1], operand(frame[2]), frame[3])
        frames.append(frame)
    root = expr.root
    if root is NO_VALUE:
        return "symbolic", None, tuple(frames)  # NO_VALUE would pickle by reference
    return ("thunk" if callable(root) and not isinstance(root, Expr) else "value"), root, tuple(frames)


def replayer(expr: Expr) -> Callable[[Any], Any]:
    """``expr.eval`` as a worker-safe function of one element."""
    return functools.partial(_run, _program(expr), given=True)


def install_operators(cls: type, binary: Callable, unary: Callable) -> None:
    """Install the 34 operator dunders on ``cls``: ``binary(opname,
    reflected)`` and ``unary(opname)`` build each method."""
    for name in _BINARY_OPS:
        reflections = (False,) if name in _COMPARISONS else (False, True)
        for reflected in reflections:
            method = binary(name, reflected)
            method.__name__ = f"__{'r' if reflected else ''}{name}__"
            setattr(cls, method.__name__, method)
    for name in _UNARY_OPS:
        method = unary(name)
        method.__name__ = f"__{name}__"
        setattr(cls, method.__name__, method)


def _make_binary(opname: str, reflected: bool):
    def method(self: Expr, other: Any) -> Expr:
        return self._extend(("op", opname, other, reflected))

    return method


def _make_unary(opname: str):
    def method(self: Expr) -> Expr:
        return self._extend(("unary", opname))

    return method


install_operators(Expr, _make_binary, _make_unary)


# -- re-rooting ---------------------------------------------------------------


def replace_root_value(expr: Expr, value: Any) -> Expr:
    """Rebind the recorded computation to a new root value
    (reference ``replace_root_value``, ``expr.py:465-468``)."""
    return Expr.from_frames(value, expr.frames)


# -- compilation to Catalyst --------------------------------------------------


class CompileError(ValueError):
    """Raised when a frame chain cannot be expressed as a Column and no
    fallback return type was provided."""


def _jvm(build: Callable[[], Column], what: Any) -> Column:
    """Run one Column-building step.  py4j raises AttributeError (or
    pyspark a TypeError) for a Python value it cannot convert to a JVM
    literal; that means no Catalyst form, so it becomes CompileError.
    A tuple, dict or set converts (to a Java collection) but has no
    literal Spark accepts, and Spark says so only at analysis, outside
    this step: those are refused here."""
    if isinstance(what, (tuple, dict, set, frozenset)):
        raise CompileError(f"{what!r} has no JVM literal form")
    try:
        return build()
    except (AttributeError, TypeError) as e:
        raise CompileError(f"{what!r} has no JVM literal form") from e


def _operand_to_column(operand: Any, root: Column, root_type: Any):
    if isinstance(operand, Expr):
        # an operand with its own concrete root (named column / literal)
        # compiles against that root; only symbolic-rooted operands bind
        # to the enclosing expression's root column
        if operand.root is NO_VALUE:
            return compile_expr(operand, root, root_type=root_type)
        return compile_expr(operand, None)
    return operand


def _part_type(dtype: Any, name: Any) -> Any:
    """The type of field or item ``name`` of a ``dtype`` value; None when
    either is unknown."""
    if isinstance(dtype, T.StructType):
        return dtype[name].dataType if name in dtype.fieldNames() else None
    if isinstance(dtype, T.ArrayType):
        return dtype.elementType
    if isinstance(dtype, T.MapType):
        return dtype.valueType
    return None


def compile_expr(
    expr: Expr, root: Column | str | None = None, fallback_type=None, root_type: T.DataType | None = None
) -> Column:
    """Compile recorded frames to a ``pyspark.sql.Column``.

    Mapping (SURVEY.md §3.3): attr → struct ``getField`` (or, when
    followed by a call frame, the JVM method dispatch table);
    ``[i]`` with an ``int`` → :func:`index_column` (Python list indexing),
    unless the value is known to be a map; ``[k]`` → ``getItem`` (a map
    key that is missing gives null, as in Spark); operators → Column
    operators; ``F(func)`` and undispatchable methods → Python-UDF replay
    of ``eval`` (requires ``fallback_type``; raises :class:`CompileError`
    otherwise so the slow path is always an explicit, visible choice).
    ``root_type``, the root Column's Spark type, is followed through
    field and item access so a map's ``int`` key compiles as a key.
    """
    if root is None:
        if isinstance(expr.root, str):
            col = F.col(expr.root)
        elif expr.root is NO_VALUE:
            raise CompileError("cannot compile: symbolic root and no root column given")
        else:
            col = _jvm(lambda: F.lit(expr.root), expr.root)
    elif isinstance(root, str):
        col = F.col(root)
    else:
        col = root
    root_col, dtype = col, root_type

    frames = list(expr.frames)
    i = 0
    while i < len(frames):
        frame = frames[i]
        kind = frame[0]
        if kind == "attr":
            name = frame[1]
            nxt = frames[i + 1] if i + 1 < len(frames) else None
            if nxt is not None and nxt[0] == "call":
                args = tuple(_operand_to_column(a, root_col, root_type) for a in nxt[1])
                kwargs = {k: _operand_to_column(v, root_col, root_type) for k, v in nxt[2].items()}
                dispatched = dispatch_method(name, col, *args, **kwargs)
                if dispatched is None:
                    return _fallback_udf(expr, frames[:i], col, fallback_type, name)
                col, dtype = dispatched, None
                i += 2
                continue
            col, dtype = col.getField(name), _part_type(dtype, name)
        elif kind == "getitem":
            key = frame[1]
            if isinstance(key, list):
                col, dtype = F.struct(*[col.getItem(k) for k in key]), None
            elif isinstance(key, slice):
                col = slice_column(col, key)
            elif isinstance(key, int) and not isinstance(key, bool) and not isinstance(dtype, T.MapType):
                col, dtype = index_column(col, key), _part_type(dtype, key)
            else:
                col, dtype = _jvm(lambda: col.getItem(key), key), _part_type(dtype, key)
        elif kind == "op":
            _, opname, operand, reflected = frame
            other = _operand_to_column(operand, root_col, root_type)
            fn = _COLUMN_BINARY[opname]
            col, dtype = _jvm(lambda: fn(other, col) if reflected else fn(col, other), operand), None
        elif kind == "unary":
            col, dtype = _COLUMN_UNARY[frame[1]](col), None
        elif kind in ("call", "func"):
            return _fallback_udf(expr, frames[:i], col, fallback_type, kind)
        else:  # pragma: no cover
            raise CompileError(f"unknown frame kind {kind!r}")
        i += 1
    return col


def slice_column(col: Column, key: slice) -> Column:
    """Python ``seq[a:b]`` semantics over an ArrayType column, including
    negative/None bounds (step must be 1).  All size arithmetic is
    codegen'd Column math; analysis fails on non-array inputs, which the
    callers treat as 'take the replay path'."""
    if key.step not in (None, 1):
        raise CompileError("slice with a step has no JVM mapping")
    sz = F.size(col)
    start = key.start or 0
    st = F.lit(start) if start >= 0 else F.greatest(sz + start, F.lit(0))
    if key.stop is None:
        en = sz
    elif key.stop >= 0:
        en = F.least(F.lit(key.stop), sz)
    else:
        en = F.greatest(sz + key.stop, F.lit(0))
    return F.slice(col, st + 1, F.greatest(en - st, F.lit(0)))


def index_column(col: Column, i: int) -> Column:
    """Python ``seq[i]`` over an ArrayType column: a negative ``i`` counts
    from the end and an index out of range raises, whatever the session's
    ANSI setting; a null array gives null.  ``array_size`` fails analysis
    on anything but an array, which the callers treat as 'take the replay
    path' (a map's int key, a string's character)."""
    n = F.array_size(col)
    pos = F.lit(i) if i >= 0 else n + i
    return F.when((pos >= 0) & (pos < n), F.get(col, pos)).when(
        col.isNotNull(), F.raise_error(F.lit(f"list index {i} out of range"))
    )


def replay_udf(fn: Callable[[Any], Any], out_type, pickled: bool = False) -> Callable[..., Column]:
    """``fn`` over each element of a column, returning ``out_type``: an
    Arrow-batched Python UDF, which hands ``fn`` each value in the form
    ``collect()`` gives (a struct as a ``Row``, an array as a list);
    ``pickled`` columns hold pickled objects."""
    if pickled:
        return F.udf(lambda b: fn(pickle.loads(b)), out_type, useArrow=True)
    return F.udf(fn, out_type, useArrow=True)


def _fallback_udf(expr: Expr, done_frames: list, col: Column, fallback_type, what: str) -> Column:
    """Replay the *remaining* frames per element via a Python UDF."""
    if fallback_type is None:
        raise CompileError(
            f"frame {what!r} has no JVM mapping; pass fallback_type=<spark type> "
            "to allow the Python-UDF slow path"
        )
    remaining = Expr.from_frames(NO_VALUE, tuple(expr.frames[len(done_frames):]))
    return replay_udf(replayer(remaining), fallback_type)(col)


def _col_floordiv(a, b):
    return F.floor(a / b).cast("long")


_COLUMN_BINARY: dict[str, Callable[[Any, Any], Column]] = {
    "add": _op.add,
    "sub": _op.sub,
    "mul": _op.mul,
    "truediv": _op.truediv,
    "floordiv": _col_floordiv,
    "mod": _op.mod,
    "pow": _op.pow,
    "lshift": lambda a, b: F.shiftleft(a, b),
    "rshift": lambda a, b: F.shiftright(a, b),
    "and": _op.and_,
    "xor": lambda a, b: a.bitwiseXOR(b),
    "or": _op.or_,
    "lt": _op.lt,
    "le": _op.le,
    "eq": _op.eq,
    "ne": _op.ne,
    "gt": _op.gt,
    "ge": _op.ge,
}
_COLUMN_UNARY: dict[str, Callable[[Any], Column]] = {
    "neg": _op.neg,
    "pos": lambda c: c,
    "abs": F.abs,
    "invert": _op.invert,
}


# -- debug utilities (reference C14 surface) ----------------------------------
# Parity with /root/reference/src/dask_obj/expr.py:235-256 — the helper
# trio the reference keeps next to Expr for naming/printing things.


def repr_str(obj: Any) -> str:
    """Strings pass through unchanged; everything else gets ``repr``
    (ref expr.py:235-238)."""
    if isinstance(obj, str):
        return obj
    return repr(obj)


def get_name(obj: Any, otherwise: Callable = repr_str) -> str:
    """Best-effort display name: a string is itself; otherwise the first
    of ``__qualname__``/``__name__``/``name``; else ``otherwise(obj)``
    (ref expr.py:250-256)."""
    if isinstance(obj, str):
        return obj
    for attr in ("__qualname__", "__name__", "name"):
        if hasattr(obj, attr):
            return getattr(obj, attr)
    return otherwise(obj)


def print_result(func: Callable) -> Callable:
    """Debug decorator for Expr methods: after the call, print the
    receiving expression and the result (ref expr.py:241-247; adapted to
    the flat-frame design — the reference prints the linked node's
    ``obj__``/``expr__`` pair, we print the rendered expression)."""

    def wrapper(*args: Any, **kwargs: Any) -> Any:
        result = func(*args, **kwargs)
        print(f"{args[0]!r}")
        print(f"{result=}")
        return result

    return wrapper
