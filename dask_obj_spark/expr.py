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
no JVM mapping fall back to an Arrow-batched pandas UDF replaying
``eval`` per element (the documented slow path).

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
"""

from __future__ import annotations

import operator as _op
from typing import Any, Callable

import pandas as pd  # module-level: pandas_udf type hints resolve against module globals
from pyspark.sql import Column
from pyspark.sql import functions as F

from dask_obj_spark.functions.dispatch import COLUMN_METHODS


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
        if value is NO_VALUE:
            root = self._root
            if root is NO_VALUE:
                raise ValueError("no value to evaluate: expression has a symbolic root")
            cur = root() if callable(root) and not isinstance(root, Expr) else root
        else:
            cur = value
        for frame in self._frames:
            kind = frame[0]
            if kind == "attr":
                cur = getattr(cur, frame[1])
            elif kind == "getitem":
                key = frame[1]
                key = key.eval(value) if isinstance(key, Expr) else key
                cur = cur[key]
            elif kind == "call":
                args = tuple(a.eval(value) if isinstance(a, Expr) else a for a in frame[1])
                kwargs = {k: (v.eval(value) if isinstance(v, Expr) else v) for k, v in frame[2].items()}
                cur = cur(*args, **kwargs)
            elif kind == "func":
                _, func, args, kwargs = frame
                args = tuple(a.eval(value) if isinstance(a, Expr) else a for a in args)
                kwargs = {k: (v.eval(value) if isinstance(v, Expr) else v) for k, v in kwargs.items()}
                cur = func(cur, *args, **kwargs)
            elif kind == "op":
                _, opname, operand, reflected = frame
                other = operand.eval(value) if isinstance(operand, Expr) else operand
                fn = _BINARY_OPS[opname]
                cur = fn(other, cur) if reflected else fn(cur, other)
            elif kind == "unary":
                cur = _UNARY_OPS[frame[1]](cur)
        return cur


def _make_binary(opname: str, reflected: bool):
    def method(self: Expr, other: Any) -> Expr:
        return self._extend(("op", opname, other, reflected))

    method.__name__ = f"__{'r' if reflected else ''}{opname}__"
    return method


def _make_unary(opname: str):
    def method(self: Expr) -> Expr:
        return self._extend(("unary", opname))

    method.__name__ = f"__{opname}__"
    return method


for _name in _BINARY_OPS:
    setattr(Expr, f"__{_name}__", _make_binary(_name, False))
    if _name not in ("lt", "le", "eq", "ne", "gt", "ge"):
        setattr(Expr, f"__r{_name}__", _make_binary(_name, True))
for _name in _UNARY_OPS:
    setattr(Expr, f"__{_name}__", _make_unary(_name))


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
    literal; that means no Catalyst form, so it becomes CompileError."""
    try:
        return build()
    except (AttributeError, TypeError) as e:
        raise CompileError(f"{what!r} has no JVM literal form") from e


def _operand_to_column(operand: Any, root: Column):
    if isinstance(operand, Expr):
        # an operand with its own concrete root (named column / literal)
        # compiles against that root; only symbolic-rooted operands bind
        # to the enclosing expression's root column
        if operand.root is NO_VALUE:
            return compile_expr(operand, root)
        return compile_expr(operand, None)
    return operand


def compile_expr(expr: Expr, root: Column | str | None = None, fallback_type=None) -> Column:
    """Compile recorded frames to a ``pyspark.sql.Column``.

    Mapping (SURVEY.md §3.3): attr → struct ``getField`` (or, when
    followed by a call frame, the JVM method dispatch table);
    ``[k]`` → ``getItem``; operators → Column operators; ``F(func)`` and
    undispatchable methods → pandas-UDF replay of ``eval`` (requires
    ``fallback_type``; raises :class:`CompileError` otherwise so the slow
    path is always an explicit, visible choice).
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
    root_col = col

    frames = list(expr.frames)
    i = 0
    while i < len(frames):
        frame = frames[i]
        kind = frame[0]
        if kind == "attr":
            name = frame[1]
            nxt = frames[i + 1] if i + 1 < len(frames) else None
            if nxt is not None and nxt[0] == "call":
                args = tuple(_operand_to_column(a, root_col) for a in nxt[1])
                kwargs = {k: _operand_to_column(v, root_col) for k, v in nxt[2].items()}
                fn = COLUMN_METHODS.get(name)
                if fn is not None:
                    try:
                        col = fn(col, *args, **kwargs)
                        i += 2
                        continue
                    except TypeError:
                        pass
                return _fallback_udf(expr, frames[:i], col, fallback_type, name)
            col = col.getField(name)
        elif kind == "getitem":
            key = frame[1]
            if isinstance(key, list):
                col = F.struct(*[col.getItem(k) for k in key])
            elif isinstance(key, slice):
                col = slice_column(col, key)
            else:
                col = _jvm(lambda: col.getItem(key), key)
        elif kind == "op":
            _, opname, operand, reflected = frame
            other = _operand_to_column(operand, root_col)
            fn = _COLUMN_BINARY[opname]
            col = _jvm(lambda: fn(other, col) if reflected else fn(col, other), operand)
        elif kind == "unary":
            col = _COLUMN_UNARY[frame[1]](col)
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


def _fallback_udf(expr: Expr, done_frames: list, col: Column, fallback_type, what: str) -> Column:
    """Replay the *remaining* frames per element via a pandas UDF."""
    if fallback_type is None:
        raise CompileError(
            f"frame {what!r} has no JVM mapping; pass fallback_type=<spark type> "
            "to allow the pandas-UDF slow path"
        )
    remaining = Expr.from_frames(NO_VALUE, tuple(expr.frames[len(done_frames):]))

    def _replay(s: pd.Series) -> pd.Series:
        return s.map(lambda v: remaining.eval(v))

    return F.pandas_udf(fallback_type)(_replay)(col)


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
