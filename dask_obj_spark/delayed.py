"""DelayedObjects: task-parallel collection with completion-order iteration.

Capability parity with the reference ``DaskDelayedObjects``
(``src/dask_obj/core.py:116-220``): a list of per-item lazy tasks with
broadcast attribute/item/call semantics, 34 operator dunders, optional
eager submission to an executor, and **completion-order** streaming
iteration (``core.py:167-169``).

Spark mapping (SURVEY.md §3.2): per-item independent Python work is not a
BSP collection's sweet spot, so the tasks run on a driver-side thread
pool; when a task body performs Spark actions, this becomes concurrent
Spark *job* submission (the local[32] scheduler runs them in parallel),
which is the idiomatic Spark analog of the reference's
``client.map`` eager fan-out.  Completion order is therefore job-level,
not record-level — a documented semantic (SURVEY.md §7 hard part (d)).

Deliberate fixes vs the reference: ``map`` passes the item FIRST
(the reference's curried ``delayed`` puts curried args before the item,
``core.py:139-144`` — a documented quirk we do not copy).
"""

from __future__ import annotations

import operator as _op
import threading
from concurrent.futures import Future, ThreadPoolExecutor, as_completed
from typing import Any, Callable, Iterator

from dask_obj_spark.expr import _BINARY_OPS, _UNARY_OPS, install_operators


class _Task:
    """One lazy per-item computation: a chain of callables over a seed.

    ``thunk=True`` marks the seed as a zero-arg producer to invoke (used
    for composite tasks); otherwise the seed is the item itself — even
    when the item happens to be callable (collections of callables are a
    first-class case, reference A4).

    ``run()`` memoizes: a task referenced from several downstream thunks
    (binary operators between collections, stacked derivations) executes
    its chain exactly once; the lock keeps side-effecting steps
    single-shot even when two pool threads race on the same task.
    """

    __slots__ = ("seed", "steps", "thunk", "_lock", "_done", "_value")

    def __init__(self, seed: Any, steps: tuple = (), thunk: bool = False):
        self.seed = seed
        self.steps = steps
        self.thunk = thunk
        self._lock = threading.Lock()
        self._done = False
        self._value = None

    def then(self, fn: Callable[[Any], Any]) -> "_Task":
        return _Task(self.seed, self.steps + (fn,), self.thunk)

    def run(self) -> Any:
        if self._done:
            return self._value
        with self._lock:
            if self._done:
                return self._value
            val = self.seed() if self.thunk else self.seed
            for fn in self.steps:
                val = fn(val)
            self._value = val
            self._done = True
            return val


class DelayedObjects:
    """Per-item task collection (the ``DaskDelayedObjects`` equivalent).

    ``eager=True`` (+ optional ``max_workers``) reproduces the reference's
    eager cluster submission (``core.py:125-134``): every derived
    collection immediately submits its tasks to a shared thread pool and
    holds futures; lazy mode defers everything to ``compute()``/iteration.

    The pool is PROCESS-SHARED (the reference's single ``client``):
    ``max_workers`` is honored by whichever collection creates the pool
    first; later values are ignored for the lifetime of the process.
    """

    _POOL: ThreadPoolExecutor | None = None

    def __init__(self, items: Any, *, eager: bool = False, max_workers: int = 32, _tasks: list | None = None):
        if _tasks is not None:
            self._tasks = _tasks
        else:
            self._tasks = [it if isinstance(it, _Task) else _Task(it) for it in items]
        self._eager = eager
        self._max_workers = max_workers
        self._futures: list[Future] | None = None
        if eager:
            self._submit()

    @classmethod
    def _pool(cls, max_workers: int) -> ThreadPoolExecutor:
        if cls._POOL is None:
            cls._POOL = ThreadPoolExecutor(max_workers=max_workers)
        return cls._POOL

    def _submit(self) -> list[Future]:
        if self._futures is None:
            pool = self._pool(self._max_workers)
            self._futures = [pool.submit(t.run) for t in self._tasks]
        return self._futures

    def _derive(self, fn: Callable[[Any], Any]) -> "DelayedObjects":
        if self._futures is not None:
            # eager chain: derive over the PARENT futures so each stage
            # computes once (the reference maps over the previous
            # collection's futures; re-running the chain from the seed
            # would be O(k²) across a k-step chain and would repeat
            # side-effecting steps).  No deadlock: dependencies always
            # point at earlier-submitted tasks, so a blocked child's
            # parent is already running on (or done with) some worker.
            tasks = [_Task(lambda f=f: fn(f.result()), thunk=True) for f in self._futures]
        else:
            tasks = [t.then(fn) for t in self._tasks]
        return DelayedObjects([], eager=self._eager, max_workers=self._max_workers, _tasks=tasks)

    # -- broadcast surface (B5, same semantics as A2-A5) ----------------------

    def __getattr__(self, name: str) -> "DelayedObjects":
        if name.startswith("_"):
            raise AttributeError(name)
        return self._derive(_op.attrgetter(name))

    def __getitem__(self, key: Any) -> "DelayedObjects":
        return self._derive(_op.itemgetter(key))

    def __call__(self, *args, **kwargs) -> "DelayedObjects":
        return self._derive(lambda fn: fn(*args, **kwargs))

    def call(self, method: str, *args, **kwargs) -> "DelayedObjects":
        return self._derive(_op.methodcaller(method, *args, **kwargs))

    def map(self, func: Callable, *args, compute: bool = False, **kwargs) -> Any:
        """Item-first map (documented fix of the reference's curried arg order)."""
        out = self._derive(lambda o: func(o, *args, **kwargs))
        return out.compute() if compute else out

    # -- materialization (B3/B4/B6/B7) ----------------------------------------

    def compute(self) -> list:
        """Gather results in original item order."""
        futures = self._submit()
        return [f.result() for f in futures]

    def persist(self) -> "DelayedObjects":
        """Kick off execution, keep the handle (reference ``core.py:152-153``)."""
        self._submit()
        return self

    def __iter__(self) -> Iterator[Any]:
        """Yield results in COMPLETION order (reference ``core.py:167-169``)."""
        futures = self._submit()
        for f in as_completed(list(futures)):
            yield f.result()

    def __len__(self) -> int:
        return len(self._tasks)


def _do_make_binary(opname: str, reflected: bool):
    fn = _BINARY_OPS[opname]

    def method(self: DelayedObjects, other: Any):
        if isinstance(other, DelayedObjects):
            # positional element-wise combination of the two task lists
            if len(other._tasks) != len(self._tasks):
                raise ValueError("operator between DelayedObjects of different lengths")
            if self._futures is not None and other._futures is not None:
                # both sides eagerly submitted: combine their futures so
                # neither operand chain is re-executed
                pairs = zip(self._futures, other._futures)
                tasks = [
                    _Task(
                        lambda a=a, b=b: fn(b.result(), a.result())
                        if reflected
                        else fn(a.result(), b.result()),
                        thunk=True,
                    )
                    for a, b in pairs
                ]
            else:
                # lazy: operand _Task.run() is memoized, so a chain shared
                # by several combined thunks still executes once
                tasks = [
                    _Task(
                        lambda a=a, b=b: fn(b.run(), a.run()) if reflected else fn(a.run(), b.run()),
                        thunk=True,
                    )
                    for a, b in zip(self._tasks, other._tasks)
                ]
            return DelayedObjects([], eager=self._eager, max_workers=self._max_workers, _tasks=tasks)
        return self._derive((lambda o: fn(other, o)) if reflected else (lambda o: fn(o, other)))

    return method


def _do_make_unary(opname: str):
    fn = _UNARY_OPS[opname]

    def method(self: DelayedObjects):
        return self._derive(fn)

    return method


install_operators(DelayedObjects, _do_make_binary, _do_make_unary)
