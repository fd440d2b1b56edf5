"""Pinning: the one place the package materializes a DataFrame mid-plan.

An operator pins a frame when several consumers read it (so the upstream
plan runs once) or when an iterative loop must cut a lineage that grows
every round.  Every such pin goes through :func:`pin`; no other module
calls ``localCheckpoint``/``checkpoint``/``cache``/``persist``
(``tests/test_pinning.py`` scans for it).  ``ObjectFrame.persist`` is the
one exception: it is the facade's user-facing call.

Pins are released by scope.  A scope is one call of a function wrapped
with :func:`scoped` (every registered query, every public operator that
pins, and each foreachBatch micro-batch).  When the call returns or
raises, the scope looks at the ``LogicalRDD`` leaves of the DataFrames it
returns (a bare DataFrame, or the DataFrames in a returned tuple or
list):

- a pin no returned frame reads is unpersisted;
- a pin a returned frame reads is handed to the enclosing scope, and at
  top level it stays, to be freed with the frames that read it.

Scopes are per thread (foreachBatch callbacks and ``DelayedObjects`` run
on other threads), and a scope that made no pin makes no py4j call.
"""

from __future__ import annotations

import functools
import threading
from typing import Any, Callable, Hashable, TypeVar

from pyspark.sql import DataFrame

_Fn = TypeVar("_Fn", bound=Callable[..., Any])

_local = threading.local()


def pin(df: DataFrame) -> DataFrame:
    """``df`` materialized once, eagerly, with its lineage cut.

    The rows are written to the executors' block managers by a local
    checkpoint (``localCheckpoint(eager=True)``), and the returned frame
    reads them back.  The pin is recorded in the current scope, which
    releases it when the scoped call ends unless the call's result reads
    it.

    Executor loss: local-checkpoint blocks live only in the block
    manager of the executor that computed them, and the cut lineage
    cannot recompute them.  Losing that executor fails the next read of
    the pinned frame with Spark's "Checkpoint block not found" error;
    re-run the operator call.  Under dynamic allocation, executors that
    hold blocks are kept while
    ``spark.dynamicAllocation.cachedExecutorIdleTimeout`` is left at its
    default (infinity).
    """
    pinned = df.localCheckpoint(eager=True)
    scopes = getattr(_local, "scopes", None)
    if scopes:
        scopes[-1].append(pinned._jdf.queryExecution().analyzed().rdd())
    return pinned


def scoped(fn: _Fn) -> _Fn:
    """Run each call of ``fn`` in its own pin scope (module docstring)."""

    @functools.wraps(fn)
    def call(*args, **kwargs):
        scopes = _local.__dict__.setdefault("scopes", [])
        scopes.append([])
        result = None
        try:
            result = fn(*args, **kwargs)
            return result
        finally:
            pins = scopes.pop()
            if pins:
                kept = _release_unread(pins, result)
                if scopes:
                    scopes[-1].extend(kept)

    return call  # type: ignore[return-value]


def _release_unread(pins: list, result: Any) -> list:
    """Unpersist the pinned RDDs ``result`` does not read; return the rest."""
    read = _rdds_read(result)
    kept = []
    for rdd in pins:
        if rdd.id() in read:
            kept.append(rdd)
        else:
            rdd.unpersist(False)
    return kept


def _rdds_read(result: Any) -> set[int]:
    """Ids of the RDDs behind the ``LogicalRDD`` leaves (subquery plans
    included) of every DataFrame in ``result``."""
    if isinstance(result, DataFrame):
        frames = [result]
    elif isinstance(result, (tuple, list)):
        frames = [x for x in result if isinstance(x, DataFrame)]
    else:
        return set()
    ids = set()
    for df in frames:
        plan = df._jdf.queryExecution().analyzed()
        subqueries = plan.subqueriesAll()
        for p in [plan] + [subqueries.apply(i) for i in range(subqueries.size())]:
            leaves = p.collectLeaves()
            for i in range(leaves.size()):
                leaf = leaves.apply(i)
                if leaf.nodeName() == "LogicalRDD":
                    ids.add(leaf.rdd().id())
    return ids


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    witness: Callable[[DataFrame], Hashable] | None,
    rounds: int | None = None,
    max_rounds: int | None = None,
) -> tuple[DataFrame, int]:
    """Iterate ``state = pin(step(state))``; return ``(state, rounds run)``.

    With ``rounds`` the loop runs exactly that many times (the fixed
    unroll an oracle can replay) and ``witness`` is not evaluated.
    Otherwise it stops after the first round whose ``witness(state)``
    equals the previous round's (the initial state's for round one), or
    after ``max_rounds`` rounds.  The witness is read from the pinned
    state, so it costs one job on materialized rows.
    """
    if rounds is not None:
        for _ in range(rounds):
            state = pin(step(state))
        return state, rounds
    seen = witness(state)
    done = 0
    while max_rounds is None or done < max_rounds:
        state = pin(step(state))
        done += 1
        new = witness(state)
        if new == seen:
            break
        seen = new
    return state, done
