"""Pinning lifecycle: what an operator call leaves persisted.

Every pin goes through ``dask_obj_spark.pinning.pin``; a scoped call
(registered query, public operator, foreachBatch micro-batch) releases
the pins its result does not read.  These tests read the SparkContext's
persistent-RDD table before and after a call, and scan the package
source for pin calls made anywhere else.
"""

from __future__ import annotations

import io
import pathlib
import random
import threading
import tokenize

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from dask_obj_spark import pinning
from dask_obj_spark.operators.corpus import connected_components
from dask_obj_spark.pinning import fixpoint, pin, scoped

QUERIES = entrymod.queries()


def persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def rdds_read(df) -> set[int]:
    """Ids of the RDDs behind the LogicalRDD leaves of ``df``'s plan."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {
        leaf.rdd().id()
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
        if leaf.nodeName() == "LogicalRDD"
    }


def random_graph(spark, n=200, m=150, seed=7):
    rng = random.Random(seed)
    es = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    return spark.createDataFrame(es, ["src", "dst"])


def test_connected_components_keeps_only_what_its_result_reads(spark):
    edges = random_graph(spark)
    before = persisted(spark)
    rounds: list[int] = []
    got = connected_components(edges, _rounds_out=rounds)
    held = persisted(spark) - before
    assert held and held <= rdds_read(got), (held, rdds_read(got))
    # raw, vertices, initial edges and one per round were pinned; the
    # result reads the vertex set and the last round's edges
    assert len(held) == 2, (held, rounds)
    assert got.count() == len({v for r in edges.collect() for v in r})


@pytest.mark.parametrize(
    "name",
    ["corpus_dedup_clusters", "sim_pca_power", "graph_bfs_hops", "stream_neardup_minhash"],
)
def test_registered_query_keeps_only_what_its_result_reads(spark, sf_dir, name):
    before = persisted(spark)
    df = QUERIES[name](spark, sf_dir)
    held = persisted(spark) - before
    assert held <= rdds_read(df), (held, rdds_read(df))
    df.collect()


def test_connected_components_soak_stays_flat(spark):
    edges = random_graph(spark, seed=11)
    start = len(persisted(spark))
    results = [connected_components(edges) for _ in range(5)]
    assert len(persisted(spark)) - start <= 2 * len(results)
    assert all(r.count() == results[0].count() for r in results)


def test_nested_scope_hands_kept_pins_up_and_releases_the_rest(spark):
    base = spark.range(50)

    @scoped
    def inner():
        scratch = pin(base.withColumn("x", F.col("id") * 2))
        scratch.count()
        return pin(base.withColumn("y", F.col("id") + 1))

    @scoped
    def outer():
        kept = inner()
        assert len(pinning._local.scopes[-1]) == 1  # handed up by inner
        return kept.select("y")

    before = persisted(spark)
    out = outer()
    held = persisted(spark) - before
    assert held == rdds_read(out) and len(held) == 1
    assert sorted(r.y for r in out.collect()) == list(range(1, 51))


def test_raising_scope_releases_its_pins(spark):
    @scoped
    def fails():
        pin(spark.range(10))
        raise RuntimeError("boom")

    before = persisted(spark)
    with pytest.raises(RuntimeError, match="boom"):
        fails()
    assert not persisted(spark) - before


def test_scope_without_pins_makes_no_jvm_call(monkeypatch):
    def no_call(result):
        raise AssertionError("a scope without pins read the result's plan")

    monkeypatch.setattr(pinning, "_rdds_read", no_call)
    assert scoped(lambda: 3)() == 3


def test_scopes_are_per_thread(spark):
    @scoped
    def call():
        t = threading.Thread(target=lambda: pin(spark.range(5)).count())
        t.start()
        t.join()
        return pinning._local.scopes[-1]

    assert call() == []  # the other thread's top-level pin stays out of this scope


def test_fixpoint_counts_rounds_and_honours_fixed_unrolls(spark):
    state = spark.createDataFrame([(40,)], ["n"])

    def halve(df):
        return df.select((F.col("n") / 2).cast("long").alias("n"))

    def witness(df):
        return df.first()["n"]

    # 40 → 20 → 10 → 5 → 2 → 1 → 0 → 0: the 7th round repeats the witness
    got, rounds = fixpoint(state, halve, witness)
    assert (witness(got), rounds) == (0, 7)
    got, rounds = fixpoint(state, halve, witness, max_rounds=3)
    assert (witness(got), rounds) == (5, 3)
    got, rounds = fixpoint(state, halve, None, rounds=2)
    assert (witness(got), rounds) == (10, 2)


# -- source check: pins are made by dask_obj_spark/pinning.py only -----------

_PKG = pathlib.Path(__file__).resolve().parent.parent / "dask_obj_spark"
_PIN_CALLS = {"localCheckpoint", "checkpoint", "cache", "persist"}
# ObjectFrame.persist: the facade's user-facing persist (reference core.py:90)
_ALLOWED = {("core.py", "persist")}


def pin_call_sites(source: str) -> list[tuple[int, str]]:
    """(line, method) of each ``.localCheckpoint(``/``.checkpoint(``/
    ``.cache(``/``.persist(`` call in code (comments and strings skipped)."""
    toks = [
        t
        for t in tokenize.generate_tokens(io.StringIO(source).readline)
        if t.type not in (tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE)
    ]
    return [
        (name.start[0], name.string)
        for dot, name, paren in zip(toks, toks[1:], toks[2:])
        if dot.string == "."
        and name.type == tokenize.NAME
        and name.string in _PIN_CALLS
        and paren.string == "("
    ]


def test_source_check_detects_pin_calls():
    source = (
        "a = df.localCheckpoint(eager=True)\n"
        "b = df.cache()  # df.persist() in a comment\n"
        "c = 'x.checkpoint()'\n"
        "d = (df\n     .persist())\n"
        "e = df.checkpointed(1)\n"
    )
    assert pin_call_sites(source) == [(1, "localCheckpoint"), (2, "cache"), (5, "persist")]


def test_only_the_pinning_module_pins():
    sites = [
        f"{p.relative_to(_PKG.parent)}:{line}: .{name}("
        for p in sorted(_PKG.rglob("*.py"))
        if p != _PKG / "pinning.py"
        for line, name in pin_call_sites(p.read_text())
        if (str(p.relative_to(_PKG)), name) not in _ALLOWED
    ]
    assert sites == [], "pin through dask_obj_spark.pinning.pin:\n" + "\n".join(sites)
