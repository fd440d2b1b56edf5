"""Tests of the benchmark's own code.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The last two tests start the benchmark as a subprocess (a JVM each), so the
whole file takes a couple of minutes on a 4-core host.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen, layers, objects  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_metric_names_and_limits():
    e2e, per_layer = SPEC["end_to_end"], SPEC["per_layer"]
    assert 1 <= len(e2e) <= 16
    assert 1 <= len(per_layer) <= 128
    names = [m["name"] for m in e2e + per_layer]
    assert len(names) == len(set(names))
    for m in e2e + per_layer:
        assert NAME.match(m["name"]), m
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher"), m
    for m in e2e:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= next(
        m for m in e2e if m["name"] == "setup_s"
    ).items()
    assert max(m["bound"] for m in e2e) == next(m["bound"] for m in e2e if m["name"] == "setup_s")
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(SPEC["workloads"]) <= 8


def test_objects_inputs_are_deterministic_per_seed():
    def flat(inp):
        return (
            inp.dicts,
            [(p.x, p.y, p.tag) for p in inp.points],
            inp.nested,
        )

    assert flat(objects.make_inputs(3)) == flat(objects.make_inputs(3))
    assert flat(objects.make_inputs(3)) != flat(objects.make_inputs(4))


def test_embeddings_are_deterministic_per_seed():
    a, b = datagen.embeddings(5, 40), datagen.embeddings(5, 40)
    assert a.equals(b)
    assert not a.equals(datagen.embeddings(6, 40))
    assert a.num_rows == 40
    assert a.column_names == ["vec_id", "embedding", "label"]


def test_interval_union_and_plan_census():
    assert layers.interval_union_s([(0, 1000), (500, 1500), (3000, 3500)]) == 2.0
    assert layers.interval_union_s([]) == 0.0
    plan = (
        "== Physical Plan ==\n(1) Scan parquet \n(2) HashAggregate\n(3) Exchange\n"
        "(4) BroadcastExchange\n(5) MapInPandas\n(6) ArrowEvalPython\n"
    )
    census = layers.plan_census(plan)
    assert census["exchanges"] == 2.0
    assert census["python_nodes"] == 2.0
    assert census["text_kb"] > 0


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    from dask_obj_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests")
    assert s.conf.get("spark.ui.enabled") == "false"
    yield s
    s.stop()


def test_status_store_reads_jobs_and_tasks_with_ui_off(spark, tmp_path):
    path = datagen.write_embeddings(str(tmp_path), 1, 40)
    store = layers.StatusStore(spark)
    last_job, last_stage = store.last_ids()
    rows = spark.read.parquet(path).groupBy("label").count().collect()
    assert len(rows) == len(set(datagen.embeddings(1, 40)["label"].to_pylist()))
    jobs = [j for j in store.jobs() if j["jobId"] > last_job]
    stages = [s for s in store.stages() if s["stageId"] > last_stage]
    window = layers.spark_window(jobs, stages, slots=2)
    assert window["spark.jobs"] > 0
    assert window["spark.tasks"] > 0
    assert window["spark.in_job_s"] > 0
    assert window["spark.input_mb"] > 0


def _run(args, cwd):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def test_traced_and_untraced_runs_emit_the_same_end_to_end_names():
    common = ["--workload", "objects", "--seed", "1", "--seconds", "1"]
    rc0, out0 = _run(common + ["--trace", "0"], ROOT)
    rc1, out1 = _run(common + ["--trace", "1"], ROOT)
    assert rc0 == 0 and rc1 == 0
    plain, traced = json.loads(out0[-1]), json.loads(out1[-1])
    e2e = [m["name"] for m in SPEC["end_to_end"]]
    assert list(plain["metrics"]) == e2e
    assert list(traced["metrics"]) == [m["name"] for m in SPEC["per_layer"]]
    traced_e2e = next(json.loads(line)["end_to_end"] for line in out1 if '"end_to_end"' in line)
    assert list(traced_e2e) == e2e
    assert plain["correct"] and traced["correct"] and plain["failed"] == 0
    assert all(m["value"] > 0 for m in plain["metrics"].values())


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    rc, out = _run(["--workload", "objects", "--seed", "1", "--seconds", "1", "--trace", "0"], tmp_path)
    assert rc != 0
    assert not any('"correct"' in line for line in out)
