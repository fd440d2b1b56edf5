#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 20 --trace 0

Run from the repository root.  The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` they are its per-layer metrics, measured on passes interleaved
with untraced ones so the tracing overhead can be reported.
Earlier lines carry the run's settings and its per-pass series.  The exit
code is non-zero when any operation fails or returns a wrong result, and
when the program under test is not beside the benchmark.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import subprocess
import statistics
import sys
import time
import traceback
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import datagen, layers, objects, rows  # noqa: E402

HASH_SEED = "0"
REQUIRED = ("dask_obj_spark", "__spark_entry__.py", "tests/test_oracle_parity.py")

# Per workload: the rows it runs (registered queries) or the facade pass,
# the number of generated embeddings the rows read and the fixed number of
# warm-up passes.  The first warm-up pass collects every row's result for
# the correctness check.
WORKLOADS = {
    "iterative": {"rows": rows.ITERATIVE, "vectors": 500, "warmup": 3},
    "objects": {"rows": None, "vectors": 0, "warmup": 4},
}


def host_settings() -> dict[str, str]:
    """Spark sizing for this host: one task slot per usable core and a
    driver heap of at most a quarter of physical memory (4g cap)."""
    cpus = len(os.sched_getaffinity(0))
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap_gb = max(1, min(4, int(phys_gb // 4)))
    return {"SPARK_GRAFT_CPUS": str(cpus), "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g"}


def median(values):
    return statistics.median(values) if values else 0.0


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.cfg = WORKLOADS[args.workload]
        self.layers: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.passes: list[dict] = []

    # -- set-up -----------------------------------------------------------

    def setup(self) -> None:
        t_setup = time.perf_counter()
        t0 = time.perf_counter()
        if self.cfg["rows"] is None:
            self.inputs = objects.make_inputs(self.args.seed)
            self.want = objects.expected(self.inputs)
        else:
            self.rows = self.cfg["rows"]
            self.data_dir = os.path.join(self.work, "data")
            self.embeddings = datagen.write_embeddings(self.data_dir, self.args.seed, self.cfg["vectors"])
        self.layers["inputs.gen_s"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        from dask_obj_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"},
        )
        self.layers["session.start_s"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        from dask_obj_spark.queries import QUERIES, load_all_queries

        load_all_queries()
        self.queries = QUERIES
        self.layers["queries.load_s"] = time.perf_counter() - t0

        self.store = layers.StatusStore(self.spark)
        t0 = time.perf_counter()
        for i in range(self.cfg["warmup"]):
            self.one_pass(traced=False, warmup=True, collect=(i == 0))
        self.layers["warmup_s"] = time.perf_counter() - t0
        self.setup_s = time.perf_counter() - t_setup

    # -- passes -----------------------------------------------------------

    def one_pass(self, traced: bool, warmup: bool = False, collect: bool = False) -> dict:
        rec: dict = {"traced": traced, "warmup": warmup}
        gc.collect()  # start every pass from the same Python heap state
        if traced:
            last_job, last_stage = self.store.last_ids()
            sql0 = self.store.sql_executions()
            self.py4j.take()
            self.py4j.enabled = True
        cpu0, steal0 = layers.host_times()
        t0 = time.perf_counter()
        if self.cfg["rows"] is None:
            results, pickled, timing = self._objects_pass()
            rec["layers"] = timing
            rec["pickled_frames"] = pickled
        elif collect:
            self.collected = rows.collect_pass(self.spark, self.queries, self.rows, self.data_dir)
        else:
            rec["rows"], self.kept = rows.run_pass(self.spark, self.queries, self.rows, self.data_dir)
        rec["wall_s"] = time.perf_counter() - t0
        cpu1, steal1 = layers.host_times()
        rec["host_cpu_s"], rec["host_steal_s"] = cpu1 - cpu0, steal1 - steal0
        if traced:
            self.py4j.enabled = False
            rec["py4j_calls"], rec["py4j_s"] = self.py4j.take()
            self._read_window(rec, last_job, last_stage)
            rec["spark"]["spark.sql_executions"] = float(self.store.sql_executions() - sql0)
        if self.cfg["rows"] is None:
            self._check_objects(results)
        else:
            self.attempted += len(self.rows)
        self.passes.append(rec)
        return rec

    def _objects_pass(self):
        timing: dict[str, float] = defaultdict(float)

        @contextlib.contextmanager
        def timer(layer: str):
            t0 = time.perf_counter()
            try:
                yield
            finally:
                timing[layer] += time.perf_counter() - t0

        workers = int(os.environ["SPARK_GRAFT_CPUS"])
        results, pickled = objects.run_pass(self.spark, self.inputs, workers, timer)
        return results, pickled, dict(timing)

    def _check_objects(self, results: dict) -> None:
        for name, want in self.want.items():
            self.attempted += 1
            if not objects.matches(results.get(name), want):
                self.failed += 1
                print(f"perfbench: objects result {name!r} differs from plain Python", file=sys.stderr)

    def _read_window(self, rec: dict, last_job: int, last_stage: int) -> None:
        jobs = [j for j in self.store.jobs() if j["jobId"] > last_job]
        stages = [s for s in self.store.stages() if s["stageId"] > last_stage]
        slots = int(os.environ["SPARK_GRAFT_CPUS"])
        rec["spark"] = layers.spark_window(jobs, stages, slots)
        for timing in rec.get("rows", []):
            mine = [j for j in jobs if timing.start_ms <= j["submissionTime"] <= timing.end_ms]
            in_job = layers.interval_union_s(layers.job_spans(mine))
            timing.jobs = len(mine)
            timing.driver_only_s = timing.build_s + timing.run_s - in_job

    # -- the timed window ---------------------------------------------------

    def measure(self) -> None:
        if self.args.trace:
            self.py4j = layers.Py4jCounter(self.spark)
        self.stored_before_mb = layers.stored(self.store)[1] if self.args.trace else 0.0
        # whole passes while the next one (predicted from the last) still
        # fits in the window: one at least.  A traced run orders its passes
        # in blocks of untraced, traced, traced, untraced, so a drift in
        # pass time cancels out of the overhead, and ends on a whole block.
        t0 = time.perf_counter()
        i = 0
        while True:
            traced = bool(self.args.trace) and i % 4 in (1, 2)
            last = self.one_pass(traced=traced)["wall_s"]
            i += 1
            fits = time.perf_counter() - t0 + last <= self.args.seconds
            if not fits and (not self.args.trace or i % 4 == 0):
                break
        if self.args.trace:
            self.py4j.close()
            self.stored_after_mb = layers.stored(self.store)[1]
        if self.cfg["rows"] is not None:
            # outside the timing: collect the last timed pass's DataFrames,
            # so a result that goes wrong only when a row runs again fails
            self.reused = rows.collect(self.kept)

    # -- after the window ---------------------------------------------------

    def finish(self) -> dict:
        timed = [p for p in self.passes if not p["warmup"]]
        plain = [p for p in timed if not p["traced"]]
        traced = [p for p in timed if p["traced"]]
        values: dict[str, float] = {}
        if self.args.trace:
            values.update(self._per_layer(plain, traced))
        self.kept = {}
        n_rdds, held_mb = layers.held_after_gc(self.spark, self.store)
        values["storage.rdds_held"] = float(n_rdds)
        values["storage.held_mb"] = held_mb
        values["setup_s"] = self.setup_s
        values["pass_s"] = median([p["wall_s"] for p in plain])
        if self.cfg["rows"] is not None:
            self._check_rows({"warm-up": self.collected, "last timed pass": self.reused})
        values["failed_frac"] = self.failed / max(1, self.attempted)
        self.series = [
            {
                "warmup": p["warmup"],
                "traced": p["traced"],
                "wall_s": round(p["wall_s"], 4),
                "host_cpu_s": round(p["host_cpu_s"], 3),
                "host_steal_s": round(p["host_steal_s"], 3),
                **{f"{t.row}_s": round(t.build_s + t.run_s, 4) for t in p.get("rows", [])},
            }
            for p in self.passes
        ]
        return values

    def _per_layer(self, plain: list[dict], traced: list[dict]) -> dict[str, float]:
        out = dict(self.layers)
        all_timed = plain + traced
        out["trace.overhead_s"] = statistics.fmean([p["wall_s"] for p in traced]) - statistics.fmean(
            [p["wall_s"] for p in plain]
        )
        out["host.cpu_s"] = median([p["host_cpu_s"] for p in all_timed])
        out["host.steal_s"] = median([p["host_steal_s"] for p in all_timed])
        for key in traced[0]["spark"]:
            out[key] = median([p["spark"][key] for p in traced])
        in_job = median([p["spark"]["spark.in_job_s"] for p in traced])
        out["driver.only_s"] = median([p["wall_s"] for p in traced]) - in_job
        out["driver.py4j_calls"] = median([p["py4j_calls"] for p in traced])
        out["driver.py4j_s"] = median([p["py4j_s"] for p in traced])
        out["storage.growth_mb_per_pass"] = (self.stored_after_mb - self.stored_before_mb) / len(all_timed)
        if self.cfg["rows"] is None:
            for key in traced[0]["layers"]:
                out[key] = median([p["layers"].get(key, 0.0) for p in traced])
            out["core.pickled_frames"] = float(traced[-1]["pickled_frames"])
            out["trace.unattributed_s"] = median(
                [p["wall_s"] - sum(p["layers"].values()) for p in traced]
            )
            return out
        out["trace.unattributed_s"] = median(
            [p["wall_s"] - sum(t.build_s + t.run_s for t in p["rows"]) for p in traced]
        )
        per_row: dict[str, dict[str, float]] = {}
        for row in self.rows:
            series = [next(t for t in p["rows"] if t.row == row) for p in traced]
            per_row[row] = {
                "build_s": median([t.build_s for t in series]),
                "run_s": median([t.run_s for t in series]),
                "jobs": median([t.jobs for t in series]),
                "driver_only_s": median([t.driver_only_s for t in series]),
            }
            per_row[row].update(layers.plan_census(self._plan_text(self.kept[row])))
        for key in ("build_s", "run_s", "jobs"):
            out[f"operators.{key}"] = sum(r[key] for r in per_row.values())
        for key in ("exchanges", "text_kb", "python_nodes"):
            out[f"plans.{key}"] = sum(r[key] for r in per_row.values())
        for row, r in per_row.items():
            out[f"operators.{row}.build_s"] = r["build_s"]
            out[f"operators.{row}.run_s"] = r["run_s"]
            out[f"operators.{row}.jobs"] = r["jobs"]
            out[f"driver.{row}.only_s"] = r["driver_only_s"]
            for key in ("exchanges", "text_kb", "python_nodes"):
                out[f"plans.{row}.{key}"] = r[key]
        return out

    @staticmethod
    def _plan_text(df) -> str:
        from dask_obj_spark.plans.inspect import explain_str

        return explain_str(df, "formatted")

    def _check_rows(self, collections: dict[str, dict]) -> None:
        """Compare collected results with the DuckDB oracle over the same
        parquet, using the comparator of the repository's parity test.
        ``collections`` maps a label to one collected pass."""
        import importlib.util

        import duckdb

        path = os.path.join(ROOT, "tests", "test_oracle_parity.py")
        spec = importlib.util.spec_from_file_location("perfbench_oracle_parity", path)
        parity = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(parity)
        duck = duckdb.connect()
        duck.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{self.embeddings}')")
        try:
            for row, qname in self.rows.items():
                want_cols = want = None
                if qname in parity.ORACLE:
                    od = duck.execute(parity.ORACLE[qname]).fetchdf()
                    want_cols = list(od.columns)
                    want = [tuple(r) for r in od.itertuples(index=False)]
                for label, collected in collections.items():
                    cols, got = collected[row]
                    problem = None
                    if want is not None:
                        if sorted(cols) != sorted(want_cols):
                            problem = f"columns {cols} vs {want_cols}"
                        elif parity._rows_to_multiset(cols, got) != parity._rows_to_multiset(want_cols, want):
                            problem = f"{len(got)} rows vs {len(want)} oracle rows, values differ"
                    if not got and qname not in parity.ALLOWED_EMPTY:
                        problem = "empty result"
                    if problem:
                        self.failed += 1
                        print(f"perfbench: {row} ({qname}), {label}: fails its oracle: {problem}", file=sys.stderr)
        finally:
            duck.close()

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and the Python workers it owns)
        to exit."""
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gateway = spark.sparkContext._gateway
        spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the program under test is missing beside the benchmark: {missing}", file=sys.stderr)
        return 2
    if os.environ.get("PYTHONHASHSEED") != HASH_SEED:
        env = dict(os.environ, PYTHONHASHSEED=HASH_SEED)
        os.execve(sys.executable, [sys.executable, os.path.abspath(__file__)] + sys.argv[1:], env)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    settings = host_settings()
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every temporary file (Python, Spark, both JVMs) inside the checkout
    os.environ.update(
        settings,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    print(json.dumps({"settings": dict(settings, PYTHONHASHSEED=HASH_SEED, workload=args.workload,
                                       seed=args.seed, seconds=args.seconds, trace=args.trace)}), flush=True)

    run = Run(args, work)
    error = None
    try:
        run.setup()
        run.measure()
        values = run.finish()
    except Exception:  # a failed operation ends the run: report it, exit non-zero
        error = traceback.format_exc()
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))
    if error is not None:
        print(error, file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": run.attempted + 1,
                          "failed": run.failed + 1, "metrics": {}}))
        return 1

    print(json.dumps({"passes": run.series}), flush=True)
    if args.trace:
        e2e = {m["name"]: values.get(m["name"], 0.0) for m in spec["end_to_end"]}
        print(json.dumps({"end_to_end": e2e}), flush=True)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    correct = run.failed == 0
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
