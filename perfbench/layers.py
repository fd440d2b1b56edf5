"""Per-layer measurements read from outside the program under test.

Everything here observes the program through public surfaces only: Spark's
in-process status stores (``AppStatusStore`` for jobs, stages and stored
RDDs, ``SQLAppStatusStore`` for SQL executions), the formatted physical plan,
py4j's send-command entry point and ``/proc/stat``.  Both status stores are
populated with ``spark.ui.enabled=false``, so reading them does not change
the configuration being measured.
"""

from __future__ import annotations

import gc
import json
import os
import re
import threading
import time

MB = 1024.0 * 1024.0


class StatusStore:
    """JSON snapshots of the application status store.

    Each read is one py4j call: the JVM serializes the store's API objects
    with Jackson, so reading hundreds of stages costs no per-field
    round-trips."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._app = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))

    def _read(self, jobj) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(jobj))

    def jobs(self) -> list[dict]:
        return self._read(self._app.jobsList(None))

    def stages(self) -> list[dict]:
        # py4j cannot fill Scala default arguments: pass all five
        return self._read(self._app.stageList(None, False, False, self._no_quantiles, None))

    def rdds(self) -> list[dict]:
        return self._read(self._app.rddList(True))

    def sql_executions(self) -> int:
        return int(self._sql.executionsCount())

    def last_ids(self) -> tuple[int, int]:
        """Highest job and stage id seen so far (-1 when none)."""
        jobs = self.jobs()
        stages = self.stages()
        return (
            max((j["jobId"] for j in jobs), default=-1),
            max((s["stageId"] for s in stages), default=-1),
        )


def interval_union_s(spans: list[tuple[float, float]]) -> float:
    """Seconds covered by (start, end) intervals given in milliseconds."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(spans):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total / 1000.0


def job_spans(jobs: list[dict]) -> list[tuple[float, float]]:
    return [
        (j["submissionTime"], j["completionTime"])
        for j in jobs
        if j.get("submissionTime") is not None and j.get("completionTime") is not None
    ]


def spark_window(jobs: list[dict], stages: list[dict], slots: int) -> dict[str, float]:
    """``spark.*`` metrics over the given jobs and the stages they ran."""
    in_job_s = interval_union_s(job_spans(jobs))
    run_s = sum(s["executorRunTime"] for s in stages) / 1000.0

    def mb(*keys: str) -> float:
        return sum(s.get(k, 0) for s in stages for k in keys) / MB

    return {
        "spark.jobs": float(len(jobs)),
        "spark.tasks": float(sum(s["numCompleteTasks"] for s in stages)),
        "spark.in_job_s": in_job_s,
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1000.0,
        "spark.shuffle_read_mb": mb("shuffleReadBytes"),
        "spark.shuffle_write_mb": mb("shuffleWriteBytes"),
        "spark.spill_mb": mb("memoryBytesSpilled", "diskBytesSpilled"),
        "spark.input_mb": mb("inputBytes"),
        "spark.output_mb": mb("outputBytes"),
        "spark.slot_util": run_s / (in_job_s * slots) if in_job_s > 0 else 0.0,
    }


def stored(store: StatusStore) -> tuple[int, float]:
    """(RDDs with stored blocks, MB they hold in memory plus on disk)."""
    rdds = store.rdds()
    return len(rdds), sum(r["memoryUsed"] + r["diskUsed"] for r in rdds) / MB


def held_after_gc(spark, store: StatusStore) -> tuple[int, float]:
    """Stored RDDs still held once Python and JVM garbage collection have run
    and Spark's context cleaner has had time to drop unreachable blocks."""
    jvm = spark.sparkContext._jvm
    for _ in range(2):
        gc.collect()
        jvm.System.gc()
        time.sleep(0.5)
    return stored(store)


class Py4jCounter:
    """Counts and times py4j commands sent by this process while enabled.

    Wraps the gateway client's ``send_command`` on the instance, so every
    thread that talks to the JVM through this session is counted."""

    def __init__(self, spark):
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command
        self._lock = threading.Lock()
        self.enabled = False
        self.calls = 0
        self.seconds = 0.0
        orig = self._orig

        def send_command(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                with self._lock:
                    self.calls += 1
                    self.seconds += dt

        self._client.send_command = send_command

    def take(self) -> tuple[int, float]:
        with self._lock:
            out = (self.calls, self.seconds)
            self.calls, self.seconds = 0, 0.0
        return out

    def close(self) -> None:
        self._client.send_command = self._orig


_TICK = os.sysconf("SC_CLK_TCK")


def host_times() -> tuple[float, float]:
    """(busy CPU seconds, steal seconds) of the whole host since boot."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields[:8]
    return (user + nice + system + irq + softirq) / _TICK, steal / _TICK


_NODE = re.compile(r"^\(\d+\) (\S+)", re.MULTILINE)
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")


def plan_census(plan_text: str) -> dict[str, float]:
    """Exchange count, Python-evaluation node count and size of a
    formatted physical plan."""
    nodes = _NODE.findall(plan_text)
    return {
        "exchanges": float(sum(1 for n in nodes if n.endswith("Exchange"))),
        "python_nodes": float(sum(1 for n in nodes if _PYTHON_NODE.search(n))),
        "text_kb": len(plan_text.encode()) / 1024.0,
    }
