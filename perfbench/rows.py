"""The registered-query workloads and their per-row pass."""

from __future__ import annotations

import time
from dataclasses import dataclass

# bench row name -> registered query (names as in bench.py).  Driver-bound
# rows: most of their wall time is per-round jobs, plan analysis and py4j
# round-trips inside the query function, not executor work.  Both read only
# the ``embeddings`` table.
ITERATIVE = {
    "b23_mmr_topk": "sim_mmr_topk",
    "b30_kcenter_coreset": "sim_kcenter_coreset",
}


@dataclass
class RowTiming:
    row: str
    build_s: float
    run_s: float
    start_ms: float
    end_ms: float
    jobs: int = 0  # filled in by a traced pass
    driver_only_s: float = 0.0


def materialize(df) -> None:
    """Run the full plan on the executors; no rows cross to the driver."""
    df.write.format("noop").mode("overwrite").save()


def run_pass(spark, queries, rows: dict[str, str], data_dir: str):
    """Build and materialize every row once.

    Returns the per-row timings and each row's DataFrame, so the caller can
    capture its plan or collect it again later."""
    timings, frames = [], {}
    for row, qname in rows.items():
        start_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        df = queries[qname](spark, data_dir)
        t1 = time.perf_counter()
        materialize(df)
        t2 = time.perf_counter()
        timings.append(RowTiming(row, t1 - t0, t2 - t1, start_ms, time.time() * 1000.0))
        frames[row] = df
    return timings, frames


def collect(frames: dict) -> dict:
    """Collect each DataFrame: (columns, rows) per row."""
    return {row: (df.columns, [tuple(r) for r in df.collect()]) for row, df in frames.items()}


def collect_pass(spark, queries, rows: dict[str, str], data_dir: str) -> dict:
    """Build every row once and collect its result: (columns, rows) per row."""
    return collect({row: queries[qname](spark, data_dir) for row, qname in rows.items()})
