#!/usr/bin/env python
"""Quick oracle-parity harness for optimization iterations: run the
queries named on the command line against their DuckDB oracles at one
or more scale factors (default sf0.01), on the bounded DuckDB
connection and with the comparison tests/test_oracle_parity.py uses.
Exits 1 if any query fails.

Usage:
    python tools/parity_check.py [--sf 0.01,0.1] name1 name2 ...
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"
))

from dask_obj_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    sfs = [0.01]
    names: list[str] = []
    it = iter(args)
    for a in it:
        if a == "--sf":
            sfs = [float(x) for x in next(it).split(",")]
        else:
            names.append(a)

    import test_oracle_parity as par  # reuses QUERIES/ORACLE + comparator

    spark = get_spark(app_name="parity-check")
    failures = []
    spill_dir = tempfile.mkdtemp(prefix="duck_spill_")
    for sf in sfs:
        sf_dir = f"/root/testdata/sf{sf}"
        duck = par._duck_connection(sf_dir, spill_dir)
        for name in names:
            t0 = time.perf_counter()
            try:
                par.assert_query_matches_oracle(name, spark, sf_dir, duck)
                status = "ok"
            except AssertionError as e:
                status = f"FAIL: {e}"
                failures.append((sf, name, str(e)[:500]))
            print(f"sf{sf} {name}: {status} ({time.perf_counter()-t0:.1f}s)",
                  file=sys.stderr)
        duck.close()
    shutil.rmtree(spill_dir, ignore_errors=True)
    if failures:
        print(f"{len(failures)} FAILURES", file=sys.stderr)
        sys.exit(1)
    print("all green", file=sys.stderr)


if __name__ == "__main__":
    main()
