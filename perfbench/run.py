"""Table-format benchmark of duckdb_iceberg_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest_dml --seed 1 --seconds 24 --trace 0

Each run starts one Spark session (``get_spark()`` at ``local[nproc]``),
builds its table from scratch under ``.perfbench_work/`` in the checkout,
runs untimed warm-up ops of every kind, then a closed loop of one client
thread over a fixed op sequence derived from ``--seed``; ``--seconds``
sets the op count through each workload's nominal op cost. Every op's
result is checked (DuckDB replays ``ingest_dml``; ``plan_large`` checks
plan invariants). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

WORKLOADS = ("ingest_dml", "plan_large")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "duckdb_iceberg_spark",
                                       "__init__.py")):
        print("perfbench: run from the root of a duckdb_iceberg_spark "
              "checkout (no duckdb_iceberg_spark/ package here)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    from perfbench import harness

    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    harness.prepare_env(root, work)
    t0 = time.perf_counter()
    spark = harness.start_session(work)
    session_s = time.perf_counter() - t0
    try:
        import duckdb_iceberg_spark

        pkg_dir = os.path.dirname(os.path.abspath(duckdb_iceberg_spark.__file__))
        if os.path.dirname(pkg_dir) != root:
            raise RuntimeError(f"imported the package from {pkg_dir}, "
                               f"not from this checkout")
        if args.workload == "ingest_dml":
            from perfbench.ingest_dml import IngestDml as Workload
        else:
            from perfbench.plan_large import PlanLarge as Workload
        wl = Workload(spark, args.seed, args.seconds)
        result = harness.run_workload(wl, spark, work, bool(args.trace),
                                      session_s=session_s)
    finally:
        harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
