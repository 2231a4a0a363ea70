"""Spark-side half of the benchmark: one process, one cold set-up, one
workload. ``run.py`` starts it and reads its stdout protocol:

- ``READY {json}`` once the registry is imported and the session is up;
- ``RESULT {json}`` with the workload's measurements and correctness.

Usage (normally through run.py)::

    python3 perfbench/worker.py --setup-only
    python3 perfbench/worker.py --workload batch --seed 1 --seconds 10 \
        --trace 0 --data DIR --work DIR [--plant wrong_row]
    python3 perfbench/worker.py --record --data DIR   # writes expected.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def setup():
    """Registry import and session creation, timed separately."""
    t0 = time.perf_counter()
    import __spark_entry__ as entry

    t1 = time.perf_counter()
    from reactor_window_like_flink_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return entry, spark, {"import_s": t1 - t0, "spark_s": t2 - t1}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--setup-only", action="store_true")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data")
    ap.add_argument("--work")
    ap.add_argument("--plant", default=None)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()

    entry, spark, setup_parts = setup()
    print("READY " + json.dumps(setup_parts), flush=True)
    try:
        if args.setup_only:
            return 0
        if args.record:
            import batch

            batch.record_expected(entry, spark, args.data)
            return 0
        if args.workload == "stream_publish":
            import stream

            result = stream.run(spark, args)
        else:
            import batch

            result = batch.run(entry, spark, args)
        import pyarrow

        result["setup_parts"] = setup_parts
        result["versions"] = {
            "spark": spark.version,
            "pyarrow": pyarrow.__version__,
            "python": sys.version.split()[0],
        }
        result["spark_local_dirs"] = os.environ.get("SPARK_LOCAL_DIRS")
        result["driver_mem"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        print("RESULT " + json.dumps(result), flush=True)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
