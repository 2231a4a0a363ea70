"""Solo median-of-5 arbitration and the Spark counters of named keys.

The repo's bench protocol (verify skill, BASELINE.md round-10 note): this
VM's host oscillates, so a key flagged >2x its bar by a full bench run is
a regression ONLY if its solo median-of-5 — the key alone on a warm
session, nothing else running — exceeds the bar. For each named key this
runs 1 warm-up + 5 timed noop-sink writes, printing min/median/max and
the ratio vs tools/bench_bar.json, then one more build and write under
``observe.run``: the key's record (build and execution jobs, stages,
tasks, bytes, plan nodes, index builds). Counts repeat exactly; wall
times do not.

Usage: python tools/observe.py q_source_drift q_token_entropy ...
       (default sf dir $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

here = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(here, ".."))


def main() -> int:
    keys = [a for a in sys.argv[1:] if not a.startswith("-")]
    if not keys:
        print("usage: observe.py <key> [key ...]", file=sys.stderr)
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as e
    from reactor_window_like_flink_spark import observe
    from reactor_window_like_flink_spark.session import get_spark

    with open(os.path.join(here, "bench_bar.json")) as f:
        bar = json.load(f)["bar"]

    spark = get_spark(app_name="observe")
    qs = e.queries()
    qs["q_scan_parquet"](spark, sf_dir).collect()  # session warm-up

    out: dict[str, dict] = {}
    for key in keys:
        fn = qs[key]
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples = []
        for _ in range(5):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        samples.sort()
        med = statistics.median(samples)
        record = observe.run(spark, lambda: fn(spark, sf_dir))
        rec = {
            "median5": round(med, 3),
            "min": round(samples[0], 3),
            "max": round(samples[-1], 3),
            "bar": bar.get(key),
            "ratio": round(med / bar[key], 2) if bar.get(key) else None,
            "record": record,
        }
        out[key] = rec
        verdict = (
            "REGRESSION" if rec["ratio"] and rec["ratio"] > 2.0
            else "ok" if rec["ratio"] is not None else "no-bar"
        )
        print(
            f"# {key}: median5={rec['median5']}s "
            f"[{rec['min']}..{rec['max']}] bar={rec['bar']} "
            f"ratio={rec['ratio']} {verdict} | "
            f"build_jobs={record['build_jobs']} jobs={record['jobs']} "
            f"tasks={record['tasks']} shuffles={record['shuffles']} "
            f"broadcasts={record['broadcasts']} "
            f"python_nodes={record['python_nodes']} "
            f"read_ms={1e3 * record['read_s']:.1f}",
            file=sys.stderr,
        )
    print(json.dumps({"sf_dir": sf_dir, "solo_median5": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
