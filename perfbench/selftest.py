"""Self-test of the benchmark on the smallest scale (sf0.001) and a
seconds-long stream. Run from the repository root:

    python3 perfbench/selftest.py

It checks that BENCHMARK.json and perfbench/metrics.json name the same
metrics with the same units, that every metric is emitted with its unit,
that Spark's counts repeat exactly between passes and between runs, that a
planted wrong row or a dropped event is counted as a failure, and that the
benchmark refuses to run without the program's sources.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch", "stream_publish")
JVM_KEYS = ("q_agg_group", "q_tumbling_window", "q_session_window",
            "q_join_multi", "q_tpch_q5_shape")
EXACT = ("build_jobs", "jobs", "stages", "tasks", "exchanges", "shuffle_bytes",
         "python_nodes")


def bench(workload: str, seed: int, trace: int, plant: str | None = None,
          cwd: str = ROOT) -> tuple[int, list[dict]]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", "3",
           "--trace", str(trace)]
    if plant:
        cmd += ["--plant", plant]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = [json.loads(x) for x in proc.stdout.splitlines() if x.startswith("{")]
    return proc.returncode, lines


def check_metrics(result: dict, wanted: list[dict], where: str) -> None:
    got = result["metrics"]
    assert set(got) == {m["name"] for m in wanted}, (where, sorted(got))
    for m in wanted:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], (where, m["name"], v)
        assert isinstance(v["value"], (int, float)), (where, m["name"], v)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "metrics.json")) as f:
        detail = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert list(detail["workloads"]) == list(WORKLOADS)
    for part in ("end_to_end", "per_layer"):
        assert {m["name"]: m["unit"] for m in spec[part]} == {
            k: v["unit"] for k, v in detail[part].items()}, part
    print("ok: BENCHMARK.json and metrics.json agree")

    # Planted failures, untraced: every end-to-end metric still comes out,
    # and the planted fault is counted.
    plants = {"batch": "wrong_row", "stream_publish": "drop_event"}
    for w, plant in plants.items():
        code, lines = bench(w, 1, 0, plant)
        assert code == 0, (w, plant, code)
        res = lines[-1]
        check_metrics(res, spec["end_to_end"], f"{w} trace 0")
        assert res["failed"] >= 1 and res["correct"] is False, (w, res)
        assert all(res["metrics"][m["name"]]["value"] > 0
                   for m in spec["end_to_end"]), (w, res)
        print(f"ok {w}: planted {plant} counted ({res['failed']} failed)")

    # Traced runs: every per-layer metric, no failures, exact counts.
    per_key = {}
    for w in WORKLOADS:
        code, lines = bench(w, 1, 1)
        assert code == 0, (w, code)
        info, res = lines[-2], lines[-1]
        check_metrics(res, spec["per_layer"], f"{w} trace 1")
        assert res["failed"] == 0 and res["correct"] is True, (w, info["errors"])
        if w != "stream_publish":
            assert info["trace_extra"]["counts_repeat"], (w, "counts differ by pass")
            per_key[w] = info["trace_extra"]["per_key"]
        if w == "batch":
            assert res["metrics"]["operators.python_nodes"]["value"] == 0
            assert all(per_key[w][k]["python_nodes"] == 0 for k in JVM_KEYS)
        print(f"ok {w}: every per-layer metric emitted")

    code, lines = bench("batch", 2, 1)
    assert code == 0
    again = lines[-2]["trace_extra"]["per_key"]
    for k, row in per_key["batch"].items():
        assert {m: row[m] for m in EXACT} == {m: again[k][m] for m in EXACT}, k
    print("ok batch: per-key counts repeat exactly between runs")

    # The end-to-end counts repeat exactly between passes and between
    # runs of another seed.
    for w in WORKLOADS:
        seen = []
        for seed in (3, 4):
            code, lines = bench(w, seed, 0)
            assert code == 0, (w, code)
            info, res = lines[-2], lines[-1]
            assert res["failed"] == 0, (w, info["errors"])
            counts = info["pass_counts" if w == "batch" else "drain_counts"]
            assert len(set(map(tuple, counts))) == 1, (w, counts)
            seen.append({m: res["metrics"][m]["value"] for m in ("jobs", "tasks")})
        assert seen[0] == seen[1], (w, seen)
        print(f"ok {w}: jobs and tasks repeat exactly ({seen[0]})")

    # Without the program's sources the benchmark fails without a result.
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_work")) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = bench("batch", 1, 0, cwd=bare)
        assert code != 0 and not lines, (code, lines)
    print("ok: refuses to run without the program's sources")
    return 0


if __name__ == "__main__":
    sys.exit(main())
