"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Workloads (``perfbench/metrics.json`` records why each was chosen, and what
every metric measures): ``batch`` and ``stream_publish``.

Each run generates its inputs (cached under ``.bench_work/``), starts two
fresh Spark processes together (one only sets up, the other sets up and
runs the workload), checks the outputs, and prints two
JSON lines: the host set-up and run details, then the result
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402

SF = 0.001
WORKER_TIMEOUT_S = 150


_SPIN = (
    "import time\nt = time.perf_counter()\nx = 0\n"
    "for i in range(2_000_000):\n    x += i * i\n"
    "print(time.perf_counter() - t)"
)


def effective_cores(n: int) -> float | None:
    """How many of ``n`` fresh processes run at full speed at once: n times
    the one-process time of a fixed loop over the slowest of n at once."""

    def spin(k: int) -> float:
        procs = [
            subprocess.Popen([sys.executable, "-c", _SPIN], stdout=subprocess.PIPE)
            for _ in range(k)
        ]
        return max(float(p.communicate(timeout=60)[0]) for p in procs)

    try:
        single = spin(1)
        return round(n * single / spin(n), 2)
    except (OSError, ValueError, subprocess.SubprocessError):
        return None  # a probe failure records null


def host_info(cpus: int) -> dict:
    mem_kb = None
    try:
        with open("/proc/meminfo") as f:
            mem_kb = int(f.readline().split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return {
        "nproc": os.cpu_count(),
        "master": f"local[{cpus}]",
        "mem_total_gb": round(mem_kb / 2**20, 1) if mem_kb else None,
        "loadavg": list(os.getloadavg()),
        "effective_cores": effective_cores(cpus),
    }


def worker_env(root: str, work: str, cpus: int) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env.update(
        # Python workers of pandas/arrow UDFs import the package from here.
        PYTHONPATH=os.pathsep.join(
            p for p in (root, env.get("PYTHONPATH")) if p
        ),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # Every JVM (launcher and driver) keeps its temp files in the work
        # dir and writes no perf-data file to the system temp dir.
        JAVA_TOOL_OPTIONS=(
            env.get("JAVA_TOOL_OPTIONS", "")
            + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ).strip(),
    )
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    return env


def _reap(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group (the JVM and its
    Python workers) and wait until the group is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(100):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


class Worker:
    """One worker process, started on construction; ``finish`` waits for it
    and returns (set-up seconds, its READY parts, its RESULT or None)."""

    def __init__(self, argv: list[str], env: dict, work: str, log: str) -> None:
        self.argv, self.log = argv, log
        self.lines: list[tuple[float, str]] = []
        with open(log, "wb") as err:
            self.t0 = time.perf_counter()
            self.proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), *argv],
                stdout=subprocess.PIPE, stderr=err, cwd=work, env=env,
                start_new_session=True,
            )
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()

    def _read(self) -> None:
        for raw in self.proc.stdout:
            self.lines.append((time.perf_counter(), raw.decode(errors="replace")))

    def finish(self, deadline: float) -> tuple[float, dict, dict | None]:
        try:
            code = self.proc.wait(timeout=max(1.0, deadline - time.perf_counter()))
        except subprocess.TimeoutExpired:
            code = None
        _reap(self.proc)
        self.reader.join(5)
        setup_s, parts, result = None, {}, None
        for t, line in self.lines:
            if line.startswith("READY "):
                setup_s, parts = t - self.t0, json.loads(line[6:])
            elif line.startswith("RESULT "):
                result = json.loads(line[7:])
        if setup_s is None or code != 0:
            raise RuntimeError(
                f"worker {self.argv[:2]} failed (exit {code}); see {self.log}"
            )
        return setup_s, parts, result


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", choices=("wrong_row", "drop_event"), default=None)
    args = ap.parse_args()

    with open(os.path.join(HERE, "metrics.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    root = os.getcwd()
    if not (
        os.path.isfile(os.path.join(root, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(root, "reactor_window_like_flink_spark"))
    ):
        print("run from the repository root: program sources not found",
              file=sys.stderr)
        return 2

    work = os.path.join(root, ".bench_work")
    data = datagen.ensure(os.path.join(work, "data", f"sf{SF}"), SF)
    cpus = max(1, min(os.cpu_count() or 1, 4))
    env = worker_env(root, work, cpus)
    host = host_info(cpus)

    # The set-up is measured twice per run: a set-up-only probe and the
    # workload's own worker start together, so the second cold start costs
    # little wall time. setup_s is the median of the two.
    deadline = time.perf_counter() + WORKER_TIMEOUT_S
    tag = f"{args.workload}-{args.seed}"
    try:
        probe = Worker(["--setup-only"], env, work,
                       os.path.join(work, f"probe-{tag}.log"))
        runner = Worker(
            [
                "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--data", data, "--work", work,
                *(["--plant", args.plant] if args.plant else []),
            ],
            env, work, os.path.join(work, f"worker-{tag}.log"),
        )
        probe_s, probe_parts, _ = probe.finish(deadline)
        run_s, run_parts, res = runner.finish(deadline)
    except RuntimeError as exc:
        print(str(exc), file=sys.stderr)
        return 1
    if res is None:
        print(f"worker printed no result; see {runner.log}", file=sys.stderr)
        return 1

    if args.trace:
        wanted = spec["per_layer"]
        values = {
            **res.get("layers", {}),
            "session.import_s": statistics.median(
                [probe_parts["import_s"], run_parts["import_s"]]),
            "session.spark_s": statistics.median(
                [probe_parts["spark_s"], run_parts["spark_s"]]),
        }
    else:
        wanted = spec["end_to_end"]
        values = {**res["metrics"], "setup_s": statistics.median([probe_s, run_s])}
    metrics = {}
    for name, m in wanted.items():
        if name in values:
            v = values[name]
        elif args.workload in m.get("workloads", []):
            print(f"workload did not measure {name}", file=sys.stderr)
            return 1
        else:
            v = 0  # the workload does not pass through this layer
        metrics[name] = {"value": v, "unit": m["unit"]}

    detail = {k: v for k, v in res.items() if k not in ("metrics", "layers")}
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "sf": SF,
        "seconds": args.seconds, "trace": args.trace, "host": host,
        "setup_samples_s": [probe_s, run_s], **detail,
    }))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
