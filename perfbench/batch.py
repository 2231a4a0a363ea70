"""The batch workload: timed passes over registry keys on the noop sink,
per-key Spark counters when traced, and the correctness check.

A pass builds each key (``queries()[k](spark, data)``) and writes it to
the noop sink. An untimed warm-up pass comes first and collects every
key's output for the correctness check; timed passes follow until
``--seconds`` is spent. The workload seed rotates the key order,
differently in each pass, so an order effect cannot pose as a gain.

The end-to-end metrics are the Spark jobs and tasks one timed pass starts
(one job group per pass); they repeat exactly. Wall times go to the run
details beside them: a key's latency is its fastest timed sample, and
pass_s sums them. On a shared 4-vCPU host the hypervisor took 2-44% of
the busy CPU time as steal during single runs, which moved pass_s by
IQR/median 0.2-0.7 over five runs, and CPU time by 0.3-0.5, so no wall or
CPU time of this workload repeats within any usable bound.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import sys
import time

from spans import Tracer, group_counters, plan_counters, wait_listeners

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")

WORKLOADS = {
    "batch": {
        "keys": [
            # JVM only (0 Python operators in the executed plans); at this
            # scale each is bound by per-job overhead, not by data.
            "q_agg_group", "q_tumbling_window", "q_session_window",
            "q_join_multi", "q_tpch_q5_shape",
            # Time in Python kernels and in eager materialization while the
            # frame is built (q_kcore: ~0.55 s of build, ~0.25 s of write).
            "q_count_or_time_batches", "q_kcore", "q_similarity_join_fast",
        ],
        # Tables the keys read through sources/tables.load.
        "tables": ["lineitem", "orders", "customer", "supplier", "nation",
                   "region", "events", "documents", "embeddings"],
    },
}

LAYERS = ("operators", "windows", "llm")
KEY_METRICS = (
    "build_s", "build_jobs", "exec_s", "jobs", "stages", "tasks", "exchanges",
    "shuffle_bytes", "spill_bytes", "cpu_s", "python_nodes", "offcpu_s",
)
# Counts that must repeat exactly between passes and between runs.
EXACT = ("build_jobs", "jobs", "stages", "tasks", "exchanges", "shuffle_bytes",
         "python_nodes")


def layer_of(fn) -> str:
    """Layer of a registry key, named after the module that defines it."""
    mod = fn.__module__.split(".")
    if "llm" in mod or "functions" in mod:
        return "llm"
    if "streaming" in mod:
        return "windows"
    return "operators"


def _oracle_tools():
    tools = os.path.join(ROOT, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from verify_oracle import compare, duck_connect, normalize

    return compare, duck_connect, normalize


def fingerprint(pdf) -> dict:
    """Row count and an order-insensitive digest of a result frame; floats
    rounded to 6 places so last-bit summation order cannot flip it."""
    _, _, normalize = _oracle_tools()
    norm = normalize(pdf)
    for c in norm.columns:
        if norm[c].dtype == "float64":
            norm[c] = norm[c].round(6)
    digest = hashlib.sha256(norm.to_csv(index=False).encode()).hexdigest()
    return {"rows": int(len(pdf)), "sha256": digest}


def _sf_name(data: str) -> str:
    return os.path.basename(os.path.normpath(data))


def record_expected(entry, spark, data: str) -> None:
    """Record fingerprints of every rows-only key of the batch workloads."""
    qs, oracles = entry.queries(), entry.oracle_sql()
    try:
        with open(EXPECTED) as f:
            expected = json.load(f)
    except FileNotFoundError:
        expected = {}
    table = expected.setdefault(_sf_name(data), {})
    for spec in WORKLOADS.values():
        for k in spec["keys"]:
            if k not in oracles:
                table[k] = fingerprint(qs[k](spark, data).toPandas())
    with open(EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


def check(k: str, pdf, oracles: dict, con, expected: dict, compare) -> list[str]:
    """Problems with one key's output; empty when it is correct."""
    if k in oracles:
        problems = compare(pdf, con.sql(oracles[k]).df())
    elif k in expected:
        got = fingerprint(pdf)
        problems = [] if got == expected[k] else [f"fingerprint {got} != {expected[k]}"]
    else:
        problems = ["no oracle and no recorded fingerprint"]
    if k == "q_count_or_time_batches":
        n_events = con.sql("SELECT count(*) FROM events").fetchone()[0]
        if int(pdf["n_events"].sum()) != n_events:
            problems.append(f"n_events sums to {pdf['n_events'].sum()} != {n_events}")
        if len(pdf) and int(pdf["n_events"].max()) > 20:
            problems.append("a batch holds more than 20 events")
    return problems


def _rotated(keys: list[str], shift: int) -> list[str]:
    s = shift % len(keys)
    return keys[s:] + keys[:s]


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def _min(xs):
    return min(xs) if xs else 0.0


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1]."""
    if not xs:
        return 0.0
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def run(entry, spark, args) -> dict:
    spec = WORKLOADS[args.workload]
    qs, oracles = entry.queries(), entry.oracle_sql()
    keys, data = spec["keys"], args.data
    sc = spark.sparkContext
    layer = {k: layer_of(qs[k]) for k in keys}
    attempted = failed = 0
    errors: list[str] = []

    # Warm-up pass (untimed): collects each key's output for the check.
    t_warm = time.perf_counter()
    outputs, warm_s = {}, {}
    for k in _rotated(keys, args.seed):
        attempted += 1
        try:
            t0 = time.perf_counter()
            outputs[k] = qs[k](spark, data).toPandas()
            warm_s[k] = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 — a failing key is a failed op
            failed += 1
            errors.append(f"{k}: {type(exc).__name__}: {exc}"[:300])

    # Timed passes. A traced run alternates untraced and traced passes, so
    # the tracing overhead is measured within one process and host period.
    tracer = Tracer(f"{args.workload}-{args.seed}")
    passes: list[dict] = []
    t_passes = time.perf_counter()
    deadline = t_passes + args.seconds
    with tracer.span("workload", layer="benchmark") as wl:
        p = 0
        while True:
            traced = bool(args.trace) and p % 2 == 1
            rec = {"traced": traced, "keys": {}}
            if not traced:
                # One job group per untraced pass: its jobs and tasks are
                # the end-to-end counts. Traced passes group per key.
                sc.setJobGroup(f"pass#{p}", "perfbench pass")
            t_pass = time.perf_counter()
            with tracer.span("pass", wl["id"], layer="benchmark", n=p) as ps:
                for k in _rotated(keys, args.seed + p + 1):
                    attempted += 1
                    try:
                        rec["keys"][k] = _run_key(
                            spark, sc, qs[k], k, data, p, traced, tracer,
                            ps["id"], layer[k],
                        )
                    except Exception as exc:  # noqa: BLE001
                        failed += 1
                        errors.append(f"{k}: {type(exc).__name__}: {exc}"[:300])
            rec["wall"] = time.perf_counter() - t_pass
            sc.setLocalProperty("spark.jobGroup.id", None)
            rec["group"] = None if traced else f"pass#{p}"
            passes.append(rec)
            p += 1
            # Stop once a further pass would end further past the deadline
            # than the run is short of it now.
            enough = p >= (4 if args.trace else 2)
            if enough and time.perf_counter() + rec["wall"] / 2 >= deadline:
                break

    # Counts and correctness, outside the timed region.
    wait_listeners(spark)
    plain = [r for r in passes if not r["traced"]]
    for r in plain:
        c = group_counters(spark, r["group"])
        r["jobs"], r["tasks"] = c["jobs"], c["tasks"]
    t_check = time.perf_counter()
    compare, duck_connect, _ = _oracle_tools()
    con = duck_connect(data)
    try:
        with open(EXPECTED) as f:
            expected = json.load(f).get(_sf_name(data), {})
    except FileNotFoundError:
        expected = {}
    for i, k in enumerate(keys):
        if k not in outputs:
            continue
        attempted += 1
        pdf = outputs[k]
        if args.plant == "wrong_row" and i == 0:
            pdf = pdf.iloc[list(range(len(pdf))) + [0]]
        problems = check(k, pdf, oracles, con, expected, compare)
        if problems:
            failed += 1
            errors.append(f"{k}: " + "; ".join(problems)[:300])

    latency = {k: _key_latency(plain, k) for k in keys}
    result = {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "passes": len(plain),
        "pass_walls": [r["wall"] for r in plain],
        "warmup_s": t_passes - t_warm,
        "warmup_key_s": warm_s,
        "check_s": time.perf_counter() - t_check,
        # Wall times, for reading beside the counts; the host's speed moves
        # them by up to 2x between runs (see the module docstring).
        "pass_s": sum(latency.values()),
        "p50_ms": 1e3 * quantile(list(latency.values()), 0.50),
        "p99_ms": 1e3 * quantile(list(latency.values()), 0.99),
        "key_latency_s": latency,
        "pass_counts": [(r["jobs"], r["tasks"]) for r in plain],
        "key_walls_s": {k: [r["keys"][k]["wall"] for r in plain if k in r["keys"]]
                        for k in keys},
        "metrics": {
            "jobs": statistics.median(r["jobs"] for r in plain),
            "tasks": statistics.median(r["tasks"] for r in plain),
        },
    }
    if args.trace:
        result["layers"], result["trace_extra"] = _layer_metrics(
            spark, spec, passes, keys, layer, data
        )
        tracer.write(
            os.path.join(args.work, f"trace-{args.workload}-{args.seed}.json"),
            {"passes": passes},
        )
    return result


def _key_latency(passes: list[dict], k: str) -> float:
    return _min([r["keys"][k]["wall"] for r in passes if k in r["keys"]])


def _run_key(spark, sc, fn, k, data, p, traced, tracer, parent, layer) -> dict:
    group = f"{k}#{p}"
    t0 = time.perf_counter()
    if traced:
        sc.setJobGroup(group + ":build", k)
    df = fn(spark, data)
    t1 = time.perf_counter()
    if traced:
        sc.setJobGroup(group + ":exec", k)
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    out = {"wall": t2 - t0, "build_s": t1 - t0, "exec_s": t2 - t1}
    if not traced:
        return out
    sc.setLocalProperty("spark.jobGroup.id", None)
    key_span = tracer.add("key", t0, t2, parent, layer=layer, key=k)
    tracer.add("build", t0, t1, key_span, layer=layer, key=k)
    tracer.add("exec", t1, t2, key_span, layer=layer, key=k)
    wait_listeners(spark)
    build = group_counters(spark, group + ":build")
    run = group_counters(spark, group + ":exec")
    plan = plan_counters(df)
    both = {m: build[m] + run[m] for m in run}
    out.update(
        build_jobs=build["jobs"],
        jobs=run["jobs"],
        stages=both["stages"],
        tasks=both["tasks"],
        exchanges=plan["exchanges"],
        python_nodes=plan["python_nodes"],
        shuffle_bytes=both["shuffle_bytes"],
        spill_bytes=both["spill_bytes"],
        input_bytes=both["input_bytes"],
        cpu_s=both["cpu_s"],
        offcpu_s=max(0.0, both["run_s"] - both["cpu_s"]),
    )
    return out


def _layer_metrics(spark, spec, passes, keys, layer, data):
    """Per-layer rollups from the traced passes, the sources scan floor,
    and the tracing overhead against the untraced passes."""
    from reactor_window_like_flink_spark.sources.tables import load

    traced = [r for r in passes if r["traced"]]
    plain = [r for r in passes if not r["traced"]]
    out = {f"{lay}.{m}": 0.0 for lay in LAYERS for m in KEY_METRICS}
    repeat = True
    input_bytes = 0
    per_key = {}
    for k in keys:
        runs = [r["keys"][k] for r in traced if k in r["keys"]]
        if not runs:
            continue
        first = runs[0]
        repeat &= all(r[m] == first[m] for r in runs for m in EXACT)
        row = {m: (_mean([r[m] for r in runs]) if m not in EXACT else first[m])
               for m in KEY_METRICS}
        per_key[k] = row
        input_bytes += first["input_bytes"]
        for m, v in row.items():
            out[f"{layer[k]}.{m}"] += v

    scans = []
    for t in spec["tables"]:
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            load(spark, data, t).write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
        scans.append(_mean(walls))
    out["sources.scan_s"] = sum(scans)
    out["sources.input_bytes"] = input_bytes

    base = sum(_key_latency(plain, k) for k in keys)
    with_trace = sum(_key_latency(traced, k) for k in keys)
    out["trace.overhead_pct"] = 100.0 * (with_trace - base) / base if base else 0.0
    return out, {"per_key": per_key, "counts_repeat": repeat}
