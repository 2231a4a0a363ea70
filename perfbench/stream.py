"""stream_publish: the paper's pipeline in the reference's shape.

A generator thread publishes stamped events through
``FileStreamInput.publish`` open loop, on a due-time schedule at a fixed
rate; a ``WindowedPublisher`` (15-row chunks, 0.5 s window) delivers them
to a driver-side consumer. Each event's latency runs from its due time to
the consumer receiving it, so a stall also charges the events queued
behind it. After the open-loop phase, catch-up passes drain a fixed
backlog (``subscribe(drain=True)``); the jobs and tasks of one pass are
the end-to-end metrics, its wall time and the delivery latencies go to
the run details and, traced, to the publisher layer.

The workload seed drives the events' keys and values and the publish-size
jitter.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from datetime import datetime

import numpy as np

from spans import Tracer, group_counters, wait_listeners

SCHEMA = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"
RATE = 5_000  # events/s, open loop (the reference's throughput floor)
CHUNK = 15  # consumer chunk bound (window_max_batch_size)
WINDOW_S = 0.5  # trigger interval (window duration)
PUBLISH_ROWS = (100, 300)  # rows per publish, uniform; mean 200 = 25 files/s
WARMUP_S = 2.0
DRAIN_EVENTS = 20_000
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])


class Delivery:
    """Consumer side: exactly-once and chunk-shape bookkeeping."""

    def __init__(self, n: int, drop_first: bool) -> None:
        self.recv = np.full(n, np.nan)
        self.seen = np.zeros(n, dtype=np.int8)
        self.dups = self.oversize = self.empty = 0
        self.busy_s = 0.0
        self._drop = drop_first

    def consume(self, chunk) -> None:
        now = time.perf_counter()
        if not chunk:
            self.empty += 1
            return
        if len(chunk) > CHUNK:
            self.oversize += len(chunk)
        if self._drop:  # self-test: lose one event
            self._drop = False
            chunk = chunk[1:]
        for row in chunk:
            eid = row[0]
            if self.seen[eid]:
                self.dups += 1
            else:
                self.seen[eid] = 1
                self.recv[eid] = now
        self.busy_s += time.perf_counter() - now


class Generator(threading.Thread):
    """Open-loop publisher: events [lo, hi) at RATE from ``t0``; a batch is
    published when its last event is due, whatever the system is doing."""

    def __init__(self, src, events, due, lo, hi, t0, rng) -> None:
        super().__init__(daemon=True)
        self.src, self.events, self.due = src, events, due
        self.lo, self.hi, self.t0, self.rng = lo, hi, t0, rng
        self.publishes: list[tuple[float, float, float]] = []  # start, end, late
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            i = self.lo
            while i < self.hi:
                n = min(int(self.rng.integers(*PUBLISH_ROWS, endpoint=True)),
                        self.hi - i)
                due_last = self.t0 + (i + n - 1 - self.lo) / RATE
                self.due[i : i + n] = self.t0 + (np.arange(i, i + n) - self.lo) / RATE
                wait = due_last - time.perf_counter()
                if wait > 0:
                    time.sleep(wait)
                start = time.perf_counter()
                self.src.publish(self.events(i, i + n))
                self.publishes.append((start, time.perf_counter(), start - due_last))
                i += n
        except Exception as exc:  # noqa: BLE001 — re-raised by the caller
            self.error = exc


def _events_factory(n: int, rng):
    users = rng.integers(0, 1500, n)
    types = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]
    values = np.round(rng.exponential(50.0, n), 2)
    base = np.datetime64("2024-01-01T00:00:00", "us")
    ts = (base + (np.arange(n) * 50).astype("timedelta64[us]")).astype(datetime)

    def rows(lo: int, hi: int):
        return list(
            zip(
                range(lo, hi),
                ts[lo:hi].tolist(),
                users[lo:hi].tolist(),
                types[lo:hi].tolist(),
                values[lo:hi].tolist(),
            )
        )

    return rows


def _wait_delivered(delivery: Delivery, lo: int, hi: int, timeout: float) -> None:
    end = time.perf_counter() + timeout
    while time.perf_counter() < end:
        if delivery.seen[lo:hi].all():
            return
        time.sleep(0.05)


def _pct(xs, q: float) -> float:
    return float(np.percentile(xs, q)) if len(xs) else 0.0


def _field(p, name):
    return p.get(name) if isinstance(p, dict) else getattr(p, name)


def run(spark, args) -> dict:
    from reactor_window_like_flink_spark.streaming.publisher import (
        FileStreamInput,
        WindowedPublisher,
    )

    rng = np.random.default_rng(args.seed)
    work = os.path.join(args.work, f"stream-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    open_s = 0.6 * args.seconds
    n_warm = int(RATE * WARMUP_S)
    n_open = int(RATE * open_s)
    max_drains = 12
    n_total = n_warm + n_open + DRAIN_EVENTS * (max_drains + 1)
    events = _events_factory(n_total, rng)
    due = np.full(n_total, np.nan)
    delivery = Delivery(n_total, drop_first=args.plant == "drop_event")
    tracer = Tracer(f"{args.workload}-{args.seed}")
    pub = WindowedPublisher(
        window_max_batch_size=CHUNK,
        window_duration_seconds=WINDOW_S,
        consumer_max_rows=200_000,
    )

    in_dir = os.path.join(work, "in")
    src = FileStreamInput(spark, SCHEMA, in_dir)
    query = pub.subscribe(
        src.stream(), consumer=delivery.consume,
        checkpoint_dir=os.path.join(work, "ckpt"),
    )
    src.attach(query)
    wall_off = time.time() - time.perf_counter()

    def phase(lo: int, hi: int, poll: bool) -> tuple[Generator, list[int]]:
        gen = Generator(src, events, due, lo, hi, time.perf_counter() + 0.05, rng)
        backlog: list[int] = []
        gen.start()
        while gen.is_alive():
            if poll:
                backlog.append(src.queue_size())
            gen.join(0.25)
        if gen.error is not None:
            raise gen.error
        return gen, backlog

    with tracer.span("stream", layer="benchmark") as root:
        phase(0, n_warm, poll=False)
        _wait_delivered(delivery, 0, n_warm, 10.0)
        # Open loop. Traced runs measure the first half untraced and the
        # second half traced; the difference is the tracing overhead.
        halves = [(n_warm, n_warm + n_open)]
        if args.trace:
            mid = n_warm + n_open // 2
            halves = [(n_warm, mid), (mid, n_warm + n_open)]
        gens = []
        t_open = time.perf_counter()
        for j, (lo, hi) in enumerate(halves):
            traced = bool(args.trace) and j == 1
            t_ph, busy0 = time.perf_counter(), delivery.busy_s
            gen, backlog = phase(lo, hi, poll=traced)
            gens.append((gen, backlog, lo, hi, t_ph))
        _wait_delivered(delivery, n_warm, n_warm + n_open, 15.0)
        busy = delivery.busy_s - busy0  # consumer time of the last half
        t_open_end = time.perf_counter()
        files = sum(1 for f in os.listdir(in_dir) if f.endswith(".parquet"))
        in_bytes = sum(
            os.path.getsize(os.path.join(in_dir, f))
            for f in os.listdir(in_dir) if f.endswith(".parquet")
        )
        progress = list(query.recentProgress)
        query.stop()
        tracer.add("open_loop", t_open, t_open_end, root["id"], layer="benchmark")

        # Catch-up passes: drain a fixed backlog, untimed warm-up first.
        drains, drain_counts = [], []
        next_id = n_warm + n_open
        deadline = t_open + args.seconds
        i = 0
        while i <= max_drains:
            lo, hi = next_id, next_id + DRAIN_EVENTS
            next_id = hi
            d_src = FileStreamInput(spark, SCHEMA, os.path.join(work, f"drain{i}"))
            for a in range(lo, hi, 200):
                d_src.publish(events(a, min(a + 200, hi)))
            t0 = time.perf_counter()
            q = pub.subscribe(
                d_src.stream(), consumer=delivery.consume, drain=True,
                checkpoint_dir=os.path.join(work, f"drain{i}.ckpt"),
            )
            q.awaitTermination(60)
            t1 = time.perf_counter()
            if i > 0:
                drains.append(t1 - t0)
                tracer.add("drain", t0, t1, root["id"], layer="publisher")
                # The query's micro-batches run in its own job group.
                wait_listeners(spark)
                c = group_counters(spark, q.runId)
                drain_counts.append((c["jobs"], c["tasks"]))
            i += 1
            if len(drains) >= 3 and time.perf_counter() >= deadline:
                break
        n_used = next_id

    published = n_used
    lost = int(n_used - delivery.seen[:n_used].sum())
    failed = lost + delivery.dups + delivery.oversize + delivery.empty
    lat = {}
    for gen, _, lo, hi, _ in gens:
        lat[lo] = 1e3 * (delivery.recv[lo:hi] - due[lo:hi])
        lat[lo] = lat[lo][~np.isnan(lat[lo])]
    first = lat[gens[0][2]]
    result = {
        "attempted": published,
        "failed": failed,
        "errors": [
            f"lost={lost} dups={delivery.dups} oversize_rows={delivery.oversize}"
            f" empty_chunks={delivery.empty}"
        ] if failed else [],
        # Wall times, for reading beside the counts: p50/p99 delivery
        # latency of the open-loop events and the fastest catch-up pass.
        "p50_ms": _pct(first, 50),
        "p99_ms": _pct(first, 99),
        "pass_s": min(drains),
        "drain_walls": drains,
        "drain_counts": drain_counts,
        "metrics": {
            "jobs": statistics.median(j for j, _ in drain_counts),
            "tasks": statistics.median(t for _, t in drain_counts),
        },
    }
    if args.trace:
        gen, backlog, lo, hi, t_ph = gens[1]
        second = lat[lo]
        pubs = [(b - a) * 1e3 for a, b, _ in gen.publishes]
        late = [max(0.0, x) * 1e3 for _, _, x in gen.publishes]
        for a, b, _ in gen.publishes:
            tracer.add("publish", a, b, root["id"], layer="publisher")
        batches = []
        for p in progress:
            rows = int(_field(p, "numInputRows") or 0)
            start = datetime.fromisoformat(
                str(_field(p, "timestamp")).replace("Z", "+00:00")
            ).timestamp() - wall_off
            if rows == 0 or start < t_ph:
                continue
            dur = _field(p, "durationMs") or {}
            batches.append((start, rows, dur))
            tracer.add("micro_batch", start,
                       start + dur.get("triggerExecution", 0) / 1e3,
                       root["id"], layer="publisher", rows=rows)
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        t0 = time.perf_counter()
        spark.read.schema(SCHEMA).parquet(in_dir).write.format("noop").mode(
            "overwrite").save()
        scan_s = time.perf_counter() - t0
        layers = {
            "publisher.deliver_p50_ms": _pct(first, 50),
            "publisher.deliver_p99_ms": _pct(first, 99),
            "publisher.drain_s": min(drains),
            "sources.list_ms": med([d.get("latestOffset", 0) + d.get("getBatch", 0)
                                    for _, _, d in batches]),
            "sources.files": files,
            "sources.scan_s": scan_s,
            "sources.input_bytes": in_bytes,
            "publisher.publish_p50_ms": _pct(pubs, 50),
            "publisher.publish_p99_ms": _pct(pubs, 99),
            "publisher.gen_late_ms": _pct(late, 99),
            "publisher.trigger_ms": med([d.get("triggerExecution", 0)
                                         for _, _, d in batches]),
            "publisher.add_batch_ms": med([d.get("addBatch", 0) for _, _, d in batches]),
            "publisher.consumer_ms": 1e3 * busy / max(1, len(batches)),
            "publisher.rows_per_batch": med([r for _, r, _ in batches]),
            "publisher.backlog_rows": max(backlog) if backlog else 0,
            "publisher.batches": len(batches),
        }
        p50_a = _pct(first, 50)
        layers["trace.overhead_pct"] = (
            100.0 * (_pct(second, 50) - p50_a) / p50_a if p50_a else 0.0
        )
        result["layers"] = layers
        tracer.write(
            os.path.join(args.work, f"trace-{args.workload}-{args.seed}.json"),
            {"progress_batches": len(batches)},
        )
    shutil.rmtree(work, ignore_errors=True)
    return result
