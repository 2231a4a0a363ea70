"""Tracing for the benchmark: spans kept in memory, Spark counters read
around each call into a layer, and per-layer self time.

Everything here observes the engine from outside. Counters come from
Spark's own status stores (``statusTracker`` job groups and the stage
store), which work with ``spark.ui.enabled=false``; plan shape comes from
the executed plan string.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

# Executed-plan operators that run Python code (UDFs, pandas/arrow maps,
# UDTFs). Matched as whole operator names at the start of a plan line.
_PY_NODE = re.compile(
    r"^[\s+\-:*]*(\w*(?:Python|Pandas|InArrow)\w*)\b", re.MULTILINE
)
_EXCHANGE = re.compile(r"^[\s+\-:*]*(?:Exchange|BroadcastExchange)\b", re.MULTILINE)


class Tracer:
    """Spans with name, start, end, parent and run id; written at exit."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent,
            "run": self.run_id,
            "start": time.perf_counter() - self._t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        """Record a span measured elsewhere (perf_counter seconds)."""
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent,
            "run": self.run_id,
            "start": start - self._t0,
            "end": end - self._t0,
            **attrs,
        }
        self.spans.append(rec)
        return rec["id"]

    def self_times(self) -> dict[str, float]:
        """Seconds per ``layer`` attribute: each span's duration minus the
        part of it its children cover."""
        child_cover: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_cover[s["parent"]] = child_cover.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            layer = s.get("layer", s["name"])
            own = (s["end"] - s["start"]) - child_cover.get(s["id"], 0.0)
            out[layer] = out.get(layer, 0.0) + max(0.0, own)
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {"run": self.run_id, "self_s": self.self_times(), **extra,
                 "spans": self.spans},
                f,
            )


def wait_listeners(spark) -> None:
    """Block until Spark's listener bus has applied every event, so the
    status store holds the stages of the jobs that just returned."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:  # noqa: BLE001 — older API shapes: settle briefly
        time.sleep(0.05)


def group_counters(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks, bytes and executor time of one job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict(jobs=0, stages=0, tasks=0, shuffle_bytes=0, spill_bytes=0,
               input_bytes=0, cpu_s=0.0, run_s=0.0)
    seen: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — stage never submitted
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["input_bytes"] += st.inputBytes()
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["run_s"] += st.executorRunTime() / 1e3
    return out


def plan_counters(df) -> dict[str, int]:
    """Exchange and Python-operator counts of a frame's physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "exchanges": len(_EXCHANGE.findall(plan)),
        "python_nodes": len(_PY_NODE.findall(plan)),
    }
