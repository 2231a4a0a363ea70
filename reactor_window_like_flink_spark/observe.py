"""Spark's counters for one job group, one call or one frame: the one
place the engine's jobs, stages, tasks, bytes and plan nodes are read.

Counters come from Spark's own status stores (``statusTracker`` job
groups and the stage store), which work with ``spark.ui.enabled=false``;
plan shape comes from ``plans.node_counts``. Job counts are this repo's
unit of performance: at small scale every shuffle stage and broadcast
build is its own job, and per-job overhead is the floor of a small batch
(D-Streams, SOSP 2013).

No engine module imports this one: it observes the engine. The benchmark
(``perfbench/spans.py``) keeps its own copy, since it must stay
independent of the code it measures.
"""

from __future__ import annotations

import re
import time
import uuid
from collections.abc import Callable
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

from reactor_window_like_flink_spark.llm import index_events
from reactor_window_like_flink_spark.plans.audit import node_counts

_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")


def group_counters(spark: SparkSession, group: str) -> dict:
    """Jobs, stages, tasks, shuffle/spill/input bytes and executor CPU and
    run seconds of one job group. Skipped stages (shuffle output reused
    from an earlier job) do not count. Waits for the listener bus first,
    so the status store holds the stages of jobs that just returned."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()  # noqa: SLF001
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
            except Py4JJavaError:  # stage never submitted
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


@contextmanager
def counting(spark: SparkSession):
    """Count what the body starts: runs it under a fresh job group, then
    clears the group and, if the body returned, fills the yielded dict
    with ``group_counters``. The dict is empty inside the body."""
    sc = spark.sparkContext
    group = f"observe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    out: dict = {}
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    out.update(group_counters(spark, group))


def run(spark: SparkSession, build: Callable[[], DataFrame]) -> dict:
    """The record of one frame: ``build()`` it, write it to the noop sink.

    - ``build_*``: the counters of the jobs started while the frame is
      built (schema inference, eager materialization, driver gates);
    - the unprefixed counters: those of the write;
    - ``shuffles``, ``broadcasts``, ``python_nodes`` and ``nodes`` (every
      operator's count) from ``node_counts``;
    - ``index_builds``: the ``index_events`` recorded meanwhile;
    - ``build_s``, ``exec_s``: wall seconds of each half; ``read_s``:
      what reading the counters and the plan cost on top.
    """
    mark = len(index_events.EVENTS)
    t0 = time.perf_counter()
    with counting(spark) as built:
        df = build()
        t1 = time.perf_counter()
    t2 = time.perf_counter()
    with counting(spark) as ran:
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
    nodes = node_counts(df)
    t4 = time.perf_counter()
    return {
        **{f"build_{k}": v for k, v in built.items()},
        **ran,
        "shuffles": nodes["Exchange"],
        "broadcasts": nodes["BroadcastExchange"],
        "python_nodes": sum(
            n for name, n in nodes.items() if _PYTHON_NODE.search(name)
        ),
        "nodes": dict(nodes),
        "index_builds": index_events.since(mark),
        "build_s": t1 - t0,
        "exec_s": t3 - t2,
        "read_s": (t2 - t1) + (t4 - t3),
    }
