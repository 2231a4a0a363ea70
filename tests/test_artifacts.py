"""The per-session artifact memo (``llm/artifacts.py``): LRU order, hit
recency, release on eviction, one ``index_events`` event per build, and
the stopped-context guard of the shared ``unpersist``."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path
from types import SimpleNamespace

import pytest

from reactor_window_like_flink_spark.llm import artifacts, index_events

REPO = Path(__file__).resolve().parent.parent


def _session(app: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


@pytest.fixture
def memo(monkeypatch):
    """An empty ``"t"`` memo, restored after the test."""
    fresh: dict = {}
    monkeypatch.setitem(artifacts.MEMOS, "t", fresh)
    return fresh


def test_lru_hit_refresh_release_and_events(memo):
    spark = _session("app-1")
    built, released = [], []

    def get(name):
        def build():
            built.append(name)
            return f"value-{name}"

        return artifacts.artifact("t", spark, name, build, released.append)

    mark = len(index_events.EVENTS)
    for name in ("a", "b", "c", "d"):
        assert get(name) == f"value-{name}"
    assert [e["name"] for e in index_events.since(mark)] == ["a", "b", "c", "d"]
    assert {e["kind"] for e in index_events.since(mark)} == {"t"}

    # a hit returns the memoized value, refreshes recency, builds and
    # records nothing
    mark = len(index_events.EVENTS)
    assert get("a") == "value-a"
    assert built == ["a", "b", "c", "d"]
    assert index_events.since(mark) == []
    assert [k[1] for k in memo] == ["b", "c", "d", "a"]

    # capacity evicts the least recently used entry ("b", not "a"), and
    # releases each evicted entry exactly once
    get("e")
    get("f")
    assert len(memo) == artifacts.MAX_ENTRIES
    assert [k[1] for k in memo] == ["d", "a", "e", "f"]
    assert released == ["value-b", "value-c"]
    assert len(index_events.since(mark)) == 2


def test_release_skips_value_a_live_entry_still_holds(memo):
    """An ended application's entry and the live one for the same dataset
    can hold one value (the same warehouse tables); evicting the ended
    entry must not free what the live entry still serves."""
    released = []
    memo[("ended-app", "d")] = "tables-d"
    live = _session("live-app")
    for name in ("d", "e", "f", "g"):
        artifacts.artifact(
            "t", live, name, lambda name=name: f"tables-{name}", released.append
        )
    assert ("ended-app", "d") not in memo
    assert released == []
    artifacts.artifact("t", live, "h", lambda: "tables-h", released.append)
    assert released == ["tables-d"]


def test_unpersist_skips_frames_of_a_stopped_context():
    calls = []

    def frame(jsc):
        ctx = SimpleNamespace(_jsc=jsc)
        df = SimpleNamespace(sparkSession=SimpleNamespace(sparkContext=ctx))
        df.unpersist = lambda: calls.append(jsc)
        return df

    artifacts.unpersist(frame("live"), frame(None), frame("live-2"))
    assert calls == ["live", "live-2"]


def test_bm25_eviction_after_context_restart_does_not_raise(tmp_path):
    """A context restart leaves the ended application's bm25 entry in the
    memo; the fourth new dataset evicts it and must not unpersist frames
    on the stopped context (Py4J raises there). Runs in a subprocess:
    the suite's session is shared and must not be stopped."""
    script = textwrap.dedent(
        """
        from reactor_window_like_flink_spark.llm import retrieval
        from reactor_window_like_flink_spark.llm.artifacts import MEMOS
        from reactor_window_like_flink_spark.session import get_spark

        retrieval.load = lambda s, d, t: s.createDataFrame(
            [(1, "a b a")], "doc_id LONG, text STRING"
        )
        spark = get_spark(shuffle_partitions=2)
        old_app = spark.sparkContext.applicationId
        retrieval.bm25_index(spark, "old")
        spark.stop()
        spark = get_spark(shuffle_partitions=2)
        for i in range(4):
            retrieval.bm25_index(spark, f"new-{i}")
        assert (old_app, "old") not in MEMOS["bm25"]
        print("evicted-ok")
        """
    )
    env = {
        **os.environ,
        "PYTHONPATH": str(REPO),
        "SPARK_GRAFT_CPUS": "2",
    }
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "evicted-ok" in out.stdout
