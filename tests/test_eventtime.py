"""The shared event-time finalize rule (``streaming/eventtime.py``) at its
exact edges, in pure Python with a fake group state (no Spark)."""

from __future__ import annotations

import pandas as pd

from reactor_window_like_flink_spark.streaming.eventtime import (
    NEG,
    arrive,
    finalize,
    wake,
)


class _State:
    """The two ``GroupState`` calls the rule makes."""

    def __init__(self, wm_ms: int):
        self.wm_ms = wm_ms
        self.timeout = None

    def getCurrentWatermarkMs(self) -> int:
        return self.wm_ms

    def setTimeoutTimestamp(self, ts: int) -> None:
        self.timeout = ts


def _pdf(rows):
    """(us, id, type) rows as the operators' input frame."""
    us, ids, types = zip(*rows)
    return pd.DataFrame(
        {
            "ts": pd.to_datetime(list(us), unit="us"),
            "event_id": list(ids),
            "event_type": list(types),
        }
    )


def test_arrive_keeps_the_frontier_and_drops_behind_it():
    buf = ([], [], [])
    arrive(
        [_pdf([(5_000, 1, "a"), (4_999, 2, "a"), (6_000, 3, "x")]),
         _pdf([(7_000, 4, "b")]).iloc[:0]],
        5_000, buf, {"a": 0, "b": 1},
    )
    # == frontier kept, < frontier dropped, unknown type -> kind -1, an
    # empty frame adds nothing
    assert buf == ([5_000, 6_000], [1, 3], [0, -1])


def test_finalize_releases_below_the_watermark_in_us_id_order():
    buf = ([7_000, 5_000, 5_000, 3_000, 5_000], [1, 9, 2, 8, 5], [0, 1, 2, 3, 4])
    wm_us, frontier, ready, rest = finalize(_State(7), NEG, buf)
    assert (wm_us, frontier) == (7_000, 7_000)
    # ties in us come out in id order; the row at us == wm_us waits
    assert ready == ([3_000, 5_000, 5_000, 5_000], [8, 2, 5, 9], [3, 2, 4, 1])
    assert rest == ([7_000], [1], [0])
    # the frontier never moves back
    assert finalize(_State(7), 9_000, ([], []))[1] == 9_000


def test_finalize_before_the_first_watermark_is_a_no_op():
    buf = ([1_000, -5], [1, 2])
    wm_us, frontier, ready, rest = finalize(_State(0), 42, buf)
    assert (wm_us, frontier, ready, rest) == (0, 42, ([], []), buf)


def test_wake_is_the_first_watermark_past_the_earliest_anchor():
    for wm_ms, anchors, want in [
        (5, (7_000,), 7),  # fires at wm 8 ms: the first wm_us > 7,000
        (5, (9_999, 7_500), 7),  # earliest anchor wins
        (5, (100,), 6),  # anchor already passed: just past the watermark
        (5, (5_999,), 6),  # never at or below the current watermark's ms
        (0, (NEG,), 1),
    ]:
        state = _State(wm_ms)
        wake(state, wm_ms * 1000, *anchors)
        assert state.timeout == want, (wm_ms, anchors)
        assert state.timeout > wm_ms
    state = _State(5)
    wake(state, 5_000)  # no anchor: no timeout
    assert state.timeout is None
