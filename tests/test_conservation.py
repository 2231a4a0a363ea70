"""Conservation tests — the reference's own correctness invariant
(``WindowPublisherTest.java:46``: every published element appears in
exactly one emitted window) translated to each windowing operator
(SURVEY.md §5.2 item 2)."""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from reactor_window_like_flink_spark.sources.tables import load


def _events_count(spark, sf_dir):
    return load(spark, sf_dir, "events").count()


def test_tumbling_no_loss(spark, sf_dir):
    """Every event lands in exactly one tumbling window."""
    total = _events_count(spark, sf_dir)
    agg = entry_mod.queries()["q_tumbling_window"](spark, sf_dir)
    assert agg.agg(F.sum("n_events")).first()[0] == total


def test_sliding_each_event_in_size_over_slide_windows(spark, sf_dir):
    """10-min windows sliding 5 min: every event in exactly 2 windows."""
    total = _events_count(spark, sf_dir)
    agg = entry_mod.queries()["q_sliding_window"](spark, sf_dir)
    assert agg.agg(F.sum("n_events")).first()[0] == 2 * total


def test_session_no_loss(spark, sf_dir):
    total = _events_count(spark, sf_dir)
    agg = entry_mod.queries()["q_session_window"](spark, sf_dir)
    assert agg.agg(F.sum("n_events")).first()[0] == total


def test_session_windows_disjoint_per_user(spark, sf_dir):
    """Sessions of one user never overlap: next start >= previous end - gap
    (end includes the +gap closure, so strict ordering is on starts)."""
    agg = entry_mod.queries()["q_session_window"](spark, sf_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("session_start")
    overlap = (
        agg.withColumn("prev_end", F.lag("session_end").over(w))
        .filter(F.col("prev_end").isNotNull())
        # a new session only opens >= gap after the last event, and
        # prev_end = last_event + gap, so starts never precede prev_end - 0
        .filter(F.col("session_start") < F.col("prev_end") - 300)
    )
    assert overlap.count() == 0


def test_count_or_time_batches_invariants(spark, sf_dir):
    """The reference's exact A5 contract: no loss, max-size bound, no empty
    batches (``WindowPublisher.java:70-72``)."""
    total = _events_count(spark, sf_dir)
    batches = entry_mod.queries()["q_count_or_time_batches"](spark, sf_dir)
    stats = batches.agg(
        F.sum("n_events").alias("delivered"),
        F.max("n_events").alias("max_batch"),
        F.min("n_events").alias("min_batch"),
    ).first()
    assert stats["delivered"] == total  # assertEquals(itemCount, delivered)
    assert stats["max_batch"] <= 20  # flush at maxSize
    assert stats["min_batch"] >= 1  # filter(!it.isEmpty())


def test_count_or_time_batches_exact_boundaries(spark, sf_dir):
    """r16 (verdict task 6): boundary EXACTNESS, not just invariants.
    An independent sequential replay — pandas straight off the parquet,
    no shared Spark code path — recomputes every user's batch boundaries
    (count path: close at max_size; time path: close when an arrival
    lands >= duration after the batch opened) and the full output frame
    must match cell-for-cell: membership, batch_start, per-batch sums,
    and sequence numbering, for every user. Two configs so BOTH boundary
    kinds fire on the fixture: the contract config (20, 1 day — all
    time-path at this event density) and a small-count config (3, 1 day)
    where the count path dominates."""
    import pandas as pd

    from reactor_window_like_flink_spark.sources.tables import load
    from reactor_window_like_flink_spark.streaming.windows import (
        count_or_time_replay,
    )

    pdf = pd.read_parquet(f"{sf_dir}/events.parquet")[
        ["user_id", "event_id", "ts", "value"]
    ]
    pdf["epoch"] = pdf["ts"].astype("datetime64[ns]").astype("int64") / 1e9

    def replay(max_size, duration_s):
        expected = []
        for uid, g in pdf.groupby("user_id"):
            g = g.sort_values(["ts", "event_id"])
            seq = n = 0
            open_ts = None
            total = 0.0
            for ts_s, value in zip(g["epoch"], g["value"]):
                if open_ts is not None and (
                    n >= max_size or ts_s >= open_ts + duration_s
                ):
                    expected.append((uid, seq, n, int(open_ts), round(total, 2)))
                    seq += 1
                    n, open_ts, total = 0, None, 0.0
                if open_ts is None:
                    open_ts = ts_s
                n += 1
                total += value
            if n:
                expected.append((uid, seq, n, int(open_ts), round(total, 2)))
        return pd.DataFrame(
            expected,
            columns=["user_id", "batch_seq", "n_events", "batch_start", "sum_value"],
        ).sort_values(["user_id", "batch_seq"]).reset_index(drop=True)

    events = load(spark, sf_dir, "events")
    for max_size, duration_s in ((20, 86400.0), (3, 86400.0)):
        exp = replay(max_size, duration_s)
        got = (
            count_or_time_replay(events, max_size, duration_s)
            .toPandas()
            .sort_values(["user_id", "batch_seq"])
            .reset_index(drop=True)
            .astype(exp.dtypes.to_dict())
        )
        pd.testing.assert_frame_equal(got, exp)
        if max_size == 3:
            assert (exp["n_events"] == max_size).any(), "no count-path boundary"
        assert (exp["n_events"] < max_size).any(), "no time-path boundary"
    # the contract key is exactly the (20, 1 day) config
    contract = (
        entry_mod.queries()["q_count_or_time_batches"](spark, sf_dir)
        .toPandas()
        .sort_values(["user_id", "batch_seq"])
        .reset_index(drop=True)
    )
    exp20 = replay(20, 86400.0)
    pd.testing.assert_frame_equal(contract.astype(exp20.dtypes.to_dict()), exp20)


def test_count_or_time_fold_exact_edges():
    """The one flush rule at its edges, in pure Python: a size close
    fires at n == max_size and a timeout close at t == opened + duration
    (both ``>=``); a timeout closes the open batch before the arrival
    that triggered it; no input closes nothing; the state carries an
    open batch across calls."""
    from reactor_window_like_flink_spark.streaming.windows import (
        _count_or_time_fold as fold,
    )

    empty = (0, 0, 0.0, 0)
    assert fold(empty, [], [], 3, 10) == ([], empty)
    assert fold((4, 2, 3.5, 7), [], [], 3, 10) == ([], (4, 2, 3.5, 7))

    # size: nothing closes at n == max_size - 1, the batch closes at n == max_size
    assert fold(empty, [0, 1], [1.0, 2.0], 3, 10) == ([], (0, 2, 3.0, 0))
    assert fold(empty, [0, 1, 2], [1.0, 2.0, 4.0], 3, 10) == (
        [(0, 3, 0, 7.0, "size")],
        (1, 0, 0.0, 0),
    )

    # timeout: open at 100 ms, duration 50 ms; 149 stays, 150 closes first
    closed, state = fold(empty, [100, 149], [1.0, 2.0], 5, 50)
    assert (closed, state) == ([], (0, 2, 3.0, 100))
    closed, state = fold(state, [150], [4.0], 5, 50)
    assert closed == [(0, 2, 100, 3.0, "timeout")]  # 4.0 is not in it
    assert state == (1, 1, 4.0, 150)

    # one arrival can close on time, then open a batch that fills at once
    assert fold((0, 1, 1.0, 0.0), [2.5], [2.0], 1, 2.5) == (
        [(0, 1, 0.0, 1.0, "timeout"), (1, 1, 2.5, 2.0, "size")],
        (2, 0, 0.0, 0),
    )

    # split input folds to the same batches as one call
    ts = [0.0, 0.5, 1.0, 3.0, 3.1, 5.0, 9.0]
    vs = [0.125, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0]
    whole = fold(empty, ts, vs, 3, 2.0)
    first, mid = fold(empty, ts[:4], vs[:4], 3, 2.0)
    rest, end = fold(mid, ts[4:], vs[4:], 3, 2.0)
    assert (first + rest, end) == whole
    assert [b[4] for b in whole[0]] == ["size", "timeout", "timeout"]
    assert whole[1] == (3, 1, 6.0, 9.0)
