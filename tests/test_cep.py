"""Streaming CEP (pattern_sequence_stateful): the watermarked stateful
matcher equals the batch q_pattern_sequence key on replayed events, is
exact under out-of-order micro-batches, and drops past-watermark rows."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import __spark_entry__ as entry_mod
from reactor_window_like_flink_spark.streaming.cep import (
    pattern_sequence_stateful,
)
from reactor_window_like_flink_spark.streaming.publisher import FileStreamInput

SCHEMA = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"


def _ts(minute: int, second: int = 0):
    return datetime(2024, 1, 1, 10, minute, second, tzinfo=timezone.utc)


def _chains(spark, table):
    return {
        (r["user_id"], r["view_id"], r["click_id"], r["purchase_id"],
         r["span_us"])
        for r in spark.sql(f"SELECT * FROM {table}").collect()
    }


def test_cep_stream_matches_batch_on_replayed_events(spark, sf_dir, tmp_path):
    """The full sf0.001 events fixture, replayed in three event_id-hashed
    micro-batches (arbitrary time disorder across batches), produces
    EXACTLY the batch key's chain set once a sentinel advances the
    watermark past every real event."""
    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "events"))
    from reactor_window_like_flink_spark.sources.tables import load

    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    rows = ev.collect()
    max_ts = max(r["ts"] for r in rows)
    delay_days = 3650
    out = pattern_sequence_stateful(
        src.stream(), watermark_delay=f"{delay_days} days"
    )
    query = (
        out.writeStream.format("memory")
        .queryName("t_cep_replay")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        for part in range(3):  # time-shuffled slices, one micro-batch each
            chunk = [
                tuple(r) for r in rows if r["event_id"] % 3 == part
            ]
            src.publish(chunk)
            query.processAllAvailable()
        # sentinel: one far-future view pushes the watermark a day past
        # the last real event; the no-data batch flushes every buffer
        sentinel_ts = max_ts + timedelta(days=delay_days + 1)
        src.publish([(10**9, sentinel_ts, 10**9, "view", 0.0)])
        query.processAllAvailable()
        got = _chains(spark, "t_cep_replay")
    finally:
        query.stop()
    want = {
        (r["user_id"], r["view_id"], r["click_id"], r["purchase_id"],
         r["span_us"])
        for r in entry_mod.queries()["q_pattern_sequence"](
            spark, sf_dir
        ).collect()
    }
    assert len(want) > 0  # the fixture really exercises the pattern
    assert got == want


def test_cep_out_of_order_binding_and_late_drop(spark, tmp_path):
    """Greedy last-match binding holds when the chain arrives
    purchase-first across micro-batches; a second view upgrades the
    binding for a later click; chains missing a stage emit nothing; and
    a past-watermark purchase is dropped rather than matched."""
    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "events"))
    out = pattern_sequence_stateful(src.stream(), watermark_delay="30 minutes")
    query = (
        out.writeStream.format("memory")
        .queryName("t_cep_ooo")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # batch 1: the END of every story arrives first
        src.publish(
            [
                (13, _ts(10), 1, "purchase", 0.0),
                (23, _ts(4), 2, "purchase", 0.0),
                (32, _ts(1), 3, "purchase", 0.0),  # click, no view
                (42, _ts(1), 4, "purchase", 0.0),  # view, no click
            ]
        )
        query.processAllAvailable()
        # batch 2: the beginnings (all within the 30 min delay)
        src.publish(
            [
                (11, _ts(0), 1, "view", 0.0),
                (12, _ts(5), 1, "click", 0.0),
                (20, _ts(0), 2, "view", 0.0),
                (21, _ts(2), 2, "view", 0.0),  # greedy: this one binds
                (22, _ts(3), 2, "click", 0.0),
                (31, _ts(0), 3, "click", 0.0),
                (41, _ts(0), 4, "view", 0.0),
            ]
        )
        query.processAllAvailable()
        # sentinel an hour out: watermark lands at 10:40, past every
        # real event, flushing all chains
        src.publish([(99, _ts(0) + timedelta(hours=1, minutes=10), 99, "view", 0.0)])
        query.processAllAvailable()
        got = _chains(spark, "t_cep_ooo")
        assert got == {
            (1, 11, 12, 13, 600_000_000),  # 10 min span
            (2, 21, 22, 23, 120_000_000),  # second view won the binding
        }
        # late purchase: u1's frontier sits at 10:40; an in-span purchase
        # at 10:12 would bind click 12 if admitted — it must NOT be
        src.publish([(14, _ts(12), 1, "purchase", 0.0)])
        query.processAllAvailable()
        assert _chains(spark, "t_cep_ooo") == got
    finally:
        query.stop()


def test_followed_by_chain_stateful_four_stages(spark, tmp_path):
    """The generic streaming engine builds its state schema from the
    pattern arity: a 4-stage chain (a->b->c->d) matches across shuffled
    micro-batches, and a fresh partial prefix blocks an older complete
    binding (greedy followedBy)."""
    from reactor_window_like_flink_spark.streaming.cep import (
        followed_by_chain_stateful,
    )

    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "events"))
    out = followed_by_chain_stateful(
        src.stream(),
        ["a", "b", "c", "d"],
        watermark_delay="30 minutes",
        span_us=3600 * 1_000_000,
    )
    query = (
        out.writeStream.format("memory")
        .queryName("t_cep4")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # u1 and u2: full a->b->c->d chains, ends arriving a micro-batch
        # BEFORE their beginnings; u3 never gets a 'c', so its 'd' emits
        # nothing. All within the 30 min delay, so nothing is late.
        src.publish(
            [
                (14, _ts(9), 1, "d", 0.0),
                (23, _ts(6), 2, "c", 0.0),
                (33, _ts(5), 3, "b", 0.0),
            ]
        )
        query.processAllAvailable()
        src.publish(
            [
                (11, _ts(0), 1, "a", 0.0),
                (12, _ts(2), 1, "b", 0.0),
                (13, _ts(4), 1, "c", 0.0),
                (21, _ts(0), 2, "a", 0.0),
                (22, _ts(3), 2, "b", 0.0),
                (24, _ts(8), 2, "d", 0.0),
                (31, _ts(0), 3, "a", 0.0),
                (34, _ts(7), 3, "d", 0.0),
            ]
        )
        query.processAllAvailable()
        src.publish(
            [(99, _ts(0) + timedelta(hours=2), 99, "a", 0.0)]
        )
        query.processAllAvailable()
        got = {
            (r["user_id"], r["stage0_id"], r["stage1_id"], r["stage2_id"],
             r["stage3_id"], r["span_us"])
            for r in spark.sql("SELECT * FROM t_cep4").collect()
        }
    finally:
        query.stop()
    assert got == {
        (1, 11, 12, 13, 14, 540_000_000),
        (2, 21, 22, 23, 24, 480_000_000),
    }


def test_followed_by_chain_stateful_strict_matches_batch(spark, tmp_path):
    """Strict (next) contiguity in the streaming engine: the 400-row
    pseudo-random fixture (noise included — noise rows must be buffered,
    they carry chain breaks) replayed through the stream equals the batch
    strict matcher exactly."""
    from test_analytics import _chain_events, _chain_model

    from reactor_window_like_flink_spark.operators.analytics import (
        followed_by_chain,
    )
    from reactor_window_like_flink_spark.streaming.cep import (
        followed_by_chain_stateful,
    )

    stages, rows = _chain_events()
    span_us = 3600 * 1_000_000
    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "events"))
    out = followed_by_chain_stateful(
        src.stream(),
        stages,
        watermark_delay="9 hours",
        span_us=span_us,
        contiguity="strict",
    )
    query = (
        out.writeStream.format("memory")
        .queryName("t_cep_strict")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # three id-hashed slices (time disorder across batches, inside
        # the 9 h delay), then a far-future sentinel flushes everything
        for part in range(3):
            src.publish([r for r in rows if r[0] % 3 == part])
            query.processAllAvailable()
        src.publish(
            [(10**6, datetime(2024, 1, 2, 12, 0), 99, "a", 0.0)]
        )
        query.processAllAvailable()
        got = {
            (r["user_id"], r["stage0_id"], r["stage1_id"], r["stage2_id"],
             r["stage3_id"], r["span_us"])
            for r in spark.sql("SELECT * FROM t_cep_strict").collect()
        }
    finally:
        query.stop()
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE",
    )
    want_batch = {
        (r["user_id"], r["stage0_id"], r["stage1_id"], r["stage2_id"],
         r["stage3_id"], r["span_us"])
        for r in followed_by_chain(
            df, stages, span_us, contiguity="strict"
        ).collect()
    }
    assert got == want_batch
    assert want_batch == _chain_model(rows, stages, span_us, strict=True)
    assert len(want_batch) > 0


def test_absence_stream_matches_batch_on_replayed_events(spark, sf_dir, tmp_path):
    """notFollowedBy replay equivalence: the fixture replayed in three
    time-shuffled micro-batches, with a sentinel placing the final
    watermark EXACTLY at the fixture's max event time, emits exactly the
    batch q_pattern_absence key's observable-absence set (whose cutoff
    is that same max)."""
    from datetime import timedelta

    from reactor_window_like_flink_spark.sources.tables import load
    from reactor_window_like_flink_spark.streaming.cep import (
        not_followed_by_stateful,
    )

    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "events"))
    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    rows = ev.collect()
    max_ts = max(r["ts"] for r in rows)
    delay_days = 3650
    out = not_followed_by_stateful(
        src.stream(), watermark_delay=f"{delay_days} days"
    )
    query = (
        out.writeStream.format("memory")
        .queryName("t_absence_replay")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        for part in range(3):
            src.publish(
                [tuple(r) for r in rows if r["event_id"] % 3 == part]
            )
            query.processAllAvailable()
        # sentinel at max_ts + delay -> final watermark lands EXACTLY on
        # max_ts, matching the batch key's observability cutoff
        src.publish(
            [(10**9, max_ts + timedelta(days=delay_days), 10**9, "view", 0.0)]
        )
        query.processAllAvailable()
        got = {
            (r["user_id"], r["view_id"], r["view_us"])
            for r in spark.sql("SELECT * FROM t_absence_replay").collect()
        }
    finally:
        query.stop()
    want = {
        (r["user_id"], r["view_id"], r["view_us"])
        for r in entry_mod.queries()["q_pattern_absence"](
            spark, sf_dir
        ).collect()
    }
    assert len(want) > 0
    assert got == want


def test_absence_late_purchase_still_cancels(spark, tmp_path):
    """A purchase arriving a micro-batch late (but inside the watermark
    delay) must still cancel its view; a view whose window expires with
    no purchase fires exactly once."""
    from datetime import timedelta

    from reactor_window_like_flink_spark.streaming.cep import (
        not_followed_by_stateful,
    )

    span_us = 10 * 60 * 1_000_000  # 10-minute absence window
    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))
    out = not_followed_by_stateful(
        src.stream(), watermark_delay="30 minutes", span_us=span_us
    )
    query = (
        out.writeStream.format("memory")
        .queryName("t_absence_late")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # batch 1: two views; batch 2 (later arrival, earlier time):
        # a purchase that follows view 1 inside its window
        src.publish(
            [
                (1, _ts(0), 1, "view", 0.0),
                (2, _ts(1), 2, "view", 0.0),
            ]
        )
        query.processAllAvailable()
        src.publish([(3, _ts(5), 1, "purchase", 0.0)])
        query.processAllAvailable()
        # advance the watermark far past both windows
        src.publish([(9, _ts(0) + timedelta(days=2), 99, "view", 0.0)])
        query.processAllAvailable()
        rows = spark.sql("SELECT * FROM t_absence_late").collect()
    finally:
        query.stop()
    got = {(r["user_id"], r["view_id"]) for r in rows}
    assert got == {(2, 2)}  # user 1's view was cancelled; user 2 fired
    assert len(rows) == 1  # exactly once


def test_quantified_stream_matches_batch_on_replayed_events(
    spark, sf_dir, tmp_path
):
    """followed_by_quantified_stateful over the replayed sf0.001 events
    fixture (3 event_id-hashed micro-batches) equals the batch
    followed_by_quantified minus the final stage's n — including an
    optional-present match the fixture is known to contain."""
    from reactor_window_like_flink_spark.operators.analytics import (
        QUANTIFIED_STAGES,
        followed_by_quantified,
    )
    from reactor_window_like_flink_spark.sources.tables import load
    from reactor_window_like_flink_spark.streaming.cep import (
        followed_by_quantified_stateful,
    )

    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "events"))
    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    rows = ev.collect()
    max_ts = max(r["ts"] for r in rows)
    delay_days = 3650
    out = followed_by_quantified_stateful(
        src.stream(),
        list(QUANTIFIED_STAGES),
        watermark_delay=f"{delay_days} days",
    )
    query = (
        out.writeStream.format("memory")
        .queryName("t_cepq_replay")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    cols = [
        "user_id", "stage0_id", "stage1_id", "stage2_id", "stage3_id",
        "stage0_n", "stage1_n", "stage2_n", "span_us",
    ]
    try:
        for part in range(3):
            src.publish(
                [tuple(r) for r in rows if r["event_id"] % 3 == part]
            )
            query.processAllAvailable()
        sentinel_ts = max_ts + timedelta(days=delay_days + 1)
        src.publish([(10**9, sentinel_ts, 10**9, "view", 0.0)])
        query.processAllAvailable()
        got = {
            tuple(r[c] for c in cols)
            for r in spark.sql("SELECT * FROM t_cepq_replay").collect()
        }
    finally:
        query.stop()
    want = {
        tuple(r[c] for c in cols)
        for r in followed_by_quantified(
            load(spark, sf_dir, "events"), list(QUANTIFIED_STAGES)
        ).collect()
    }
    assert len(want) >= 3  # the fixture really exercises the pattern
    assert any(t[3] is not None for t in want)  # optional-present match
    assert got == want


def test_quantified_stream_run_merging_across_batches(spark, tmp_path):
    """A run split across micro-batches must merge: clicks arriving in
    two batches still count as ONE maximal run for {2,2}; a third click
    in a later batch breaks exact times(2); and the final stage must be
    (1, None) — validation raises otherwise."""
    import pytest

    from reactor_window_like_flink_spark.streaming.cep import (
        followed_by_quantified_stateful,
    )

    stages = [("view", 1, None), ("click", 2, 2), ("purchase", 1, None)]
    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "events"))
    out = followed_by_quantified_stateful(
        src.stream(), stages, watermark_delay="10 minutes"
    )
    query = (
        out.writeStream.format("memory")
        .queryName("t_cepq_merge")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # u1: view, click | click, purchase across batches -> match
        # u2: view, click | click, click, purchase -> run of 3 != {2,2}
        src.publish(
            [
                (10, _ts(0), 1, "view", 0.0),
                (11, _ts(1), 1, "click", 0.0),
                (20, _ts(0), 2, "view", 0.0),
                (21, _ts(1), 2, "click", 0.0),
            ]
        )
        query.processAllAvailable()
        src.publish(
            [
                (12, _ts(2), 1, "click", 0.0),
                (13, _ts(3), 1, "purchase", 0.0),
                (22, _ts(2), 2, "click", 0.0),
                (23, _ts(3), 2, "click", 0.0),
                (24, _ts(4), 2, "purchase", 0.0),
            ]
        )
        query.processAllAvailable()
        src.publish([(99, _ts(30), 99, "view", 0.0)])  # watermark push
        query.processAllAvailable()
        got = {
            (r["user_id"], r["stage0_id"], r["stage1_id"], r["stage2_id"],
             r["stage1_n"])
            for r in spark.sql("SELECT * FROM t_cepq_merge").collect()
        }
    finally:
        query.stop()
    assert got == {(1, 10, 11, 13, 2)}  # u2's run of 3 rejected
    with pytest.raises(ValueError, match="final stage"):
        followed_by_quantified_stateful(
            src.stream(), [("view", 1, None), ("click", 2, 2)]
        )


def test_quantified_state_survives_restart(spark, tmp_path):
    """Checkpoint recovery of the richest CEP state row: the query stops
    with a closed view run, an open click run and a buffered click in
    state; after a restart on the same checkpoint the purchase completes
    the pattern, and the one emission equals an uninterrupted run's."""
    from reactor_window_like_flink_spark.streaming.cep import (
        followed_by_quantified_stateful,
    )

    stages = [("view", 1, None), ("click", 2, 2), ("purchase", 1, None)]
    steps = [
        # watermark 10:02 after this batch (the sentinel is user 99)
        [(10, _ts(0), 1, "view", 0.0), (11, _ts(1), 1, "click", 0.0),
         (99, _ts(12), 99, "view", 0.0)],
        # view@0 and click@1 finalize; click@3 waits in the buffer
        [(12, _ts(3), 1, "click", 0.0)],
        [(13, _ts(4), 1, "purchase", 0.0)],
        [(98, _ts(40), 99, "view", 0.0)],  # watermark 10:30 flushes all
    ]

    def run(name, stop_after):
        src = FileStreamInput(spark, SCHEMA, str(tmp_path / name / "in"))
        got: list = []

        def start():
            # foreachBatch sink: the memory sink refuses checkpoint recovery
            return (
                followed_by_quantified_stateful(
                    src.stream(), stages, watermark_delay="10 minutes"
                )
                .writeStream.foreachBatch(
                    lambda df, bid: got.extend(map(tuple, df.collect()))
                )
                .outputMode("append")
                .option("checkpointLocation", str(tmp_path / name / "ckpt"))
                .start()
            )

        query = start()
        try:
            for i, rows in enumerate(steps):
                if i == stop_after:
                    query.stop()
                    assert got == []  # stopped mid-pattern
                    query = start()
                src.publish(rows)
                query.processAllAvailable()
        finally:
            query.stop()
        return got

    want = run("straight", None)
    assert want == [(1, 10, 11, 13, 1, 2, 240_000_000)]
    assert run("restarted", 2) == want


def test_chain_relaxed_watermark_advanced_by_non_pattern_rows(spark, tmp_path):
    """The matchers that ignore other event types drop them AFTER the
    watermark: a sentinel whose type no pattern reads still advances it,
    so the relaxed chain it leaves behind emits and the pending view's
    absence fires."""
    from reactor_window_like_flink_spark.streaming.cep import (
        followed_by_chain_stateful,
        not_followed_by_stateful,
    )

    cases = {
        "chain": (
            lambda s: followed_by_chain_stateful(
                s, ["a", "b"], watermark_delay="30 minutes"
            ),
            [(1, _ts(0), 1, "a", 0.0), (2, _ts(1), 1, "b", 0.0)],
            {(1, 1, 2, 60_000_000)},
        ),
        "absence": (
            lambda s: not_followed_by_stateful(
                s, watermark_delay="30 minutes", span_us=10 * 60 * 1_000_000
            ).select("user_id", "view_id"),
            [(1, _ts(0), 1, "view", 0.0)],
            {(1, 1)},
        ),
    }
    for name, (op, rows, want) in cases.items():
        src = FileStreamInput(spark, SCHEMA, str(tmp_path / name / "events"))
        query = (
            op(src.stream()).writeStream.format("memory")
            .queryName(f"t_cep_wm_{name}")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / name / "ckpt"))
            .start()
        )
        try:
            src.publish(rows)
            query.processAllAvailable()
            src.publish(
                [(9, _ts(0) + timedelta(hours=2), 99, "noise", 0.0)]
            )
            query.processAllAvailable()
            got = {
                tuple(r)
                for r in spark.sql(f"SELECT * FROM t_cep_wm_{name}").collect()
            }
        finally:
            query.stop()
        assert got == want, name
