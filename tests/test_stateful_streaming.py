"""Live-stream count-or-time flush: count path, timeout path, and the
no-loss invariant, on a real Structured Streaming query.

Note: these tests poll the memory sink instead of calling
``processAllAvailable()`` — with a ProcessingTimeTimeout armed, the
scheduler keeps planning no-data batches to fire timeouts, so
"all available processed" never settles.
"""

from __future__ import annotations

from _poll import poll

import time

from reactor_window_like_flink_spark.streaming.publisher import FileStreamInput
from reactor_window_like_flink_spark.streaming.stateful import (
    count_or_time_stateful,
)

SCHEMA = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"


def _rows(user: int, n: int, start: int = 0):
    from datetime import datetime, timezone

    return [
        (start + i, datetime(2024, 1, 1, tzinfo=timezone.utc), user, "e", 1.0)
        for i in range(n)
    ]


def test_count_timeout_and_conservation(spark, tmp_path):
    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))
    out = count_or_time_stateful(src.stream(), max_size=10, duration_seconds=2.0)
    query = (
        out.writeStream.format("memory")
        .queryName("t_cot")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # 35 rows for user 1: the count path must flush 3 full batches of
        # 10 immediately; the held 5 must flush via the timeout path once
        # the 2s window elapses — no further input required.
        src.publish(_rows(user=1, n=35))

        sized = poll(
            lambda: (
                r
                if len(
                    r := spark.sql(
                        "SELECT * FROM t_cot WHERE flush_reason = 'size'"
                    ).collect()
                )
                >= 3
                else None
            )
        )
        assert sorted(r["n_events"] for r in sized) == [10, 10, 10]

        timed = poll(
            lambda: spark.sql(
                "SELECT * FROM t_cot WHERE flush_reason = 'timeout'"
            ).collect()
        )
        assert [r["n_events"] for r in timed] == [5]

        # conservation (the reference's own invariant): 35 in, 35 out,
        # every batch within (0, max_size]
        all_rows = spark.sql("SELECT * FROM t_cot WHERE key = 1").collect()
        assert sum(r["n_events"] for r in all_rows) == 35
        assert max(r["n_events"] for r in all_rows) <= 10
        assert min(r["n_events"] for r in all_rows) >= 1
        assert sorted(r["batch_seq"] for r in all_rows) == [0, 1, 2, 3]
    finally:
        query.stop()


def test_trickle_still_time_flushes(spark, tmp_path):
    """Opened-based flush-on-time: under a steady sub-max_size trickle
    arriving faster than the window duration, a batch must still flush
    ~duration after it opened. (Inactivity-reset timing — re-arming the
    full duration on every arrival — never fires here, leaving latency
    unbounded; this is the reference's bufferTimeout contract.)"""
    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))
    out = count_or_time_stateful(src.stream(), max_size=100, duration_seconds=2.0)
    query = (
        out.writeStream.format("memory")
        .queryName("t_trickle")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        published = 0
        saw_mid_trickle = False
        deadline = time.time() + 45.0
        while time.time() < deadline:
            src.publish(_rows(user=7, n=2, start=published))
            published += 2
            if (
                spark.sql(
                    "SELECT count(*) c FROM t_trickle WHERE flush_reason = 'timeout'"
                ).collect()[0]["c"]
                > 0
            ):
                saw_mid_trickle = True  # fired while arrivals kept coming
                break
            time.sleep(0.5)
        assert saw_mid_trickle, "no timeout flush fired during a steady trickle"
        flushed = spark.sql(
            "SELECT * FROM t_trickle WHERE flush_reason = 'timeout'"
        ).collect()
        assert all(0 < r["n_events"] < 100 for r in flushed)
        # conservation: once quiet, the remaining open batch time-flushes too
        assert poll(
            lambda: (
                spark.sql("SELECT sum(n_events) s FROM t_trickle").collect()[0]["s"]
                or 0
            )
            == published
        )
    finally:
        query.stop()


def test_trickle_timeout_is_data_path(spark, tmp_path):
    """Pin the DATA-path flush-on-time (stateful.py: the `now_ms >=
    opened_ms + timeout_ms` check on the arrival path, r14 ADVICE):
    with ``maxFilesPerTrigger=1`` and a pre-published backlog of
    single-row files, EVERY micro-batch carries rows for the key, so
    ``hasTimedOut`` can never fire (the timer only fires in a batch
    where the key has no new rows) — any 'timeout' flush observed while
    backlog remains unprocessed must come from the data-path check.
    ``test_trickle_still_time_flushes`` publishes with gaps and so
    tolerates dataless timer batches; this one does not."""
    src = FileStreamInput(
        spark, SCHEMA, str(tmp_path / "in"), max_files_per_trigger=1
    )
    backlog = 120  # single-row files: >> duration worth of 1-file batches
    for i in range(backlog):
        src.publish(_rows(user=3, n=1, start=i))
    out = count_or_time_stateful(
        src.stream(), max_size=1000, duration_seconds=2.0
    )
    query = (
        out.writeStream.format("memory")
        .queryName("t_datapath")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        timed = poll(
            lambda: spark.sql(
                "SELECT * FROM t_datapath WHERE flush_reason = 'timeout'"
            ).collect()
        )
        assert timed, "no timeout flush fired under an every-batch trickle"
        # the flush fired while unread backlog remained -> the batch that
        # emitted it carried rows -> data path, not the hasTimedOut timer
        assert src.queue_size() > 0, (
            "backlog drained before the first timeout flush — the test "
            "lost its every-batch-carries-rows guarantee"
        )
        # sub-max_size close: duration (2s) of 1-row batches, far from 1000
        assert all(0 < r["n_events"] < 1000 for r in timed)
    finally:
        query.stop()


def test_idle_state_ttl_evicts_and_resets_seq(spark, tmp_path):
    """With idle_state_ttl_seconds, a key idle past the TTL after its
    last flush is evicted from the state store — bounded state for
    unbounded key spaces — and its batch_seq restarts at 0 on return
    (the documented trade; without the TTL, existing tests pin the
    monotonic 0,1,2,... sequence)."""
    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))
    out = count_or_time_stateful(
        src.stream(),
        max_size=10,
        duration_seconds=1.0,
        idle_state_ttl_seconds=3.0,
    )
    query = (
        out.writeStream.format("memory")
        .queryName("t_ttl")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        src.publish(_rows(user=1, n=10))  # exactly one count-path flush
        first = poll(
            lambda: spark.sql(
                "SELECT * FROM t_ttl WHERE flush_reason = 'size'"
            ).collect()
        )
        assert [r["batch_seq"] for r in first] == [0]
        # idle well past the TTL: the armed timeout keeps no-data batches
        # coming, so the eviction fires without further input
        time.sleep(8.0)
        src.publish(_rows(user=1, n=10, start=100))
        both = poll(
            lambda: (
                r
                if len(
                    r := spark.sql(
                        "SELECT * FROM t_ttl WHERE flush_reason = 'size'"
                    ).collect()
                )
                >= 2
                else None
            )
        )
        # state was evicted in between: the second flush restarts at 0
        assert [r["batch_seq"] for r in both] == [0, 0]
        assert sum(r["n_events"] for r in both) == 20
    finally:
        query.stop()


def test_late_data_dropped_by_watermark(spark, tmp_path):
    """Key 44: events older than the watermark never reach the aggregate
    (the deterministic upgrade over the reference's no-watermark design)."""
    from datetime import datetime, timezone

    from reactor_window_like_flink_spark.streaming.windows import stream_tumbling

    def ts(hour, minute):
        return datetime(2024, 1, 1, hour, minute, tzinfo=timezone.utc)

    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))
    out = stream_tumbling(src.stream(), watermark="10 minutes")
    query = (
        out.writeStream.format("memory")
        .queryName("t_late")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        src.publish([(1, ts(10, 0), 1, "click", 1.0), (2, ts(10, 2), 1, "click", 1.0)])
        query.processAllAvailable()
        # advance event time far past the first window + watermark,
        # finalizing the 10:00 window
        src.publish([(3, ts(12, 0), 1, "click", 1.0)])
        query.processAllAvailable()
        # a very late event for the long-finalized 10:00 window: dropped
        src.publish([(4, ts(10, 1), 1, "click", 99.0)])
        query.processAllAvailable()
        src.publish([(5, ts(14, 0), 1, "click", 1.0)])  # close the 12:00 window
        query.processAllAvailable()
        rows = spark.sql("SELECT * FROM t_late").collect()
        by_window = {r["window_start"]: r["n_events"] for r in rows}
        first_window = int(ts(10, 0).timestamp())
        assert by_window.get(first_window) == 2  # late event NOT counted
    finally:
        query.stop()


def _state_rows(query):
    from reactor_window_like_flink_spark.streaming.publisher import (
        progress_stats,
    )

    stats = progress_stats(query)
    return None if stats is None else stats["state_rows"]


def test_state_rows_plateau_at_active_keys_under_ttl(spark, tmp_path):
    """The 100 TB state posture, MEASURED instead of argued: 10k distinct
    keys flow through the count-or-time operator with an idle TTL; the
    state store grows to ~10k rows (one O(1) row per ACTIVE key), the
    TTL evicts the idle population, and a second 10k-key wave returns
    state to ~one-wave size — NEVER lifetime cardinality (20k). This is
    the plateau that makes an unbounded key space (session ids) safe on
    a long-running stream."""
    n_keys = 10_000
    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))
    out = count_or_time_stateful(
        src.stream(),
        max_size=1,  # every event flushes instantly -> state is idle-only
        duration_seconds=0.5,
        idle_state_ttl_seconds=2.0,
    )
    query = (
        out.writeStream.format("memory")
        .queryName("t_scale")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        from datetime import datetime, timezone

        ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
        src.publish([(i, ts, i, "e", 1.0) for i in range(n_keys)])
        # wave 1 fully flushed: one size-flush per key
        poll(
            lambda: spark.sql("SELECT count(*) c FROM t_scale").collect()[0][
                "c"
            ]
            >= n_keys,
            timeout_s=180.0,
        )
        peak1 = poll(
            lambda: (s := _state_rows(query)) is not None
            and s >= n_keys
            and s,
            timeout_s=60.0,
        )
        assert peak1 and peak1 >= n_keys  # one state row per active key
        # TTL eviction: no-data batches keep firing timeouts; state decays
        low = poll(
            lambda: (s := _state_rows(query)) is not None
            and s < n_keys // 10
            and (s or True),
            timeout_s=120.0,
        )
        assert low, f"state never evicted below {n_keys // 10}"
        # wave 2, all-new keys: plateau at ~wave size, not lifetime size
        src.publish(
            [(n_keys + i, ts, n_keys + i, "e", 1.0) for i in range(n_keys)]
        )
        poll(
            lambda: spark.sql("SELECT count(*) c FROM t_scale").collect()[0][
                "c"
            ]
            >= 2 * n_keys,
            timeout_s=180.0,
        )
        peak2 = poll(
            lambda: (s := _state_rows(query)) is not None
            and s >= n_keys
            and s,
            timeout_s=60.0,
        )
        assert peak2 and peak2 < int(1.5 * n_keys), (
            f"state {peak2} tracks LIFETIME keys, not active keys"
        )
    finally:
        query.stop()


def test_rocksdb_state_store_flag_smoke(spark, tmp_path):
    """`get_spark(rocksdb_state_store=True)` switches the per-query
    state-store provider to RocksDB (off-heap, spill-to-disk — the
    flag the 100 TB streaming posture requires); a stateful query on a
    live session picks it up, produces the same results, and reports
    RocksDB-specific state metrics in its progress."""
    from reactor_window_like_flink_spark.session import (
        ROCKSDB_STATE_STORE_PROVIDER,
        get_spark,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    default = spark.conf.get(key)
    s = get_spark(rocksdb_state_store=True)
    assert s is spark  # live session reused, conf applied at runtime
    assert spark.conf.get(key) == ROCKSDB_STATE_STORE_PROVIDER
    try:
        src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))
        out = count_or_time_stateful(
            src.stream(), max_size=10, duration_seconds=1.0
        )
        query = (
            out.writeStream.format("memory")
            .queryName("t_rocks")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            src.publish(_rows(user=7, n=10))
            rows = poll(
                lambda: spark.sql(
                    "SELECT * FROM t_rocks WHERE flush_reason = 'size'"
                ).collect()
            )
            assert rows and rows[0]["n_events"] == 10
            metrics = poll(
                lambda: (
                    (p := query.lastProgress) is not None
                    and p["stateOperators"]
                    and p["stateOperators"][0].get("customMetrics")
                )
            )
            assert any(k.startswith("rocksdb") for k in metrics), metrics
        finally:
            query.stop()
    finally:
        spark.conf.set(key, default)


def test_watermark_purges_dedup_state_at_10k_keys(spark, tmp_path):
    """The watermark-bounded state family, measured at 10k keys:
    ``stream_dedup`` (dropDuplicatesWithinWatermark) holds one state row
    per key seen within the watermark horizon; once the watermark passes
    a wave's expiry, its 10k rows are PURGED — state tracks the horizon,
    not stream lifetime. (Same contract bounds the windowed aggs: all
    use withWatermark.)"""
    from datetime import datetime, timedelta, timezone

    from reactor_window_like_flink_spark.streaming.windows import (
        stream_dedup,
    )

    n = 10_000
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))
    out = stream_dedup(src.stream(), watermark="10 minutes")
    query = (
        out.writeStream.format("memory")
        .queryName("t_wm_scale")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        src.publish([(i, t0, i, "e", 1.0) for i in range(n)])
        query.processAllAvailable()
        peak = _state_rows(query)
        assert peak is not None and peak >= n  # one row per key in horizon
        # wave 2 an hour later: watermark jumps past wave 1's expiry
        t1 = t0 + timedelta(hours=1)
        src.publish([(n + i, t1, n + i, "e", 1.0) for i in range(n)])
        query.processAllAvailable()
        # purge lands in the batch AFTER the watermark advances: nudge
        t2 = t1 + timedelta(minutes=1)
        src.publish([(2 * n + 1, t2, 2 * n + 1, "e", 1.0)])
        query.processAllAvailable()
        settled = _state_rows(query)
        assert settled is not None and settled < int(1.5 * n), (
            f"state {settled} holds expired waves; watermark purge failed"
        )
        emitted = spark.sql("SELECT count(*) c FROM t_wm_scale").collect()[0]["c"]
        assert emitted == 2 * n + 1  # every distinct key emitted once
    finally:
        query.stop()


def test_streaming_batch_membership_bitmask(spark, tmp_path):
    """r16 (verdict task 6, streaming side): exact batch MEMBERSHIP on
    the live stateful operator, not just counts. Event values are
    distinct powers of two, so each flush's sum_value is a bitmask
    naming exactly which events it contains; the pinned publish schedule
    makes every boundary computable: a 6-event publish must close
    {2^0..2^3} on the count path and carry {2^4,2^5} into the open
    buffer; a 2-event publish must complete that buffer as
    {2^4,2^5,2^6,2^7}; a final 1-event publish must ride the time path
    alone as {2^8}. Any mis-ordered carryover, off-by-one boundary, or
    leak across batches changes a bitmask."""
    from datetime import datetime, timezone

    def rows(eids, vals):
        ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
        return [(e, ts, 7, "e", float(v)) for e, v in zip(eids, vals)]

    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))
    # duration long enough that steps 1-2 cannot time-flush in between
    # on a slow host; the final step waits it out on purpose
    out = count_or_time_stateful(
        src.stream(), max_size=4, duration_seconds=20.0
    )
    query = (
        out.writeStream.format("memory")
        .queryName("t_member")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        src.publish(rows(range(6), [2**i for i in range(6)]))
        first = poll(
            lambda: spark.sql(
                "SELECT * FROM t_member WHERE batch_seq = 0"
            ).collect()
        )
        assert [
            (r["n_events"], r["sum_value"], r["flush_reason"]) for r in first
        ] == [(4, 15.0, "size")]  # bitmask 1+2+4+8: exactly 2^0..2^3

        src.publish(rows(range(6, 8), [2**6, 2**7]))
        second = poll(
            lambda: spark.sql(
                "SELECT * FROM t_member WHERE batch_seq = 1"
            ).collect()
        )
        assert [
            (r["n_events"], r["sum_value"], r["flush_reason"]) for r in second
        ] == [(4, 240.0, "size")]  # 16+32+64+128: the carried pair + both new

        src.publish(rows([8], [2**8]))
        third = poll(
            lambda: spark.sql(
                "SELECT * FROM t_member WHERE batch_seq = 2"
            ).collect(),
            timeout_s=120.0,
        )
        assert [
            (r["n_events"], r["sum_value"], r["flush_reason"]) for r in third
        ] == [(1, 256.0, "timeout")]  # the lone opener rides the time path

        # conservation over the full schedule: 9 in, 9 out, one key
        total = spark.sql("SELECT sum(n_events) s FROM t_member").collect()
        assert total[0]["s"] == 9
    finally:
        query.stop()


def test_count_or_time_state_survives_restart(spark, tmp_path):
    """r16 (verdict task 4): checkpoint recovery for STATEFUL state on
    the reference's core operator — the sink replay tests cover
    stateless exactly-once only. The open-batch counter state
    (seq, n, total, opened_ms) must round-trip the state store across a
    query restart: 7 rows with values 1..7 buffered BEFORE the stop must
    combine with 3 rows (8..10) published AFTER it into ONE size-path
    flush of exactly 10 events summing 55.0 at batch_seq 0. Without
    recovery the post-restart rows alone can never reach max_size (and a
    fresh state row would make the eventual flush's sum 8+9+10 only), so
    the spanning sum is the proof the buffer survived."""
    from datetime import datetime, timezone

    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))
    flushed: list = []

    def start():
        # foreachBatch sink: the memory sink refuses checkpoint recovery
        out = count_or_time_stateful(
            src.stream(), max_size=10, duration_seconds=600.0
        )
        return (
            out.writeStream.foreachBatch(
                lambda df, bid: flushed.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )

    def rows_in(query) -> int:
        total = 0
        for p in query.recentProgress:
            total += p.get("numInputRows") or 0
        return total

    query = start()
    try:
        src.publish([(i, ts, 1, "e", float(i + 1)) for i in range(7)])
        # processAllAvailable never settles with a ProcessingTimeTimeout
        # armed (module docstring), so poll until the 7-row batch has
        # COMMITTED — state checkpoints at batch completion
        assert poll(lambda: rows_in(query) >= 7)
    finally:
        query.stop()
    assert flushed == []  # 7 < max_size and the 600 s timeout never fired

    query = start()
    try:
        src.publish([(7 + i, ts, 1, "e", float(8 + i)) for i in range(3)])
        got = poll(lambda: list(flushed) or None)
        assert [
            (r["key"], r["batch_seq"], r["n_events"], r["sum_value"],
             r["flush_reason"])
            for r in got
        ] == [(1, 0, 10, 55.0, "size")]
    finally:
        query.stop()


def test_value_col_names_any_column(spark, tmp_path):
    """``value_col`` may name any numeric column: the operator projects it
    to ``value`` before the flush, so the sums are that column's."""
    src = FileStreamInput(spark, "user_id LONG, amount DOUBLE", str(tmp_path / "in"))
    out = count_or_time_stateful(
        src.stream(), value_col="amount", max_size=2, duration_seconds=60.0
    )
    query = (
        out.writeStream.format("memory")
        .queryName("t_cot_amount")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        src.publish([(1, 1.5), (1, 2.0), (2, 4.0), (2, 8.25)])
        got = poll(
            lambda: (
                r
                if len(r := spark.sql("SELECT * FROM t_cot_amount").collect()) >= 2
                else None
            )
        )
        assert sorted((r["key"], r["sum_value"], r["flush_reason"]) for r in got) == [
            (1, 3.5, "size"),
            (2, 12.25, "size"),
        ]
    finally:
        query.stop()
