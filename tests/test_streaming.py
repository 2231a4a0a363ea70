"""Structured Streaming tests: the WindowedPublisher no-loss contract
(mirroring ``WindowPublisherTest.java:20-47``), watermark late-data drop,
and streaming dedup — run on memory sinks / tmp file sources."""

from __future__ import annotations

import threading
import time
from datetime import datetime, timezone

import pytest

from reactor_window_like_flink_spark.observe import group_counters
from reactor_window_like_flink_spark.streaming.publisher import (
    FileStreamInput,
    WindowedPublisher,
    progress_stats,
)
from reactor_window_like_flink_spark.streaming.windows import (
    stream_dedup,
    stream_tumbling,
)

SCHEMA = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"


def _ts(minute: int, second: int = 0):
    from datetime import timedelta

    return datetime(2024, 1, 1, 10, 0, 0, tzinfo=timezone.utc) + timedelta(
        minutes=minute, seconds=second
    )


def _rows(n: int, start_minute: int = 0):
    return [
        (i, _ts(start_minute + i // 60, i % 60), i % 7, "click", float(i))
        for i in range(n)
    ]


def test_publisher_no_loss_under_concurrent_producers(spark, tmp_path):
    """The reference's integration test, re-staged: N producer threads
    publish concurrently; every row is delivered in exactly one chunk of
    <= max_batch_size, no empty chunks (``WindowPublisherTest.java:46``)."""
    item_count, thread_count = 500, 5
    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))
    delivered: list[list] = []
    lock = threading.Lock()

    def consumer(chunk):
        with lock:
            delivered.append(chunk)

    pub = WindowedPublisher(window_max_batch_size=15, window_duration_seconds=0.5)
    query = pub.subscribe(
        src.stream(),
        consumer=consumer,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        per = item_count // thread_count
        all_rows = _rows(item_count)

        def produce(k: int) -> None:
            src.publish(all_rows[k * per : (k + 1) * per])

        threads = [
            threading.Thread(target=produce, args=(k,)) for k in range(thread_count)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        deadline = time.time() + 60
        while time.time() < deadline:
            query.processAllAvailable()
            with lock:
                got = sum(len(c) for c in delivered)
            if got >= item_count:
                break
            time.sleep(0.2)
    finally:
        query.stop()

    sizes = [len(c) for c in delivered]
    assert sum(sizes) == item_count  # exact no-loss delivery
    assert max(sizes) <= 15  # count-path flush bound
    assert min(sizes) >= 1  # empty windows never delivered
    ids = sorted(r["event_id"] for c in delivered for r in c)
    assert ids == list(range(item_count))  # exactly-once, not at-least-once


def test_arrow_fallback_is_counted_and_tmp_cleaned(spark, tmp_path, monkeypatch):
    """The arrow fast path's failure mode must be OBSERVABLE (r14 ADVICE):
    a systematic arrow failure silently reinstating the per-publish
    Spark-job path (~340 events/s) was invisible. Healthy publishes keep
    ``arrow_fallbacks() == 0``; a forced arrow failure increments it,
    still delivers the rows (Spark-job fallback, same contract), and
    leaves no half-written ``.tmp`` file behind."""
    import os

    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))
    src.publish(_rows(5))
    assert src.arrow_fallbacks() == 0  # happy path never falls back

    def boom(rows):
        # simulate a pyarrow regression AFTER the tmp file exists
        open(os.path.join(str(tmp_path / "in"), ".crash.parquet.tmp"), "w").close()
        raise RuntimeError("synthetic arrow failure")

    monkeypatch.setattr(src, "_admit_arrow", boom)
    src.publish(_rows(5, start_minute=10))
    monkeypatch.undo()
    assert src.arrow_fallbacks() == 1
    src.publish(_rows(5, start_minute=20))
    assert src.arrow_fallbacks() == 1  # recovered: no further fallbacks

    # all 15 rows delivered regardless of path; the only .tmp present is
    # the synthetic one (the real writer unlinks its tmp on failure)
    got = spark.read.schema(SCHEMA).parquet(str(tmp_path / "in")).count()
    assert got == 15
    assert src._published_rows == 15


def test_admit_arrow_unlinks_tmp_on_write_failure(spark, tmp_path, monkeypatch):
    """A failure between tmp-write and rename must not strand the tmp
    file (r14 ADVICE: partially written .tmp left behind)."""
    import os

    import pyarrow.parquet as pq

    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))

    real_write = pq.write_table

    def half_write(table, where, **kw):
        real_write(table, where, **kw)  # tmp file now exists on disk
        raise RuntimeError("synthetic failure after tmp write")

    monkeypatch.setattr(pq, "write_table", half_write)
    src.publish(_rows(3))  # falls back to the Spark-job path
    monkeypatch.undo()
    leftovers = [
        f for f in os.listdir(str(tmp_path / "in")) if f.endswith(".tmp")
    ]
    assert leftovers == [], f"stranded tmp files: {leftovers}"
    assert src.arrow_fallbacks() == 1
    got = spark.read.schema(SCHEMA).parquet(str(tmp_path / "in")).count()
    assert got == 3


def test_back_to_back_publishes_get_distinct_ms_mtimes(spark, tmp_path):
    """Spark's file source orders new files by modification time in ms.
    Publishes about 1 ms apart used to tie, and the source could then
    read them out of publish order; every file now gets a later ms."""
    import os

    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))
    for i in range(20):
        src.publish(_rows(1, start_minute=i))
    paths = [
        os.path.join(tmp_path / "in", f)
        for f in os.listdir(tmp_path / "in")
        if f.endswith(".parquet")
    ]
    ms = sorted(os.stat(p).st_mtime_ns // 1_000_000 for p in paths)
    assert len(paths) == 20 and len(set(ms)) == 20


def test_publisher_error_channel(spark, tmp_path):
    """Errors route to the error consumer (``WindowPublisher.java:142-150``)
    instead of failing the query."""
    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))
    errors: list[Exception] = []

    def consumer(chunk):
        raise RuntimeError("sink down")

    pub = WindowedPublisher(window_max_batch_size=10, window_duration_seconds=0.5)
    query = pub.subscribe(src.stream(), consumer=consumer, on_error=errors.append)
    try:
        src.publish(_rows(5))
        deadline = time.time() + 30
        while time.time() < deadline and not errors:
            query.processAllAvailable()
            time.sleep(0.2)
    finally:
        query.stop()
    assert errors and isinstance(errors[0], RuntimeError)


def test_try_publish_backpressure_and_introspection(spark, tmp_path):
    """Best-effort admission (A3/A4) + queue introspection (A9): with a
    bounded queue, try_publish refuses once the unprocessed backlog would
    exceed capacity, and admits again after the consumer drains it;
    queue_size/queue_capacity/progress_stats expose the depth and rates
    (``WindowPublisher.java:100-125``)."""
    src = FileStreamInput(
        spark, SCHEMA, str(tmp_path / "in"), queue_capacity=20
    )
    assert src.queue_capacity() == 20
    assert src.queue_size() == 0
    assert src.try_publish(_rows(15))  # within capacity: admitted
    assert src.queue_size() == 15  # nothing consuming yet
    assert not src.try_publish(_rows(10, start_minute=30))  # 25 > 20: refused
    assert src.queue_size() == 15  # refusal has no side effects
    assert src.try_publish(_rows(5, start_minute=40))  # exactly at capacity
    assert src.queue_size() == 20

    delivered: list[list] = []
    lock = threading.Lock()

    def consumer(chunk):
        with lock:
            delivered.append(chunk)

    pub = WindowedPublisher(window_max_batch_size=15, window_duration_seconds=0.5)
    query = src.attach(
        pub.subscribe(
            src.stream(), consumer=consumer, checkpoint_dir=str(tmp_path / "ckpt")
        )
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and src.queue_size() > 0:
            query.processAllAvailable()
            time.sleep(0.2)
        assert src.queue_size() == 0  # backlog drained
        assert src.try_publish(_rows(10, start_minute=50))  # admits again
        deadline = time.time() + 60
        while time.time() < deadline:
            query.processAllAvailable()
            with lock:
                if sum(len(c) for c in delivered) >= 30:
                    break
            time.sleep(0.2)
        stats = progress_stats(query)
    finally:
        query.stop()
    assert sum(len(c) for c in delivered) == 30
    assert max(len(c) for c in delivered) <= 15
    assert stats is not None and stats["batch_id"] >= 0
    assert stats["batch_duration_ms"] is None or stats["batch_duration_ms"] >= 0


def test_try_publish_atomic_under_concurrent_producers(spark, tmp_path):
    """Admission is check+write under ONE lock: many producers racing
    try_publish must never over-admit past capacity (a check-then-act
    race would let two producers both pass the capacity check and both
    write). With no consumer attached, exactly `capacity` single-row
    admissions can succeed."""
    capacity = 6
    src = FileStreamInput(
        spark, SCHEMA, str(tmp_path / "in"), queue_capacity=capacity
    )
    results: list[bool] = []
    lock = threading.Lock()
    start = threading.Barrier(12)

    def produce(k: int) -> None:
        start.wait()
        ok = src.try_publish(_rows(1, start_minute=k))
        with lock:
            results.append(ok)

    threads = [threading.Thread(target=produce, args=(k,)) for k in range(12)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sum(results) == capacity  # exactly capacity admissions, ever
    assert src.queue_size() == capacity  # never over-admitted


def test_try_publish_each_returns_per_item_acks(spark, tmp_path):
    """Reference A4 (asyncPublish(Collection) -> Map<T,Boolean>,
    WindowPublisher.java:109-111): each element is tried in order until
    the queue fills — the admitted prefix acks True, the overflow acks
    False, and only the admitted rows are ever durably written."""
    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"), queue_capacity=5)
    acks = src.try_publish_each(_rows(8))
    assert acks == [True] * 5 + [False] * 3
    assert src.queue_size() == 5
    # queue full: every further item refused, nothing written
    assert src.try_publish_each(_rows(3, start_minute=9)) == [False] * 3
    assert src.queue_size() == 5
    # unbounded input: everything admits
    free = FileStreamInput(spark, SCHEMA, str(tmp_path / "in2"))
    assert free.try_publish_each(_rows(4)) == [True] * 4
    # the admitted prefix is exactly what the stream delivers
    out = (
        spark.readStream.schema(SCHEMA)
        .parquet(str(tmp_path / "in"))
        .writeStream.format("memory")
        .queryName("t_each")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    out.awaitTermination(60)
    got = spark.sql("SELECT event_id FROM t_each ORDER BY event_id").collect()
    assert [r["event_id"] for r in got] == [0, 1, 2, 3, 4]


def test_backlog_counts_only_this_sources_rows(spark, tmp_path):
    """queue_size must subtract rows processed from THIS directory, not
    the query-level numInputRows (which aggregates all sources of a
    join): otherwise a joined second stream inflates processed counts and
    try_publish over-admits."""
    src = FileStreamInput(
        spark, SCHEMA, str(tmp_path / "in"), queue_capacity=100
    )
    src.publish(_rows(50))

    me = str(tmp_path / "in")

    class FakeQuery:
        recentProgress = [
            {
                "batchId": 0,
                "numInputRows": 50,  # this + 30 from another source
                "sources": [
                    {
                        "description": f"FileStreamSource[file:{me}]",
                        "numInputRows": 20,
                    },
                    {
                        "description": "FileStreamSource[file:/elsewhere]",
                        "numInputRows": 30,
                    },
                ],
            }
        ]

    src.attach(FakeQuery())
    # 50 published - 20 processed from THIS source = 30 backlog (the
    # query-level total would wrongly report 0)
    assert src.queue_size() == 30


def test_backlog_matches_source_dir_exactly_not_by_prefix(spark, tmp_path):
    """Two inputs in sibling directories ``in`` and ``in_b`` feed one
    query. Each must read its own source's processed rows: matching the
    progress description by substring let ``in`` take ``in_b``'s count
    and report a backlog after everything was delivered."""
    pub = WindowedPublisher(window_max_batch_size=15)
    for order in (0, 1):  # either source may be listed first
        a = FileStreamInput(spark, SCHEMA, str(tmp_path / str(order) / "in"))
        b = FileStreamInput(spark, SCHEMA, str(tmp_path / str(order) / "in_b"))
        a.publish(_rows(30))
        b.publish(_rows(10, start_minute=5))
        first, second = (a, b) if order == 0 else (b, a)
        delivered: list = []
        query = pub.subscribe(
            first.stream().union(second.stream()),
            consumer=delivered.extend,
            drain=True,
        )
        a.attach(query)
        b.attach(query)
        assert query.awaitTermination(60)
        assert len(delivered) == 40
        assert (a.queue_size(), b.queue_size()) == (0, 0), order


def test_drain_job_budget_flat_across_listing_threshold(spark, tmp_path):
    """A drain's jobs must not grow with the number of admitted files.
    Spark lists more than ``parallelPartitionDiscovery.threshold`` (32 by
    default) paths in a distributed job of one task per path;
    ``get_spark`` keeps that listing on the driver for local masters. So
    20 files (under 32) and 40 files (over it) start the same jobs and
    tasks: the consumer coalesces to one partition, so every legitimate
    stage is one task, while a per-file listing stage would add 20 tasks
    to one drain and 40 to the other."""
    counts = {}
    for n_files in (20, 40):
        src = FileStreamInput(spark, SCHEMA, str(tmp_path / f"in{n_files}"))
        for i in range(n_files):
            src.publish(_rows(1, start_minute=i))
        got: list = []
        query = WindowedPublisher().subscribe(
            src.stream(),
            # One task whatever the file count, so the budget below does
            # not depend on how many partitions the files pack into.
            consumer_df=lambda df, _: got.extend(df.coalesce(1).collect()),
            drain=True,
        )
        assert query.awaitTermination(60)
        assert len(got) == n_files
        c = group_counters(spark, query.runId)
        counts[n_files] = (c["jobs"], c["tasks"])
    assert counts[20] == counts[40], counts


def test_consumer_drain_is_one_job_per_micro_batch(spark, tmp_path):
    """The ``consumer`` path collects each micro-batch in one Spark job
    (``collect_bounded``), also when its files pack into several
    partitions: a bare ``limit(cap+1).collect()`` scans one partition,
    then scales up in a second job."""
    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))
    for i in range(4):
        src.publish(_rows(5, start_minute=i))
    delivered: list = []
    query = WindowedPublisher().subscribe(
        src.stream(), consumer=delivered.extend, drain=True
    )
    assert query.awaitTermination(60)
    assert len(delivered) == 20
    batches = sum(1 for p in query.recentProgress if p["numInputRows"] > 0)
    c = group_counters(spark, query.runId)
    assert c["jobs"] == batches, (c, batches)
    # More tasks than jobs: at least one micro-batch spans more than one
    # partition, the case where a bare limit().collect() needs a 2nd job.
    assert c["tasks"] > c["jobs"], c


def test_second_subscribe_on_live_checkpoint_raises(spark, tmp_path):
    """Unicast safety (ref WindowPublisher.java:68): a second query on a
    checkpoint owned by a live query must be refused — it would corrupt
    the checkpoint state — while restart after stop stays allowed (the
    resume test covers that separately)."""
    import pytest

    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))
    src.publish(_rows(5))
    pub = WindowedPublisher(window_max_batch_size=15, window_duration_seconds=0.5)
    ckpt = str(tmp_path / "ckpt")
    query = pub.subscribe(src.stream(), consumer=lambda c: None, checkpoint_dir=ckpt)
    try:
        with pytest.raises(ValueError, match="already owned by live query"):
            pub.subscribe(
                src.stream(), consumer=lambda c: None, checkpoint_dir=ckpt
            )
    finally:
        query.stop()
    # after the owner stops, the same checkpoint may be re-acquired
    query2 = pub.subscribe(src.stream(), consumer=lambda c: None, checkpoint_dir=ckpt)
    query2.stop()


def test_publisher_soak_reference_scale(spark, tmp_path):
    """The reference's integration test at its own numbers
    (``WindowPublisherTest.java:22-46``): 50,000 events through 10
    concurrent producers, exactly-once delivery, every chunk within
    (0, max_batch_size]."""
    item_count, thread_count = 50_000, 10
    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))
    delivered: list[list] = []
    lock = threading.Lock()

    def consumer(chunk):
        with lock:
            delivered.append(chunk)

    pub = WindowedPublisher(window_max_batch_size=15, window_duration_seconds=0.5)
    query = pub.subscribe(
        src.stream(), consumer=consumer, checkpoint_dir=str(tmp_path / "ckpt")
    )
    try:
        per = item_count // thread_count
        all_rows = _rows(item_count)

        def produce(k: int) -> None:
            # each producer admits its share in sub-batches, like the
            # reference's per-thread publish loop (batch publish = A2)
            mine = all_rows[k * per : (k + 1) * per]
            step = 2500
            for i in range(0, len(mine), step):
                src.publish(mine[i : i + step])

        threads = [
            threading.Thread(target=produce, args=(k,)) for k in range(thread_count)
        ]
        t_start = time.time()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        deadline = time.time() + 180
        while time.time() < deadline:
            query.processAllAvailable()
            with lock:
                if sum(len(c) for c in delivered) >= item_count:
                    break
            time.sleep(0.2)
        wall = time.time() - t_start
    finally:
        query.stop()

    # Reference floor: 50k events within 10 s (>= 5,000 events/s,
    # WindowPublisherTest.java:22-46). The r14 arrow admission path
    # runs this in ~3 s (tools/throughput_probe.py: 16.5k events/s);
    # the bound is 6x that so host-epoch swings can't flake it, while
    # still failing the pre-r14 regression class (a Spark job per
    # publish: 148 s end-to-end).
    assert wall < 60, f"soak took {wall:.1f}s — producer path regressed"

    sizes = [len(c) for c in delivered]
    assert sum(sizes) == item_count  # exact no-loss delivery
    assert max(sizes) <= 15
    assert min(sizes) >= 1
    ids = sorted(r["event_id"] for c in delivered for r in c)
    assert ids == list(range(item_count))  # exactly-once


def test_publisher_drain_mode_delivers_backlog_and_stops(spark, tmp_path):
    """Backfill mode: with drain=True the subscriber processes everything
    already admitted (in bounded chunks) and terminates on its own —
    no manual stop, no hanging trigger loop."""
    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))
    src.publish(_rows(40))
    delivered: list[list] = []
    pub = WindowedPublisher(window_max_batch_size=15, window_duration_seconds=0.5)
    query = pub.subscribe(
        src.stream(),
        consumer=delivered.append,
        checkpoint_dir=str(tmp_path / "ckpt"),
        drain=True,
    )
    assert query.awaitTermination(120)  # stops by itself
    assert sum(len(c) for c in delivered) == 40
    assert max(len(c) for c in delivered) <= 15
    ids = sorted(r["event_id"] for c in delivered for r in c)
    assert ids == list(range(40))


def test_publisher_checkpoint_resume_no_redelivery(spark, tmp_path):
    """Exactly-once across restart: a subscriber restarted on the same
    checkpoint must not re-deliver batches the stopped query already
    committed — the durability upgrade over the reference, which loses
    queue + in-flight contents on crash (``README.md:100``)."""
    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))
    delivered: list[list] = []
    lock = threading.Lock()

    def consumer(chunk):
        with lock:
            delivered.append(chunk)

    pub = WindowedPublisher(window_max_batch_size=15, window_duration_seconds=0.5)
    ckpt = str(tmp_path / "ckpt")

    query = pub.subscribe(src.stream(), consumer=consumer, checkpoint_dir=ckpt)
    try:
        src.publish(_rows(30))
        deadline = time.time() + 60
        while time.time() < deadline:
            query.processAllAvailable()
            with lock:
                if sum(len(c) for c in delivered) >= 30:
                    break
            time.sleep(0.2)
    finally:
        query.stop()
    assert sum(len(c) for c in delivered) == 30

    # restart on the same checkpoint; only NEW rows may arrive
    query = pub.subscribe(src.stream(), consumer=consumer, checkpoint_dir=ckpt)
    try:
        src.publish(
            [
                (1000 + i, _ts(200 + i // 60, i % 60), i % 7, "click", float(i))
                for i in range(20)
            ]
        )
        deadline = time.time() + 60
        while time.time() < deadline:
            query.processAllAvailable()
            with lock:
                if sum(len(c) for c in delivered) >= 50:
                    break
            time.sleep(0.2)
    finally:
        query.stop()
    ids = sorted(r["event_id"] for c in delivered for r in c)
    assert len(ids) == 50
    assert len(set(ids)) == 50  # nothing re-delivered, nothing lost
    assert sorted(set(ids)) == list(range(30)) + list(range(1000, 1020))


def test_publisher_validates_args(spark):
    with pytest.raises(ValueError):
        WindowedPublisher(window_max_batch_size=0)
    with pytest.raises(ValueError):
        WindowedPublisher(window_duration_seconds=0)
    pub = WindowedPublisher()
    with pytest.raises(ValueError):
        pub.subscribe(None)  # neither consumer nor consumer_df


def test_stream_tumbling_matches_batch(spark, tmp_path):
    """Streaming window agg over a replayed file source equals the batch
    expression on the same rows (same expression tree, SURVEY §5.2)."""
    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))
    rows = _rows(300)
    src.publish(rows)
    out = stream_tumbling(src.stream(), watermark="10 minutes")
    query = (
        out.writeStream.format("memory")
        .queryName("t_tumbling")
        .outputMode("complete")
        .start()
    )
    try:
        query.processAllAvailable()
        got = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
            for r in spark.sql("SELECT * FROM t_tumbling").collect()
        }
    finally:
        query.stop()
    batch_df = spark.createDataFrame(rows, SCHEMA)
    from reactor_window_like_flink_spark.streaming.windows import _tumbling

    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in _tumbling(batch_df).collect()
    }
    assert got == want
    assert sum(n for n, _ in got.values()) == len(rows)


def test_stream_sliding_and_session_match_batch(spark, tmp_path):
    """Streaming sliding + session aggs equal, row for row, the batch
    keys' expression trees on the same replayed rows. The second burst
    starts 20 minutes later, so every user's events split into two
    sessions."""
    from reactor_window_like_flink_spark.streaming.windows import (
        _session,
        _sliding,
        stream_session,
        stream_sliding,
    )

    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))
    rows = _rows(240) + _rows(30, start_minute=20)
    src.publish(rows)
    batch_df = spark.createDataFrame(rows, SCHEMA)

    q1 = (
        stream_sliding(src.stream())
        .writeStream.format("memory")
        .queryName("t_sliding")
        .outputMode("complete")
        .start()
    )
    q2 = (
        stream_session(src.stream())
        .writeStream.format("memory")
        .queryName("t_session")
        .outputMode("complete")
        .start()
    )
    try:
        q1.processAllAvailable()
        q2.processAllAvailable()
        got_sliding = sorted(spark.sql("SELECT * FROM t_sliding").collect())
        got_sessions = sorted(spark.sql("SELECT * FROM t_session").collect())
    finally:
        q1.stop()
        q2.stop()
    assert got_sliding == sorted(_sliding(batch_df).collect())
    assert got_sessions == sorted(_session(batch_df).collect())
    # conservation: sliding = each event in exactly 2 windows; session = 1
    assert sum(r["n_events"] for r in got_sliding) == 2 * len(rows)
    assert sum(r["n_events"] for r in got_sessions) == len(rows)
    assert len(got_sessions) == 2 * 7


def test_stream_dedup_drops_repeats(spark, tmp_path):
    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))
    # same (user_id, event_type) published twice within the watermark
    src.publish(
        [
            (1, _ts(0), 1, "click", 1.0),
            (2, _ts(1), 1, "click", 2.0),
            (3, _ts(1), 2, "view", 3.0),
        ]
    )
    out = stream_dedup(src.stream(), watermark="10 minutes")
    query = (
        out.writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .start()
    )
    try:
        query.processAllAvailable()
        got = spark.sql("SELECT user_id, event_type FROM t_dedup").collect()
    finally:
        query.stop()
    assert sorted((r["user_id"], r["event_type"]) for r in got) == [
        (1, "click"),
        (2, "view"),
    ]


def test_idempotent_sink_absorbs_batch_replay(spark, tmp_path):
    """Exactly-once for consumer_df users: deleting the newest checkpoint
    commit marker simulates a crash AFTER the sink wrote batch N but
    BEFORE the offset committed — the textbook at-least-once window. On
    restart Spark replays batch N with the same batch_id; the
    overwrite-by-batch_id sink rewrites the same directory and the
    dataset shows zero duplicate side effects."""
    import os

    from reactor_window_like_flink_spark.sources.sinks import (
        idempotent_batch_sink,
    )

    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pub = WindowedPublisher(window_max_batch_size=16, window_duration_seconds=0.5)

    src.publish(_rows(30))
    query = pub.subscribe(
        src.stream(),
        consumer_df=idempotent_batch_sink(out_dir),
        checkpoint_dir=ckpt,
        drain=True,
    )
    assert query.awaitTermination(120)
    src.publish(_rows(12, start_minute=90))
    query = pub.subscribe(
        src.stream(),
        consumer_df=idempotent_batch_sink(out_dir),
        checkpoint_dir=ckpt,
        drain=True,
    )
    assert query.awaitTermination(120)

    def read_ids():
        df = spark.read.parquet(out_dir)
        return sorted(r["event_id"] for r in df.select("event_id").collect())

    ids_before = read_ids()
    assert ids_before == sorted(list(range(30)) + list(range(12)))
    batch_dirs = sorted(os.listdir(out_dir))

    # crash simulation: the sink write for the newest batch survived, its
    # checkpoint commit did not
    commits_dir = os.path.join(ckpt, "commits")
    newest = max(
        (f for f in os.listdir(commits_dir) if not f.startswith(".")),
        key=int,
    )
    os.remove(os.path.join(commits_dir, newest))
    crc = os.path.join(commits_dir, f".{newest}.crc")
    if os.path.exists(crc):  # stale sidecar would read as a second writer
        os.remove(crc)

    query = pub.subscribe(
        src.stream(),
        consumer_df=idempotent_batch_sink(out_dir),
        checkpoint_dir=ckpt,
        drain=True,
    )
    assert query.awaitTermination(120)
    # the replayed batch overwrote its own directory: same rows, same
    # batch layout, no duplicates
    assert read_ids() == ids_before
    assert sorted(os.listdir(out_dir)) == batch_dirs


def test_progress_stats_reports_watermark_and_late_drops(spark, tmp_path):
    """The A9 introspection surface, widened: on a watermarked stateful
    plan, progress_stats must report the current watermark, state rows,
    and the count of rows dropped as too late — the lateness audit a
    Flink user reads from the watermark metric group. A first batch
    advances the watermark past minute 60; a second batch then publishes
    one row at minute 0, which the state operator must drop."""
    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))
    src.publish(_rows(60, start_minute=120))  # watermark -> ~119:59-10min
    out = stream_tumbling(src.stream(), watermark="10 minutes")
    query = (
        out.writeStream.format("memory")
        .queryName("t_late_audit")
        .outputMode("append")
        .start()
    )
    try:
        query.processAllAvailable()
        # one row far behind the watermark: dropped by the state operator
        src.publish(_rows(1, start_minute=0))
        query.processAllAvailable()
        # and one more batch so lastProgress reflects the drop batch
        stats = progress_stats(query)
        if stats["late_rows_dropped"] in (None, 0):
            src.publish(_rows(1, start_minute=130))
            query.processAllAvailable()
            stats = progress_stats(query)
    finally:
        query.stop()
    assert stats is not None
    assert stats["watermark"] is not None  # event-time plan exposes it
    assert stats["state_rows"] is not None and stats["state_rows"] > 0
    assert stats["late_rows_dropped"] is not None
    assert stats["late_rows_dropped"] >= 1  # the minute-0 straggler


def test_consumer_path_bounded_by_consumer_max_rows(spark, tmp_path):
    """The driver-collect `consumer` path must never pull an unbounded
    micro-batch onto the driver: a batch over ``consumer_max_rows``
    raises through the error channel (naming ``consumer_df`` as the
    scale path) and delivers nothing; a batch under the cap flows."""
    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))
    delivered: list[list] = []
    errors: list[Exception] = []
    pub = WindowedPublisher(
        window_max_batch_size=10,
        window_duration_seconds=0.5,
        consumer_max_rows=20,
    )
    query = pub.subscribe(
        src.stream(), consumer=delivered.append, on_error=errors.append
    )
    try:
        src.publish(_rows(25))  # one micro-batch, over the cap
        deadline = time.time() + 30
        while time.time() < deadline and not errors:
            query.processAllAvailable()
            time.sleep(0.2)
    finally:
        query.stop()
    assert errors and "consumer_max_rows" in str(errors[0])
    assert "consumer_df" in str(errors[0])
    assert not delivered  # the oversized batch was refused, not truncated

    # under the cap: normal chunked delivery
    src2 = FileStreamInput(spark, SCHEMA, str(tmp_path / "in2"))
    query2 = pub.subscribe(src2.stream(), consumer=delivered.append)
    try:
        src2.publish(_rows(15))
        deadline = time.time() + 30
        while time.time() < deadline and sum(map(len, delivered)) < 15:
            query2.processAllAvailable()
            time.sleep(0.2)
    finally:
        query2.stop()
    assert sum(len(c) for c in delivered) == 15
    assert all(len(c) <= 10 for c in delivered)

    import pytest

    with pytest.raises(ValueError):
        WindowedPublisher(consumer_max_rows=0)


def test_consumer_path_delivers_exactly_consumer_max_rows(spark, tmp_path):
    """Both sides of the driver-collect bound: a micro-batch of exactly
    ``consumer_max_rows`` rows is delivered whole, one row more raises
    through the error channel and delivers nothing."""
    pub = WindowedPublisher(window_max_batch_size=10, consumer_max_rows=20)
    for n, want_rows in ((20, 20), (21, 0)):
        src = FileStreamInput(spark, SCHEMA, str(tmp_path / f"in{n}"))
        src.publish(_rows(n))
        delivered: list[list] = []
        errors: list[Exception] = []
        query = pub.subscribe(
            src.stream(),
            consumer=delivered.append,
            on_error=errors.append,
            drain=True,
        )
        assert query.awaitTermination(60)
        assert sum(len(c) for c in delivered) == want_rows, n
        assert all(len(c) <= 10 for c in delivered)
        assert bool(errors) == (n > 20), (n, errors)
        if errors:
            assert "consumer_max_rows=20" in str(errors[0])
