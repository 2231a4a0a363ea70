"""Stream-stream interval join and stream-static enrichment: streaming
results equal the shared batch expression tree on the same rows."""

from __future__ import annotations

from _poll import poll

from datetime import datetime, timezone

from reactor_window_like_flink_spark.streaming.joins import (
    _interval_join,
    stream_interval_join,
    stream_static_join,
)
from reactor_window_like_flink_spark.streaming.publisher import FileStreamInput

SCHEMA = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"


def _ts(minute: int, second: int = 0):
    return datetime(2024, 1, 1, 10, minute, second, tzinfo=timezone.utc)


def _clicks():
    # user 1: clicks at 10:00 and 10:04; user 2: click at 10:00
    return [
        (1, _ts(0), 1, "click", 1.0),
        (2, _ts(4), 1, "click", 2.0),
        (3, _ts(0), 2, "click", 3.0),
        (4, _ts(30), 3, "click", 4.0),  # no purchase within window
    ]


def _purchases():
    # user 1 purchase at 10:05 matches both clicks; user 2 purchase at
    # 10:15 is outside the 10-minute interval from the 10:00 click
    return [
        (10, _ts(5), 1, "purchase", 9.0),
        (11, _ts(15), 2, "purchase", 9.0),
    ]


def test_stream_interval_join_matches_batch(spark, tmp_path):
    clicks = FileStreamInput(spark, SCHEMA, str(tmp_path / "clicks"))
    purchases = FileStreamInput(spark, SCHEMA, str(tmp_path / "purchases"))
    clicks.publish(_clicks())
    purchases.publish(_purchases())
    out = stream_interval_join(clicks.stream(), purchases.stream())
    query = (
        out.writeStream.format("memory")
        .queryName("t_sj")
        .outputMode("append")
        .start()
    )
    try:
        query.processAllAvailable()
        got = {
            (r["purchase_id"], r["click_id"], r["gap_s"])
            for r in spark.sql("SELECT * FROM t_sj").collect()
        }
    finally:
        query.stop()
    want = {
        (r["purchase_id"], r["click_id"], r["gap_s"])
        for r in _interval_join(
            spark.createDataFrame(_clicks(), SCHEMA),
            spark.createDataFrame(_purchases(), SCHEMA),
        ).collect()
    }
    assert got == want
    # exactly the two user-1 attributions: purchase 10 <- clicks 1 and 2
    assert got == {(10, 1, 300), (10, 2, 60)}


def test_temporal_join_enriches_with_version_as_of_event_time(spark, tmp_path):
    """Versioned-dim enrichment: each probe gets the latest version at or
    before its event time; ties apply version-first (inclusive AS OF);
    probes before any version emit NULL; versions arriving in a LATER
    micro-batch only affect later probes (processing-time degradation,
    documented). State stays one row per key."""
    from reactor_window_like_flink_spark.streaming.joins import temporal_join

    probes = FileStreamInput(spark, SCHEMA, str(tmp_path / "probes"))
    versions = FileStreamInput(spark, SCHEMA, str(tmp_path / "vers"))
    # batch 1 — user 1: versions at 10:00 (v=1.0) and 10:10 (v=2.0);
    # probes at 09:55 (before any), 10:00 (tie -> 1.0), 10:05 (-> 1.0),
    # 10:10 (tie -> 2.0); user 2: probe with no versions ever
    versions.publish(
        [(100, _ts(0), 1, "v", 1.0), (101, _ts(10), 1, "v", 2.0)]
    )
    probes.publish(
        [
            (1, datetime(2024, 1, 1, 9, 55, tzinfo=timezone.utc), 1, "p", 0.0),
            (2, _ts(0), 1, "p", 0.0),
            (3, _ts(5), 1, "p", 0.0),
            (4, _ts(10), 1, "p", 0.0),
            (5, _ts(0), 2, "p", 0.0),
        ]
    )
    out = temporal_join(probes.stream(), versions.stream())
    query = (
        out.writeStream.format("memory")
        .queryName("t_tj")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        query.processAllAvailable()
        # batch 2 — state carries across batches: user-1 probe at 10:20
        # must match the 10:10 version from batch 1; a late version at
        # 10:02 then a probe at 10:03 in batch 3 shows the documented
        # processing-time semantics (late version wins for NEW probes)
        probes.publish([(6, _ts(20), 1, "p", 0.0)])
        query.processAllAvailable()
        versions.publish([(102, _ts(2), 1, "v", 9.0)])
        probes.publish([(7, _ts(3), 1, "p", 0.0)])
        query.processAllAvailable()
        got = {
            r["probe_id"]: (r["payload"], r["version_ts"])
            for r in spark.sql("SELECT * FROM t_tj").collect()
        }
    finally:
        query.stop()
    naive = lambda m: _ts(m).replace(tzinfo=None)  # noqa: E731
    assert got[1] == (None, None)  # before any version
    assert got[2] == (1.0, naive(0))  # tie: version applies first
    assert got[3] == (1.0, naive(0))
    assert got[4] == (2.0, naive(10))  # tie at the 10:10 upgrade
    assert got[5] == (None, None)  # key with no versions
    assert got[6] == (2.0, naive(10))  # state carried across batches
    assert got[7] == (9.0, naive(2))  # late version, new probe: latest-seen


def test_temporal_join_inner_emit_withholds_unversioned(spark, tmp_path):
    """emit="inner" on the processing-time temporal join: probes with no
    version at-or-before them emit NOTHING (Flink FOR SYSTEM_TIME AS OF
    parity), and on in-order input the result set equals the event-time
    twin's emit="inner" on the same files."""
    from reactor_window_like_flink_spark.streaming.joins import (
        temporal_join,
        temporal_join_event_time,
    )

    probes = FileStreamInput(spark, SCHEMA, str(tmp_path / "probes"))
    versions = FileStreamInput(spark, SCHEMA, str(tmp_path / "vers"))
    # in-order single batch: u1 version @10:00; u1 probes @09:55
    # (unversioned), @10:05 (bound); u2 probe @10:00 (no versions ever)
    versions.publish([(100, _ts(0), 1, "v", 1.0)])
    probes.publish(
        [
            (1, datetime(2024, 1, 1, 9, 55, tzinfo=timezone.utc), 1, "p", 0.0),
            (2, _ts(5), 1, "p", 0.0),
            (3, _ts(0), 2, "p", 0.0),
        ]
    )

    def run(out, name, ckpt):
        query = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / ckpt))
            .start()
        )
        try:
            query.processAllAvailable()
            return {
                r["probe_id"]: (r["payload"], r["version_ts"])
                for r in spark.sql(f"SELECT * FROM {name}").collect()
            }
        finally:
            query.stop()

    got = run(
        temporal_join(probes.stream(), versions.stream(), emit="inner"),
        "t_tj_inner",
        "ckpt_pt",
    )
    naive = _ts(0).replace(tzinfo=None)
    assert got == {2: (1.0, naive)}  # probes 1 and 3 withheld
    # sentinels push the watermark past probe 2 so the buffered twin flushes
    noon = datetime(2024, 1, 1, 12, 0, tzinfo=timezone.utc)
    versions.publish([(999, noon, 99, "v", 0.0)])
    probes.publish([(998, noon, 99, "p", 0.0)])
    got_et = run(
        temporal_join_event_time(
            probes.stream(),
            versions.stream(),
            watermark_delay="30 minutes",
            emit="inner",
        ),
        "t_tjet_inner_parity",
        "ckpt_et",
    )
    assert got_et == got  # in-order input: the two modes agree

    import pytest

    with pytest.raises(ValueError, match="emit"):
        temporal_join(probes.stream(), versions.stream(), emit="full")


def test_temporal_join_idle_ttl_evicts_version(spark, tmp_path):
    """With idle_state_ttl_seconds set, a key idle past the TTL loses its
    version state: later probes re-match as unversioned (NULL) until a
    new version arrives — bounded state for unbounded key spaces."""
    import time

    from reactor_window_like_flink_spark.streaming.joins import temporal_join

    probes = FileStreamInput(spark, SCHEMA, str(tmp_path / "probes"))
    versions = FileStreamInput(spark, SCHEMA, str(tmp_path / "vers"))
    # publish before starting: both files land in the first micro-batch,
    # where in-batch event-time order applies the version first (separate
    # source listings give no cross-source ordering guarantee otherwise)
    versions.publish([(100, _ts(0), 1, "v", 1.0)])
    probes.publish([(1, _ts(1), 1, "p", 0.0)])
    out = temporal_join(
        probes.stream(), versions.stream(), idle_state_ttl_seconds=2.0
    )
    query = (
        out.writeStream.format("memory")
        .queryName("t_tjttl")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )

    def _got():
        return {
            r["probe_id"]: r["payload"]
            for r in spark.sql("SELECT * FROM t_tjttl").collect()
        }

    try:
        got = poll(lambda: 1 in _got() and _got())
        assert got[1] == 1.0  # version live before the TTL
        time.sleep(4.0)  # idle past the 2 s TTL; timeout fires on a
        # no-data batch the scheduler keeps planning
        probes.publish([(2, _ts(5), 1, "p", 0.0)])
        got = poll(lambda: 2 in _got() and _got())
        assert got[2] is None  # state evicted: probe re-matches unversioned
    finally:
        query.stop()


def test_temporal_join_event_time_exact_under_out_of_order(spark, tmp_path):
    """The buffered event-time mode matches the batch as-of oracle even
    when rows are scattered across micro-batches in SHUFFLED order —
    including a version that arrives in a LATER micro-batch than a probe
    it must bind to (exactly the case where the O(1) processing-time mode
    degrades to latest-seen). Past-watermark rows are dropped, and
    emit="inner" withholds unversioned probes (Flink parity)."""
    from reactor_window_like_flink_spark.streaming.joins import (
        temporal_join_event_time,
    )

    probes = FileStreamInput(spark, SCHEMA, str(tmp_path / "probes"))
    versions = FileStreamInput(spark, SCHEMA, str(tmp_path / "vers"))
    out = temporal_join_event_time(
        probes.stream(), versions.stream(), watermark_delay="30 minutes"
    )
    query = (
        out.writeStream.format("memory")
        .queryName("t_tjet")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    naive = lambda m: _ts(m).replace(tzinfo=None)  # noqa: E731
    try:
        # micro-batch 1 holds the LATEST rows (future-first disorder):
        # probe 4 @10:11 and probe 5 @10:25 arrive before the versions
        # they must bind to (v@10:10, v@10:20) even exist on the wire.
        versions.publish([(101, _ts(10), 1, "v", 2.0)])
        probes.publish([(4, _ts(11), 1, "p", 0.0), (5, _ts(25), 1, "p", 0.0)])
        query.processAllAvailable()
        # micro-batch 2 back-fills the EARLIER rows (within the 30 min
        # delay, so none are late): u1 v@10:00 and v@10:20, u2 v@10:05;
        # u1 probes @10:01, @10:10 (tie); u2 probes @10:04 (pre-version),
        # @10:06.
        versions.publish(
            [
                (100, _ts(0), 1, "v", 1.0),
                (102, _ts(20), 1, "v", 3.0),
                (103, _ts(5), 2, "v", 9.0),
            ]
        )
        probes.publish(
            [
                (1, _ts(1), 1, "p", 0.0),
                (3, _ts(10), 1, "p", 0.0),
                (6, _ts(4), 2, "p", 0.0),
                (7, _ts(6), 2, "p", 0.0),
            ]
        )
        query.processAllAvailable()
        # micro-batch 3: one more in-window probe plus far-future
        # sentinels on BOTH streams (the global watermark is the MIN
        # across watermarked sources) advancing it to 11:30 — past every
        # real probe, so the no-data batch flushes all buffered bindings
        # via EventTimeTimeout. The sentinel probe itself stays buffered
        # (its ts equals the max event time, always ahead of the
        # watermark) and never emits.
        probes.publish([(2, _ts(9), 1, "p", 0.0)])
        noon = datetime(2024, 1, 1, 12, 0, tzinfo=timezone.utc)
        versions.publish([(999, noon, 99, "v", 0.0)])
        probes.publish([(998, noon, 99, "p", 0.0)])
        query.processAllAvailable()
        got = {
            r["probe_id"]: (r["payload"], r["version_ts"])
            for r in spark.sql("SELECT * FROM t_tjet").collect()
        }
        # as-of oracle, disorder-independent:
        assert got == {
            1: (1.0, naive(0)),
            2: (1.0, naive(0)),
            3: (2.0, naive(10)),  # tie: inclusive AS OF
            4: (2.0, naive(10)),
            5: (3.0, naive(20)),  # version arrived a batch AFTER the probe
            6: (None, None),  # before any u2 version (left emit)
            7: (9.0, naive(5)),
        }
        # late probe: @10:07 is far behind the 11:30 frontier -> dropped
        probes.publish([(8, _ts(7), 1, "p", 0.0)])
        query.processAllAvailable()
        ids = {
            r["probe_id"] for r in spark.sql("SELECT * FROM t_tjet").collect()
        }
        assert 8 not in ids
    finally:
        query.stop()
    # emit="inner": same files replayed by a fresh query (all in ONE
    # initial micro-batch — no maxFilesPerTrigger). Unversioned probe 6
    # is withheld. Probe 8, late in the LIVE run, is admitted here:
    # lateness is a property of arrival order vs the watermark, not of
    # the data — replayed in-window it binds exactly per the as-of
    # oracle (v@10:00).
    out_inner = temporal_join_event_time(
        probes.stream(),
        versions.stream(),
        watermark_delay="30 minutes",
        emit="inner",
    )
    query = (
        out_inner.writeStream.format("memory")
        .queryName("t_tjet_inner")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_inner"))
        .start()
    )
    try:
        query.processAllAvailable()
        inner = {
            r["probe_id"]: (r["payload"], r["version_ts"])
            for r in spark.sql("SELECT * FROM t_tjet_inner").collect()
        }
        assert 6 not in inner
        assert inner[5] == (3.0, naive(20))
        assert inner[8] == (1.0, naive(0))
        assert set(inner) == {1, 2, 3, 4, 5, 7, 8}
    finally:
        query.stop()


def test_stream_static_join_enriches_every_event(spark, tmp_path):
    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "ev"))
    src.publish(_clicks())
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, tier string"
    )
    out = stream_static_join(src.stream(), dim)
    query = (
        out.writeStream.format("memory")
        .queryName("t_ssj")
        .outputMode("append")
        .start()
    )
    try:
        query.processAllAvailable()
        rows = spark.sql("SELECT event_id, tier FROM t_ssj").collect()
    finally:
        query.stop()
    tiers = {r["event_id"]: r["tier"] for r in rows}
    # left join: every event survives; unknown users get NULL tier
    assert tiers == {1: "gold", 2: "gold", 3: "silver", 4: None}


def test_temporal_join_event_time_state_survives_restart(spark, tmp_path):
    """The buffered mode's array-valued state (probe/version buffers)
    must round-trip through the state store across a query restart: a
    version buffered before the stop binds a probe finalized after it."""
    from reactor_window_like_flink_spark.streaming.joins import (
        temporal_join_event_time,
    )

    probes = FileStreamInput(spark, SCHEMA, str(tmp_path / "probes"))
    versions = FileStreamInput(spark, SCHEMA, str(tmp_path / "vers"))
    rows: list = []

    def start():
        # foreachBatch sink: the memory sink refuses checkpoint recovery
        out = temporal_join_event_time(
            probes.stream(), versions.stream(), watermark_delay="30 minutes"
        )
        return (
            out.writeStream.foreachBatch(
                lambda df, bid: rows.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )

    query = start()
    try:
        versions.publish([(100, _ts(0), 1, "v", 1.0)])
        probes.publish([(1, _ts(5), 1, "p", 0.0)])
        query.processAllAvailable()
    finally:
        query.stop()
    assert rows == []  # nothing emitted yet: watermark never passed the probe
    query = start()
    try:
        versions.publish([(101, _ts(10), 1, "v", 2.0)])
        probes.publish([(2, _ts(15), 1, "p", 0.0)])
        query.processAllAvailable()
        noon = datetime(2024, 1, 1, 12, 0, tzinfo=timezone.utc)
        versions.publish([(999, noon, 99, "v", 0.0)])
        probes.publish([(998, noon, 99, "p", 0.0)])
        query.processAllAvailable()
        got = {
            r["probe_id"]: (r["payload"], r["version_ts"]) for r in rows
        }
    finally:
        query.stop()
    naive = lambda m: _ts(m).replace(tzinfo=None)  # noqa: E731
    assert got == {
        1: (1.0, naive(0)),  # bound from state buffered BEFORE the stop
        2: (2.0, naive(10)),
    }


def test_temporal_join_event_time_idle_ttl_evicts_in_event_time(
    spark, tmp_path
):
    """With idle_state_ttl_seconds, a key whose base version falls more
    than the TTL behind the watermark loses its whole state row — a later
    probe re-matches as unversioned. Deterministic: eviction is driven by
    the event-time watermark, no wall-clock sleeps."""
    from datetime import timedelta

    from reactor_window_like_flink_spark.streaming.joins import (
        temporal_join_event_time,
    )

    probes = FileStreamInput(spark, SCHEMA, str(tmp_path / "probes"))
    versions = FileStreamInput(spark, SCHEMA, str(tmp_path / "vers"))
    out = temporal_join_event_time(
        probes.stream(),
        versions.stream(),
        watermark_delay="30 minutes",
        idle_state_ttl_seconds=3600.0,  # 1 h of EVENT time
    )
    query = (
        out.writeStream.format("memory")
        .queryName("t_tjet_ttl")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )

    def at(hours, minutes=0):
        return datetime(2024, 1, 1, 10, 0, tzinfo=timezone.utc) + timedelta(
            hours=hours, minutes=minutes
        )

    try:
        versions.publish([(100, at(0), 1, "v", 1.0)])
        probes.publish([(1, at(0, 5), 1, "p", 0.0)])
        query.processAllAvailable()
        # sentinels at 13:00 -> watermark 12:30: probe 1 flushes bound to
        # the version; the base then sits 2.5 h > 1 h TTL behind -> evicted
        versions.publish([(901, at(3), 99, "v", 0.0)])
        probes.publish([(902, at(3), 99, "p", 0.0)])
        query.processAllAvailable()
        # a probe after eviction re-matches as unversioned, even though
        # without the TTL the 10:00 version would still be the base
        probes.publish([(2, at(2, 40), 1, "p", 0.0)])
        versions.publish([(903, at(4), 99, "v", 0.0)])
        probes.publish([(904, at(4), 99, "p", 0.0)])
        query.processAllAvailable()
        got = {
            r["probe_id"]: r["payload"]
            for r in spark.sql("SELECT * FROM t_tjet_ttl").collect()
        }
    finally:
        query.stop()
    assert got[1] == 1.0  # bound while the version was live
    assert got[2] is None  # state evicted in event time
