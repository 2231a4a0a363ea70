"""Continuous frequent-items (sharded Misra-Gries) on a live stream:
candidate guarantee, lower-bound property, and bounded state under
high-cardinality churn."""

from __future__ import annotations

from _poll import poll
from _round import rhalf

from collections import Counter
from datetime import datetime, timezone

from reactor_window_like_flink_spark.streaming.frequent import (
    frequent_items_stateful,
)
from reactor_window_like_flink_spark.streaming.publisher import FileStreamInput

SCHEMA = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"
CAPACITY = 16
SHARDS = 4


def _rows(types, start=0):
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    return [(start + i, t0, 1, t, 1.0) for i, t in enumerate(types)]


def test_streaming_frequent_items_bounds_and_churn(spark, tmp_path):
    # stream: two heavy items drowned in 600 distinct churn items —
    # far beyond SHARDS * CAPACITY total counters.
    types = []
    for i in range(600):
        types.append(f"churn{i}")
        if i % 2 == 0:
            types.append("hot")
        if i % 4 == 0:
            types.append("warm")
    true = Counter(types)

    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))
    out = frequent_items_stateful(
        src.stream(), "event_type", n_shards=SHARDS, capacity=CAPACITY
    )
    query = (
        out.writeStream.format("memory")
        .queryName("t_freq")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        src.publish(_rows(types))
        rows = poll(
            lambda: (
                r
                if (r := spark.sql("SELECT * FROM t_freq").collect())
                and {x["item"] for x in r} >= {"hot", "warm"}
                else None
            )
        )
        assert rows, "sketch rows must appear in the memory sink"
        # latest emission per (shard, item): max n_seen wins
        latest = {}
        for r in rows:
            k = (r["shard"], r["item"])
            if k not in latest or r["n_seen"] > latest[k]["n_seen"]:
                latest[k] = r
        by_item = {r["item"]: r for r in latest.values()}

        # (1) candidate guarantee: the heavy items survive the churn
        assert "hot" in by_item and "warm" in by_item
        for name in ("hot", "warm"):
            r = by_item[name]
            # (2) MG counter is a lower bound within n_shard/(cap+1)
            assert r["lb_count"] <= true[name]
            assert r["lb_count"] >= true[name] - r["n_seen"] / (CAPACITY + 1)
        # (3) bounded state: no shard ever emits more than CAPACITY rows
        per_shard = Counter(k[0] for k in latest)
        assert all(c <= CAPACITY for c in per_shard.values())
        # (4) sharding is consistent: an item only ever appears on one shard
        shard_of = {}
        for r in rows:
            assert shard_of.setdefault(r["item"], r["shard"]) == r["shard"]
    finally:
        query.stop()


def test_streaming_frequent_items_state_survives_batches(spark, tmp_path):
    # counts must accumulate ACROSS micro-batches, not reset per batch
    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))
    out = frequent_items_stateful(
        src.stream(), "event_type", n_shards=2, capacity=8
    )
    query = (
        out.writeStream.format("memory")
        .queryName("t_freq2")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        src.publish(_rows(["a"] * 5))
        poll(lambda: spark.sql("SELECT * FROM t_freq2").collect() or None)
        src.publish(_rows(["a"] * 7, start=100))
        rows = poll(
            lambda: (
                r
                if (
                    r := spark.sql(
                        "SELECT * FROM t_freq2 WHERE item = 'a' AND lb_count = 12"
                    ).collect()
                )
                else None
            )
        )
        assert rows, "second batch must accumulate onto checkpointed state"
        assert rows[0]["lb_count"] == 12 and rows[0]["n_seen"] == 12
    finally:
        query.stop()


def test_streaming_frequent_items_null_items_never_merge_with_literal(
    spark, tmp_path
):
    """A NULL item is dropped before the stateful groupBy — the JSON
    state round-trip would otherwise coerce a None counter key to the
    string "null", merging real nulls with that literal token."""
    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))
    out = frequent_items_stateful(
        src.stream(), "event_type", n_shards=2, capacity=8
    )
    query = (
        out.writeStream.format("memory")
        .queryName("t_freq3")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # 3 literal "null" tokens, 5 genuine NULLs, 2 ordinary tokens —
        # across two batches so the state round-trips at least once.
        src.publish(_rows(["null", None, "x", None, "null"]))
        poll(lambda: spark.sql("SELECT * FROM t_freq3").collect() or None)
        src.publish(_rows([None, "null", None, "x", None], start=100))
        rows = poll(
            lambda: (
                r
                if (
                    r := spark.sql(
                        "SELECT * FROM t_freq3 WHERE item = 'null'"
                        " AND lb_count = 3"
                    ).collect()
                )
                else None
            )
        )
        assert rows, "literal 'null' must count exactly its own 3 tokens"
        all_rows = spark.sql("SELECT * FROM t_freq3").collect()
        # n_seen is per shard; latest-per-shard totals exclude the
        # dropped NULLs: 3 'null' + 2 'x' = 5 across all shards
        latest = {}
        for r in all_rows:
            if r["shard"] not in latest or r["n_seen"] > latest[r["shard"]]:
                latest[r["shard"]] = r["n_seen"]
        assert sum(latest.values()) == 5
        assert {r["item"] for r in all_rows} == {"null", "x"}
    finally:
        query.stop()


def test_streaming_quantiles_match_batch_histogram_inversion(
    spark, tmp_path
):
    """Continuous quantiles: after both batches, each key's latest
    emission equals the fixed-bin histogram inversion computed over ALL
    its values (state accumulates across batches), and out-of-range
    values clamp into the edge bins with n_clamped reporting them."""
    import numpy as np

    from reactor_window_like_flink_spark.streaming.quantiles import (
        continuous_quantiles,
    )

    lo, hi, n_bins = 0.0, 100.0, 64
    vals_a = [float(v) for v in (5, 12, 37, 41, 58, 63, 77, 90)]
    vals_b = [float(v) for v in (2, 33, 45, 66, 88, 99, 150.0)]  # 150 clamps

    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))
    out = continuous_quantiles(
        src.stream(), "event_type", "value", lo, hi, n_bins=n_bins
    )
    query = (
        out.writeStream.format("memory")
        .queryName("t_quant")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )

    def rows_of(vs, start):
        t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
        return [(start + i, t0, 1, "lat", v) for i, v in enumerate(vs)]

    try:
        src.publish(rows_of(vals_a, 0))
        poll(lambda: spark.sql("SELECT * FROM t_quant").collect() or None)
        src.publish(rows_of(vals_b, 100))
        n_total = len(vals_a) + len(vals_b)
        rows = poll(
            lambda: (
                r
                if (
                    r := spark.sql(
                        f"SELECT * FROM t_quant WHERE n_seen = {n_total}"
                    ).collect()
                )
                and len(r) >= 3
                else None
            )
        )
        assert rows, "second batch must accumulate onto state"
        got = {r["q"]: r for r in rows}

        # reference: same inversion over the full value set
        width = (hi - lo) / n_bins
        idx = np.clip(
            np.floor((np.array(vals_a + vals_b) - lo) / width).astype(int),
            0,
            n_bins - 1,
        )
        bins = np.bincount(idx, minlength=n_bins)
        cum = np.cumsum(bins)
        for q in (0.5, 0.95, 0.99):
            target = q * n_total
            b = int(np.searchsorted(cum, target, side="left"))
            before = int(cum[b - 1]) if b else 0
            want = rhalf(lo + width * (b + (target - before) / bins[b]), 4)
            assert got[q]["est"] == want, (q, got[q]["est"], want)
            assert got[q]["n_clamped"] == 1
    finally:
        query.stop()


def test_streaming_cms_replay_equals_batch_sketch_and_accumulates(
    spark, tmp_path
):
    """Continuous CMS: estimates after replaying a bounded stream equal
    the batch sketch probed the same way (same md5 bucket device), never
    undercount the true counts, and accumulate across micro-batches."""
    from reactor_window_like_flink_spark.streaming.cms import (
        cms_bucket,
        continuous_cms,
    )

    probes = ("view", "click", "rare")
    types_a = ["view"] * 6 + ["click"] * 3 + ["scroll"] * 4
    types_b = ["view"] * 2 + ["rare"] + ["scroll"] * 5

    src = FileStreamInput(spark, SCHEMA, str(tmp_path / "in"))
    out = continuous_cms(
        src.stream(), "user_id", "event_type", probes, depth=4, width=32
    )
    query = (
        out.writeStream.format("memory")
        .queryName("t_cms")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        src.publish(_rows(types_a, 0))
        poll(lambda: spark.sql("SELECT * FROM t_cms").collect() or None)
        src.publish(_rows(types_b, 100))
        n_total = len(types_a) + len(types_b)
        rows = poll(
            lambda: (
                r
                if (
                    r := spark.sql(
                        f"SELECT * FROM t_cms WHERE n_seen = {n_total}"
                    ).collect()
                )
                and len(r) >= len(probes)
                else None
            )
        )
        assert rows, "second batch must accumulate onto state"
        got = {r["item"]: r["cms_est"] for r in rows}

        # reference: batch-built sketch over ALL items, probed identically
        counters = [0] * (4 * 32)
        for item in types_a + types_b:
            for d in range(4):
                counters[d * 32 + cms_bucket(item, d, 32)] += 1
        exact = Counter(types_a + types_b)
        for p in probes:
            want = min(counters[d * 32 + cms_bucket(p, d, 32)] for d in range(4))
            assert got[p] == want          # replay == batch sketch
            assert got[p] >= exact[p]      # one-sided guarantee
    finally:
        query.stop()
