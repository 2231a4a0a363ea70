"""Stream-stream and stream-static joins.

The reference delivers every window to one subscriber callback
(``WindowPublisher.java:132-150``); correlating two live streams is out of
its vocabulary entirely. Spark's watermarked interval join is the upgrade:
each purchase is matched to the clicks of the same user within a trailing
10-minute window, streaming-native, with state bounded by the watermark
(rows outside ``watermark + interval`` are evicted, so state is O(rate x
window), not O(history)).

Batch and stream share ONE expression tree (``_interval_join``): the batch
form is verified against the DuckDB oracle, the streaming form adds only
watermarks — same plan shape, so the oracle check covers the join
semantics and the streaming test covers state/late-data behavior.

Scale notes: a stream-stream join shuffles both sides by the equi key
(user_id) — the range predicate rides along as a post-join filter on the
co-partitioned state store, never a cross product. The stream-static
variant broadcasts the static dim per micro-batch, re-read each trigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reactor_window_like_flink_spark.contract import Registry
from reactor_window_like_flink_spark.sources.tables import load
from reactor_window_like_flink_spark.streaming.eventtime import (
    NEG,
    finalize,
    wake,
)

REG = Registry()

JOIN_INTERVAL = "10 minutes"


def _interval_join(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """purchases x clicks of the same user with click in the trailing
    10-minute interval — shared by the batch key and the stream builder."""
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    return p.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {JOIN_INTERVAL}"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
    ).select(
        "purchase_id",
        "click_id",
        "user_id",
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")
        ).alias("gap_s"),
    )


@REG.add(
    "q_stream_stream_join",
    """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
           CAST(floor(epoch(p.ts)) - floor(epoch(c.ts)) AS BIGINT) AS gap_s
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 10 MINUTE
     AND c.ts <= p.ts
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click-to-purchase attribution join (batch form of the watermarked
    stream-stream interval join — identical expression tree)."""
    events = load(spark, sf_dir, "events")
    return _interval_join(
        events.filter(F.col("event_type") == "click"),
        events.filter(F.col("event_type") == "purchase"),
    )


def stream_interval_join(
    click_stream: DataFrame,
    purchase_stream: DataFrame,
    watermark: str = "20 minutes",
) -> DataFrame:
    """Streaming click/purchase attribution. Both sides are watermarked so
    the state store evicts clicks older than ``watermark + interval`` and
    purchases older than ``watermark`` — bounded state at any rate."""
    return _interval_join(
        click_stream.withWatermark("ts", watermark),
        purchase_stream.withWatermark("ts", watermark),
    )


def stream_static_join(
    event_stream: DataFrame, dim: DataFrame, on: str = "user_id"
) -> DataFrame:
    """Stream-static enrichment join: the static side is joined per
    micro-batch (re-planned each trigger, broadcast when small). No state
    store involved — the static side is the source of truth every batch."""
    return event_stream.join(F.broadcast(dim), on, "left")


TEMPORAL_OUTPUT_SCHEMA = (
    "probe_id long, key long, probe_ts timestamp, "
    "version_ts timestamp, payload double"
)
TEMPORAL_STATE_SCHEMA = "version_us long, payload double"
# Event-time-exact mode: per-key buffers bounded by the watermark delay.
TEMPORAL_ET_STATE_SCHEMA = (
    "frontier_us long, base_vus long, base_payload double, "
    "buf_vus array<long>, buf_vpay array<double>, "
    "buf_pid array<long>, buf_pus array<long>"
)


def temporal_join(
    probe_stream: DataFrame,
    version_stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    probe_id_col: str = "event_id",
    payload_col: str = "value",
    emit: str = "left",
    idle_state_ttl_seconds: float | None = None,
) -> DataFrame:
    """Temporal table join (Flink's ``FOR SYSTEM_TIME AS OF`` /
    versioned-dim enrichment): each probe row is enriched with the version
    row of the same key whose ``ts`` is the latest at-or-before the
    probe's ``ts`` — the dim is a *changelog*, not a snapshot, which is
    what distinguishes this from ``stream_static_join``.

    Spark has no native temporal join; this is a custom stateful operator:
    both streams union into one keyed stream (tagged rows), and an
    ``applyInPandasWithState`` per key holds exactly ONE state row — the
    latest version seen (O(1) state per key; compare the interval join's
    O(rate x window) buffers). Within each micro-batch rows apply in
    event-time order with versions-before-probes at ts ties (inclusive
    AS OF), so replays and in-order sources get exact event-time
    semantics; across out-of-order micro-batches the match degrades to
    Flink's processing-time temporal join ("latest version so far") —
    the honest trade for unbuffered O(1) state, and the reference point
    is the reference engine itself, which disclaims event-time ordering
    outright (``README.md:99``).

    ``emit``: ``"left"`` (default) emits probes arriving before any
    version with NULL version columns (preserves the probe for downstream
    counting); ``"inner"`` emits nothing for them — Flink
    ``FOR SYSTEM_TIME AS OF`` parity, matching the flag on the
    event-time-exact twin ``temporal_join_event_time``.

    Scale: one keyed shuffle of both streams; per-key state is two
    scalars in the state store regardless of history length. That cost
    still grows with LIFETIME key cardinality — for unbounded key spaces
    pass ``idle_state_ttl_seconds``: a key receiving no traffic for that
    long is evicted (probes arriving after eviction re-match as
    unversioned until the next version row — the same documented trade as
    ``count_or_time_stateful``'s TTL).
    """
    import pandas as pd

    if emit not in ("left", "inner"):
        raise ValueError(f"emit must be 'left' or 'inner', got {emit!r}")

    probes = probe_stream.select(
        F.col(key_col).alias("key"),
        F.col(ts_col).alias("ts"),
        F.col(probe_id_col).alias("probe_id"),
        F.lit(None).cast("double").alias("payload"),
        F.lit(0).alias("is_version"),
    )
    versions = version_stream.select(
        F.col(key_col).alias("key"),
        F.col(ts_col).alias("ts"),
        F.lit(None).cast("long").alias("probe_id"),
        F.col(payload_col).cast("double").alias("payload"),
        F.lit(1).alias("is_version"),
    )
    tagged = probes.unionByName(versions)

    ttl_ms = (
        None
        if idle_state_ttl_seconds is None
        else max(1, int(idle_state_ttl_seconds * 1000))
    )

    def enrich(key, pdfs, state):
        if state.hasTimedOut:
            # idle TTL expired: evict the key's version
            state.remove()
            return
        if state.exists:
            version_us, payload = state.get
        else:
            version_us, payload = -1, None
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            return
        batch = pd.concat(chunks, ignore_index=True)
        # normalize to ns (Arrow may hand datetime64[us]); sort: event
        # time, versions before probes at ties (inclusive AS OF)
        batch["ts_ns"] = batch["ts"].astype("datetime64[ns]").astype("int64")
        batch = batch.sort_values(
            ["ts_ns", "is_version"], ascending=[True, False], kind="mergesort"
        )
        out = []
        for row in batch.itertuples(index=False):
            if row.is_version:
                version_us, payload = row.ts_ns // 1000, float(row.payload)
            else:
                if version_us < 0 and emit == "inner":
                    continue  # Flink AS-OF: no version yet -> no row
                out.append(
                    (
                        int(row.probe_id),
                        key[0],
                        row.ts_ns,
                        None if version_us < 0 else version_us * 1000,
                        payload,
                    )
                )
        # never materialize a "(no version)" state row for probe-only
        # keys — absence already encodes it, and writing one would grow
        # the store with TOTAL key cardinality, not versioned keys
        if version_us >= 0 or state.exists:
            state.update((version_us, payload))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
        if out:
            res = pd.DataFrame(
                out,
                columns=["probe_id", "key", "probe_ts", "version_ts", "payload"],
            )
            # to_datetime, not astype: version_ts may hold None (NaT)
            res["probe_ts"] = pd.to_datetime(res["probe_ts"], unit="ns")
            res["version_ts"] = pd.to_datetime(res["version_ts"], unit="ns")
            yield res

    return tagged.groupBy("key").applyInPandasWithState(
        enrich,
        outputStructType=TEMPORAL_OUTPUT_SCHEMA,
        stateStructType=TEMPORAL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            "NoTimeout" if ttl_ms is None else "ProcessingTimeTimeout"
        ),
    )


def temporal_join_event_time(
    probe_stream: DataFrame,
    version_stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    probe_id_col: str = "event_id",
    payload_col: str = "value",
    watermark_delay: str = "10 minutes",
    emit: str = "left",
    idle_state_ttl_seconds: float | None = None,
) -> DataFrame:
    """Event-time-EXACT temporal table join (Flink's versioned
    ``FOR SYSTEM_TIME AS OF``), correct under out-of-order micro-batches —
    the upgrade over ``temporal_join``'s processing-time fallback.

    Both tagged streams are watermarked; per key the state buffers BOTH
    unmatched probes and versions newer than the frontier. A probe is
    finalized only once the watermark passes its event time (the rule the
    CEP matchers share, ``eventtime.finalize``) — by then
    every version at-or-before it has arrived (watermark contract), so the
    emitted binding equals the batch as-of oracle regardless of how rows
    were scattered across micro-batches. Versions the watermark has passed
    are compacted to ONE base row (the latest at-or-before the frontier:
    the only one any future probe can still bind to), so state per key is
    O(rows inside the watermark delay) + 1 — bounded by rate x delay, the
    same bound as Spark's own stream-stream interval join, and the price
    of exactness over the O(1) processing-time mode.

    Rows older than the emitted frontier are dropped (late data, same
    policy as Flink past-watermark discard). Idle keys flush via
    ``EventTimeTimeout`` set to the oldest buffered probe, so emission
    needs no same-key traffic — any watermark advance triggers it.

    ``emit``: ``"left"`` emits NULL version columns for probes with no
    version at-or-before them (keeps the probe for downstream counting);
    ``"inner"`` emits nothing for them — Flink event-time temporal-join
    parity (the round-4 advisor's divergence note, now a mode flag).

    ``idle_state_ttl_seconds`` bounds state for unbounded key spaces, in
    EVENT time (deterministic — no wall-clock races): once a key's
    buffers are empty and its base version sits more than the TTL behind
    the watermark, the whole state row is evicted (probes after that
    re-match as unversioned until a new version arrives — the same
    documented trade as ``temporal_join``'s processing-time TTL). Without
    it, per-key cost after compaction is one state row forever — the base
    version, or just the late-drop frontier for probe-only keys —
    O(lifetime key cardinality), fine for bounded dims.

    The reference engine disclaims event-time ordering outright
    (``README.md:99``); this operator completes the declared upgrade.
    """
    import numpy as np
    import pandas as pd

    if emit not in ("left", "inner"):
        raise ValueError(f"emit must be 'left' or 'inner', got {emit!r}")

    probes = probe_stream.select(
        F.col(key_col).alias("key"),
        F.col(ts_col).alias("ts"),
        F.col(probe_id_col).alias("probe_id"),
        F.lit(None).cast("double").alias("payload"),
        F.lit(0).alias("is_version"),
    ).withWatermark("ts", watermark_delay)
    versions = version_stream.select(
        F.col(key_col).alias("key"),
        F.col(ts_col).alias("ts"),
        F.lit(None).cast("long").alias("probe_id"),
        F.col(payload_col).cast("double").alias("payload"),
        F.lit(1).alias("is_version"),
    ).withWatermark("ts", watermark_delay)
    tagged = probes.unionByName(versions)

    ttl_us = (
        None
        if idle_state_ttl_seconds is None
        else max(1, int(idle_state_ttl_seconds * 1_000_000))
    )

    def enrich(key, pdfs, state):
        if state.exists:
            (frontier, base_vus, base_pay,
             bvus, bvpay, bpid, bpus) = state.get
            bvus, bvpay = list(bvus), list(bvpay)
            probes = (list(bpus), list(bpid))
        else:
            frontier, base_vus, base_pay = NEG, NEG, None
            bvus, bvpay, probes = [], [], ([], [])
        for pdf in pdfs:  # empty iterator on timeout-only invocations
            if not len(pdf):
                continue
            ts_us = (
                pdf["ts"].astype("datetime64[ns]").astype("int64") // 1000
            )
            for row_ts, row_pid, row_pay, row_isv in zip(
                ts_us, pdf["probe_id"], pdf["payload"], pdf["is_version"]
            ):
                if row_ts < frontier:
                    continue  # late: the frontier already emitted past it
                if row_isv:
                    bvus.append(int(row_ts))
                    bvpay.append(float(row_pay))
                else:
                    probes[0].append(int(row_ts))
                    probes[1].append(int(row_pid))
        v_us = np.asarray(bvus, dtype="int64")
        v_pay = np.asarray(bvpay, dtype="float64")
        vo = np.argsort(v_us, kind="stable")
        v_us, v_pay = v_us[vo], v_pay[vo]
        # the watermark passed these probes: their binding is final
        wm_us, frontier, ready, probes = finalize(state, frontier, probes)
        rows = []
        # latest buffered version at-or-before each probe (side="right"
        # makes a tie-version bind: inclusive AS OF)
        idx = np.searchsorted(v_us, ready[0], side="right") - 1
        for pus_i, pid_i, vi in zip(*ready, idx):
            if vi >= 0:
                rows.append((pid_i, pus_i, int(v_us[vi]), float(v_pay[vi])))
            elif base_vus > NEG:
                rows.append((pid_i, pus_i, int(base_vus), base_pay))
            elif emit == "left":
                rows.append((pid_i, pus_i, None, None))
        if wm_us > 0:
            # compact: versions the watermark passed collapse to one base
            # row — the only one a future (>= wm) probe can still bind to
            cut = int(np.searchsorted(v_us, wm_us, side="right"))
            if cut > 0:
                base_vus = int(v_us[cut - 1])
                base_pay = float(v_pay[cut - 1])
                v_us, v_pay = v_us[cut:], v_pay[cut:]
        evict = (
            ttl_us is not None
            and wm_us > 0
            and not probes[0]
            and not len(v_us)
            and (base_vus == NEG or wm_us - base_vus > ttl_us)
        )
        if evict:
            state.remove()  # idle past the event-time TTL: whole row goes
        else:
            state.update(
                (
                    frontier,
                    base_vus,
                    base_pay,
                    v_us.tolist(),
                    v_pay.tolist(),
                    probes[1],
                    probes[0],
                )
            )
            if probes[0]:
                # wake when the watermark passes the oldest buffered probe
                wake(state, wm_us, *probes[0])
            elif ttl_us is not None:
                if len(v_us):
                    # keep compaction progressing toward evictability
                    wake(state, wm_us, int(v_us.min()))
                else:
                    # wake at the eviction due time
                    anchor = base_vus if base_vus > NEG else max(frontier, 0)
                    wake(state, wm_us, anchor + ttl_us)
        if rows:
            out = pd.DataFrame(
                rows, columns=["probe_id", "probe_us", "version_us", "payload"]
            )
            yield pd.DataFrame(
                {
                    "probe_id": out["probe_id"],
                    "key": key[0],
                    "probe_ts": pd.to_datetime(out["probe_us"], unit="us"),
                    "version_ts": pd.to_datetime(out["version_us"], unit="us"),
                    "payload": out["payload"],
                }
            )

    return tagged.groupBy("key").applyInPandasWithState(
        enrich,
        outputStructType=TEMPORAL_OUTPUT_SCHEMA,
        stateStructType=TEMPORAL_ET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )
