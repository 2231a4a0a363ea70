"""Windowed aggregation surface — the reference's core semantics
(``WindowPublisher.java:70-72``: hybrid count-or-time tumbling windows,
empty windows suppressed) realized as Spark event-time windows, plus the
sliding/session variants the Flink vocabulary implies.

Each query key has a batch form (verified against the DuckDB oracle — the
event-time analog is deterministic, unlike the reference's processing-time
clock, ``README.md:99``) and a streaming form. Both call one definition
per window kind, so the oracle check covers the streaming semantics for
everything except trigger timing: ``_tumbling``, ``_sliding`` and
``_session`` (the ``q_*_window`` keys and ``stream_*``), and the flush
rule ``_count_or_time_fold`` (``count_or_time_replay`` and
``stateful.count_or_time_stateful``). Dedup is the exception:
``stream_dedup``'s ``dropDuplicatesWithinWatermark`` has no batch twin,
so ``q_stateful_dedup`` computes its deterministic analog on its own.

Upgrade over the reference: watermarks (the reference explicitly has none,
``README.md:99``) bound state and drop late data deterministically.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from reactor_window_like_flink_spark.contract import Registry, round_to
from reactor_window_like_flink_spark.sources.tables import load

REG = Registry()


def _counted(df: DataFrame, window: Column, key: str, *out: Column | str) -> DataFrame:
    """``out`` then ``n_events`` and ``sum_value`` per (``window``, ``key``).
    groupBy(window) emits nothing for empty buckets — the reference's
    ``filter(!it.isEmpty())`` (``WindowPublisher.java:72``) is structural
    in Spark."""
    return (
        df.groupBy(window, key)
        .agg(
            F.count("*").alias("n_events"),
            round_to(F.sum("value"), 2).alias("sum_value"),
        )
        .select(*out, "n_events", "sum_value")
    )


def _tumbling(df: DataFrame) -> DataFrame:
    """Shared expression tree for batch + streaming 5-minute tumbling
    windows."""
    w = F.window("ts", "5 minutes").alias("w")
    start = F.unix_timestamp("w.start").alias("window_start")
    return _counted(df, w, "event_type", start, "event_type")


def _sliding(df: DataFrame) -> DataFrame:
    """Shared expression tree for batch + streaming 10-minute windows
    sliding every 5: each event lands in exactly size/slide = 2 windows."""
    w = F.window("ts", "10 minutes", "5 minutes").alias("w")
    start = F.unix_timestamp("w.start").alias("window_start")
    return _counted(df, w, "event_type", start, "event_type")


def _session(df: DataFrame) -> DataFrame:
    """Shared expression tree for batch + streaming per-user sessions with
    a 5-minute inactivity gap."""
    sw = F.session_window("ts", "5 minutes").alias("sw")
    start = F.unix_timestamp("sw.start").alias("session_start")
    end = F.unix_timestamp("sw.end").alias("session_end")
    return _counted(df, sw, "user_id", "user_id", start, end)


def _count_or_time_fold(
    state: tuple, times: Iterable, values: Iterable, max_size: int, duration: float
) -> tuple[list[tuple], tuple]:
    """The hybrid count-or-time flush (``WindowPublisher.java:70-72``) as
    one pure fold over arrivals. ``state`` is ``(seq, n, total, opened)``
    (``n == 0``: no batch open). Per arrival ``(t, v)``: an open batch
    with ``t >= opened + duration`` closes as ``timeout`` first (the
    arrival belongs to the next batch); a batch opens at ``t`` if none is
    open and ``v`` is added; a batch with ``n >= max_size`` closes as
    ``size``. Returns the closed batches ``(seq, n, opened,
    round(total, 2), reason)`` and the new state, which keeps an open
    remainder. ``times`` and ``duration`` share one unit.
    """
    seq, n, total, opened = state
    closed = []
    for t, v in zip(times, values):
        if n and t >= opened + duration:
            closed.append((seq, n, opened, round(total, 2), "timeout"))
            seq, n, total = seq + 1, 0, 0.0
        if not n:
            opened = t
        n += 1
        total += float(v)
        if n >= max_size:
            closed.append((seq, n, opened, round(total, 2), "size"))
            seq, n, total = seq + 1, 0, 0.0
    return closed, (seq, n, total, opened if n else 0)


@REG.add(
    "q_tumbling_window",
    """
    SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           (ROUND((SUM(value)) * 100, 0) / 100.0) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling windows per event_type (A5's time path,
    event-time). Spark's window() is epoch-aligned, matching the oracle's
    floor(epoch/300)."""
    return _tumbling(load(spark, sf_dir, "events"))


@REG.add(
    "q_sliding_window",
    """
    WITH b AS (
      SELECT event_type, value,
             CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS b0
      FROM events
    ), ex AS (
      SELECT event_type, value, UNNEST([b0, b0 - 300]) AS window_start FROM b
    )
    SELECT window_start, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           (ROUND((SUM(value)) * 100, 0) / 100.0) AS sum_value
    FROM ex GROUP BY 1, 2
    """,
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 — each event lands in exactly
    size/slide = 2 windows (the conservation invariant the tests assert)."""
    return _sliding(load(spark, sf_dir, "events"))


@REG.add(
    "q_session_window",
    """
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch(ts) - epoch(lag(ts) OVER w) >= 300
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start,
           CAST(floor(epoch(MAX(ts))) + 300 AS BIGINT) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           (ROUND((SUM(value)) * 100, 0) / 100.0) AS sum_value
    FROM sessions GROUP BY user_id, sid
    """,
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions with a 5-minute inactivity gap. The oracle is the
    classic gaps-and-islands rewrite; Spark's session_window closes a
    session at last_event + gap (half-open), matching the >= 300s
    new-session flag."""
    return _session(load(spark, sf_dir, "events"))


def count_or_time_replay(
    events: DataFrame, max_size: int = 20, duration_s: float = 86400.0
) -> DataFrame:
    """Parameterized deterministic event-time replay of the hybrid
    count-or-time flush — the engine behind ``q_count_or_time_batches``,
    exposed so tests can drive BOTH boundary kinds (a small ``max_size``
    makes the count path fire on fixtures whose per-user daily rate never
    reaches 20). Each user's events run through ``_count_or_time_fold``
    in ``(ts, event_id)`` order; the batch open at end of input emits too.
    """
    import pandas as pd

    def chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        # normalize to ns first: Arrow may hand pandas datetime64[us]
        epochs = pdf["ts"].astype("datetime64[ns]").astype("int64") / 1e9
        closed, (seq, n, total, opened) = _count_or_time_fold(
            (0, 0, 0.0, 0.0), epochs, pdf["value"], max_size, duration_s
        )
        if n:
            closed.append((seq, n, opened, round(total, 2), "open"))
        res = pd.DataFrame(
            [(seq, n, int(opened), total) for seq, n, opened, total, _ in closed],
            columns=["batch_seq", "n_events", "batch_start", "sum_value"],
        )
        res.insert(0, "user_id", pdf["user_id"].iloc[0])
        return res

    return events.groupBy("user_id").applyInPandas(
        chunk,
        "user_id bigint, batch_seq bigint, n_events bigint, "
        "batch_start bigint, sum_value double",
    )


@REG.add(
    "q_count_or_time_batches",
    """
    WITH RECURSIVE e AS (
      SELECT user_id, epoch(ts) AS t, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), walk AS (
      SELECT user_id, rn, CAST(0 AS BIGINT) AS batch_seq,
             CAST(1 AS BIGINT) AS n, t AS open_ts, value AS s
      FROM e WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.rn,
             w.batch_seq + CAST(f.flush AS BIGINT),
             CASE WHEN f.flush THEN 1 ELSE w.n + 1 END,
             CASE WHEN f.flush THEN e.t ELSE w.open_ts END,
             CASE WHEN f.flush THEN e.value ELSE w.s + e.value END
      FROM walk w
      JOIN e ON e.user_id = w.user_id AND e.rn = w.rn + 1,
      LATERAL (SELECT w.n >= 20 OR e.t >= w.open_ts + 86400 AS flush) f
    )
    SELECT user_id, batch_seq,
           CAST(max(n) AS BIGINT) AS n_events,
           CAST(floor(min(open_ts)) AS BIGINT) AS batch_start,
           (ROUND(arg_max(s, rn) * 100, 0) / 100.0) AS sum_value
    FROM walk GROUP BY user_id, batch_seq
    """,
)
def q_count_or_time_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's exact hybrid flush (A5, ``WindowPublisher.java:71``):
    a batch closes when it reaches max_size elements OR when window_duration
    has elapsed since it opened — whichever first; empty batches never emit.

    Deterministic event-time replay, keyed per user: sequential semantics
    only exist within a key, so the key is the unit of parallelism
    (applyInPandas per user_id scales horizontally; per-key state is one
    open batch's count, sum and open time).

    The oracle walks each user's events in ``(ts, event_id)`` order with
    a recursive CTE carrying ``(batch_seq, n, open_ts, sum)``; each
    batch's sum is the running sum at its last row. Pytest adds the
    conservation suite (every event in exactly one batch,
    ``WindowPublisherTest.java:46``) and an independent sequential replay
    at a second (max_size, duration) config where the count path fires
    (tests/test_conservation.py::test_count_or_time_batches_exact_boundaries).
    """
    return count_or_time_replay(
        load(spark, sf_dir, "events"), max_size=20, duration_s=86400.0
    )


@REG.add(
    "q_stateful_dedup",
    """
    SELECT user_id, event_type, event_id AS first_event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS first_ts
    FROM (
      SELECT user_id, event_type, event_id, ts,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First event per (user, type) — the deterministic batch analog of
    streaming ``dropDuplicatesWithinWatermark`` (exactly-once-per-key
    emission; the streaming form is exercised in tests)."""
    events = load(spark, sf_dir, "events")
    # first row by (ts, event_id) as min(struct(ts, event_id)): struct
    # comparison is lexicographic and (ts, event_id) is unique, so the
    # min IS the row_number()=1 row of the (ts, event_id) window — but
    # as an aggregate it map-side combines to one row per key per
    # partition, where the window shipped and sorted every raw event
    # (r16, guide §2.3; the q_resample_ffill device).
    return (
        events.groupBy("user_id", "event_type")
        .agg(F.min(F.struct("ts", "event_id")).alias("s"))
        .select(
            "user_id",
            "event_type",
            F.col("s.event_id").alias("first_event_id"),
            F.unix_timestamp("s.ts").alias("first_ts"),
        )
    )


# ----------------------------------------------------- streaming builders

def stream_tumbling(stream_df: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming tumbling windows with a watermark bound on state — the
    strict upgrade over the reference's no-watermark design
    (``README.md:99``). Feed any streaming DataFrame with (ts, event_type,
    value) columns; append-mode emits each window once it's final."""
    return _tumbling(stream_df.withWatermark("ts", watermark))


def stream_dedup(stream_df: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming exactly-once-per-key emission with bounded state."""
    return stream_df.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def stream_sliding(stream_df: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming 10-min/5-min sliding windows (each event in exactly 2
    open windows; watermark bounds how long both stay in state)."""
    return _sliding(stream_df.withWatermark("ts", watermark))


def stream_session(stream_df: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming per-user session windows (5-min gap). Session state merges
    as events arrive and finalizes once the watermark passes
    session_end — append mode emits each session exactly once."""
    return _session(stream_df.withWatermark("ts", watermark))
