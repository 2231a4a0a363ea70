"""WindowedPublisher — the reference's public API shape
(``WindowPublisher.java:21-150``) re-expressed on Structured Streaming.

Mapping (SURVEY.md §1.2, §3):

==============================  =========================================
reference                       here
==============================  =========================================
``publish(item)`` /             ``FileStreamInput.publish(rows)`` — append
``publish(Collection)``         a file to the watched source dir; Spark's
(``WindowPublisher.java:80-93``) file source admits it on the next trigger
``asyncPublish`` ack map        ``try_publish`` best-effort admission
(``:100-111``)                  (refuse-on-full); per-record acks subsumed
                                by exactly-once checkpointing
``getQueueSize/Capacity``       ``queue_size()``/``queue_capacity()`` +
(``:116-125``)                  ``progress_stats(query)``
``bufferTimeout(maxSize, dur)`` trigger(processingTime=duration) = time
(``:70-72``)                    path; in-batch re-chunking to <= max_size
                                = count path; empty chunks never delivered
``subscribe(consumer[, err])``  ``subscribe(stream_df, consumer, on_error)``
(``:132-150``)                  via ``foreachBatch``
blocking pool backpressure      micro-batch scheduling: the next trigger
(``:155-169``)                  cannot fire until the consumer returns —
                                the same lossless stall, minus the threads
==============================  =========================================

Durability is an upgrade, not a port: the reference loses queue + in-flight
contents on crash (``README.md:100``); a checkpointLocation here resumes
from the last committed offset.

Scale note: ``consumer`` receives driver-side row chunks — the faithful
single-machine analog of the reference's consumer pool. For cluster-side
sinks pass ``consumer_df`` instead, which receives the micro-batch
DataFrame and runs distributed (that is the 100 TB path).
"""

from __future__ import annotations

import os
import contextlib
import logging
import threading
import time
import uuid
from collections.abc import Callable, Sequence
from typing import Any

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from reactor_window_like_flink_spark.functions.materialize import collect_bounded

_LOG = logging.getLogger(__name__)


def _source_dir(description: Any) -> str | None:
    """The local directory a ``FileStreamSource[file:<path>]`` progress
    description names, normalized like ``os.path.abspath``."""
    text = str(description or "")
    lo, hi = text.find("["), text.rfind("]")
    if lo < 0 or hi < lo:
        return None
    return os.path.normpath(text[lo + 1 : hi].removeprefix("file:"))


class FileStreamInput:
    """Push-style producer facade over Spark's pull-based file source.

    Each ``publish(rows)`` appends one parquet file to the watched
    directory — the analog of the reference's sync batch publish
    (``WindowPublisher.java:89-93``): once ``publish`` returns, the rows
    are durably admitted and will be delivered exactly once.
    ``max_files_per_trigger`` is the admission-control knob standing in
    for the reference's bounded queue (``WindowPublisher.java:66-68``);
    it bounds a micro-batch's size, not its listing cost, as each
    micro-batch re-stats its admitted files on the driver (on a local
    master; see ``session.get_spark``).

    With a ``queue_capacity``, ``try_publish`` adds the reference's
    best-effort admission mode (``asyncPublish``/``tryEmitNext``,
    ``WindowPublisher.java:100-111``): it refuses — returns ``False``
    without side effects — when the unprocessed backlog would exceed
    capacity, instead of admitting unboundedly. ``queue_size()`` /
    ``queue_capacity()`` mirror ``getQueueSize``/``getQueueCapacity``
    (``WindowPublisher.java:116-125``); backlog is measured as
    published-minus-processed rows, with processed counts read from the
    attached query's streaming progress (``attach(query)``).
    """

    def __init__(
        self,
        spark: SparkSession,
        schema: StructType | str,
        directory: str,
        max_files_per_trigger: int | None = None,
        queue_capacity: int | None = None,
    ) -> None:
        self._spark = spark
        self._schema = schema
        self._dir = directory
        self._max_files = max_files_per_trigger
        self._capacity = queue_capacity
        self._lock = threading.Lock()
        self._published_rows = 0
        self._arrow_fallbacks = 0
        self._last_mtime_ms = 0  # of the last published file
        self._query: StreamingQuery | None = None
        self._rows_by_batch: dict[int, int] = {}
        os.makedirs(directory, exist_ok=True)

    def _admit(self, rows: Sequence[Any]) -> None:
        """Write one parquet file and bump the published counter. Caller
        must hold ``self._lock``.

        Fast path: the rows are driver-resident and the target is ONE
        local parquet file, so admission is a direct pyarrow write —
        temp-name + atomic rename (dot-prefixed temp files are hidden
        from Spark's file-source listing, so a reader can never observe
        a half-written file). The pre-r14 path launched a full Spark
        job per publish (createDataFrame -> coalesce(1) -> commit
        protocol), which capped the reference-scale soak (50k events,
        10 producers) at ~340 events/s END TO END while the engine
        drained at ~90k events/s — the producers, not the stream, were
        the bottleneck; the reference's own floor is 5,000 events/s
        (WindowPublisherTest.java:22-46, tools/throughput_probe.py).
        Rows Spark accepts but arrow cannot convert fall back to the
        Spark-job path, same contract."""
        rows = list(rows)
        if not rows:
            return
        try:
            self._admit_arrow(rows)
        except Exception:  # noqa: BLE001 — arrow stricter than Spark
            # Count + log every fallback: a SYSTEMATIC arrow-path failure
            # (schema drift, pyarrow regression) silently reinstating the
            # ~340 events/s per-publish-Spark-job bottleneck must be
            # observable — the soak test asserts this stays 0 on the
            # happy path, and progress_stats()/arrow_fallbacks expose it
            # to operators (r14 ADVICE).
            self._arrow_fallbacks += 1
            _LOG.warning(
                "arrow admission failed (fallback #%d) — using the "
                "per-publish Spark-job path for this batch",
                self._arrow_fallbacks,
                exc_info=True,
            )
            df = self._spark.createDataFrame(rows, self._schema)
            df.coalesce(1).write.mode("append").parquet(self._dir)
        self._published_rows += len(rows)

    def _arrow_schema(self):
        """(StructType, arrow schema) for the fast admission path,
        parsed once. Timestamp semantics match the Spark-job path: the
        session timezone is pinned to UTC (session.py), where both
        Spark and arrow interpret naive datetimes identically."""
        cached = getattr(self, "_arrow_schema_cache", None)
        if cached is not None:
            return cached
        from pyspark.sql.pandas.types import to_arrow_schema

        st = self._schema
        if isinstance(st, str):
            st = StructType.fromDDL(st)
        self._arrow_schema_cache = (st, to_arrow_schema(st))
        return self._arrow_schema_cache

    def _admit_arrow(self, rows: list) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        st, aschema = self._arrow_schema()
        cols = {
            f.name: [
                r[f.name] if isinstance(r, dict) else r[i] for r in rows
            ]
            for i, f in enumerate(st.fields)
        }
        table = pa.Table.from_pydict(cols, schema=aschema)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self._dir, f".{name}.tmp")
        try:
            pq.write_table(table, tmp)
            # Spark's file source orders new files by modification time
            # in ms alone: two publishes inside one ms would tie and could
            # be read out of publish order, so each file gets a later ms
            ms = max(time.time_ns() // 1_000_000, self._last_mtime_ms + 1)
            os.utime(tmp, ns=(ms * 1_000_000, ms * 1_000_000))
            self._last_mtime_ms = ms
            os.replace(tmp, os.path.join(self._dir, name))
        except BaseException:
            # A half-written .tmp is invisible to Spark's listing (dot
            # prefix) but must not accumulate on the fallback path.
            with contextlib.suppress(OSError):
                os.unlink(tmp)
            raise

    def publish(self, rows: Sequence[Any]) -> None:
        """Durably admit a batch of rows (lossless, like sync publish)."""
        with self._lock:  # serialized admission, like the unicast emit path
            self._admit(rows)

    def try_publish(self, rows: Sequence[Any]) -> bool:
        """Best-effort admission: admit and return ``True`` iff the
        backlog stays within ``queue_capacity``; otherwise return
        ``False`` without writing (the ``tryEmitNext`` analog — the
        caller chooses to retry, drop, or route elsewhere). Unbounded
        (capacity ``None``) inputs always admit.

        Capacity check and write happen under one admission lock —
        concurrent producers passing the check together could otherwise
        both admit and overshoot the bound (the module's stated scenario
        is many producer threads), which would break the bounded-queue
        contract exactly the way a check-then-act ``tryEmitNext`` race
        would."""
        with self._lock:
            if self._capacity is not None:
                if self.queue_size() + len(rows) > self._capacity:
                    return False
            self._admit(rows)
        return True

    def try_publish_each(self, rows: Sequence[Any]) -> list[bool]:
        """Per-item best-effort admission — the reference's
        ``asyncPublish(Collection) -> Map<T, Boolean>``
        (``WindowPublisher.java:109-111``), which tries each element in
        iteration order until the queue fills. Returns one ack per input
        row, aligned by position: the admitted prefix is ``True``, the
        rows refused for capacity are ``False``. Positional acks instead
        of a row-keyed map keep duplicate rows well-defined (the
        reference's Map collapses duplicates and throws on the merge —
        a crash SURVEY.md §2 A4 deliberately does not replicate).

        The admitted prefix lands as ONE parquet file under the same
        admission lock as ``publish``/``try_publish``, so concurrent
        producers can never jointly overshoot capacity."""
        with self._lock:
            if self._capacity is None:
                admitted = len(rows)
            else:
                room = self._capacity - self.queue_size()
                admitted = max(0, min(len(rows), room))
            if admitted > 0:
                self._admit(rows[:admitted])
        return [True] * admitted + [False] * (len(rows) - admitted)

    def attach(self, query: StreamingQuery) -> StreamingQuery:
        """Bind the consuming query so backlog introspection can read its
        progress; returns the query for chaining."""
        self._query = query
        return query

    def _source_rows(self, progress: Any) -> int:
        """Rows this batch read from THIS input's directory. The query's
        top-level numInputRows aggregates every source, so a query that
        joins this stream with another would inflate processed counts,
        under-report the backlog, and let try_publish over-admit — match
        the bracketed path of the per-source description
        (FileStreamSource[file:<path>]) to this directory exactly, so a
        sibling such as ``<path>_b`` never matches. Falls back to the
        top-level number only when the progress has no per-source
        breakdown to read."""
        sources = progress.get("sources")
        if not sources:
            return int(progress.get("numInputRows") or 0)
        me = os.path.abspath(self._dir)
        for s in sources:
            if _source_dir(s.get("description")) == me:
                return int(s.get("numInputRows") or 0)
        if len(sources) == 1:
            return int(sources[0].get("numInputRows") or 0)
        return 0

    def _processed_rows(self) -> int:
        if self._query is None:
            return 0
        # recentProgress is a bounded window; fold batch row counts into a
        # dict so totals survive progress-object eviction.
        for p in self._query.recentProgress:
            batch_id = p.get("batchId")
            if batch_id is not None:
                self._rows_by_batch[int(batch_id)] = self._source_rows(p)
        return sum(self._rows_by_batch.values())

    def queue_size(self) -> int:
        """Rows admitted but not yet read by the attached query — the
        ``getQueueSize`` analog (0 when no query is attached yet counts
        only as 'nothing processed', so the backlog equals everything
        published)."""
        return max(0, self._published_rows - self._processed_rows())

    def queue_capacity(self) -> int | None:
        """The admission bound ``try_publish`` enforces (``None`` =
        unbounded) — the ``getQueueCapacity`` analog."""
        return self._capacity

    def arrow_fallbacks(self) -> int:
        """Publishes that fell off the pyarrow fast path onto the
        per-publish Spark-job path. 0 in healthy operation; a steadily
        rising count means admission throughput has silently regressed
        to the pre-r14 ~340 events/s regime (r14 ADVICE observability
        gap). The soak/probe suites assert it stays 0."""
        return self._arrow_fallbacks

    def stream(self) -> DataFrame:
        reader = self._spark.readStream.schema(self._schema)
        if self._max_files is not None:
            reader = reader.option("maxFilesPerTrigger", self._max_files)
        return reader.parquet(self._dir)


def progress_stats(query: StreamingQuery) -> dict[str, Any] | None:
    """Depth/throughput snapshot of the delivery loop from the last
    completed micro-batch — the introspection surface the reference
    exposes as ``getQueueSize``/``getQueueCapacity``
    (``WindowPublisher.java:116-125``), widened to what a micro-batch
    engine can actually report: batch id, rows admitted this batch, input
    and processing rates, trigger latency, and — for stateful/watermarked
    plans — the current watermark, total state rows, and rows dropped as
    too late (summed over state operators; the lateness-audit counter a
    Flink user reads off the watermark metric group). ``None`` until the
    first batch completes. Pair with ``FileStreamInput.queue_size()`` for
    the backlog depth itself."""
    p = query.lastProgress
    if p is None:
        return None
    state_ops = p.get("stateOperators") or []

    def _state_sum(field: str) -> int | None:
        vals = [s.get(field) for s in state_ops]
        vals = [v for v in vals if v is not None]
        return sum(int(v) for v in vals) if vals else None

    return {
        "batch_id": p.get("batchId"),
        "num_input_rows": p.get("numInputRows"),
        "input_rows_per_second": p.get("inputRowsPerSecond"),
        "processed_rows_per_second": p.get("processedRowsPerSecond"),
        "batch_duration_ms": (p.get("durationMs") or {}).get("triggerExecution"),
        "watermark": (p.get("eventTime") or {}).get("watermark"),
        "state_rows": _state_sum("numRowsTotal"),
        "late_rows_dropped": _state_sum("numRowsDroppedByWatermark"),
    }


# One live query per checkpoint directory (process-wide): two queries
# sharing a checkpoint would corrupt its offset/commit state. This keeps
# the reference's unicast safety (only the first subscribe succeeds,
# WindowPublisher.java:68) where it still matters — multiple queries on
# the same SOURCE are fine and documented as an upgrade; multiple queries
# on the same CHECKPOINT are not.
_ACTIVE_CHECKPOINTS: dict[str, StreamingQuery] = {}
_CHECKPOINT_LOCK = threading.Lock()


class WindowedPublisher:
    """Hybrid count-or-time windowed delivery (reference A5 + A7/A8)."""

    def __init__(
        self,
        window_max_batch_size: int = 16,
        window_duration_seconds: float = 1.0,
        consumer_max_rows: int = 100_000,
    ) -> None:
        if window_max_batch_size <= 0:
            raise ValueError("window_max_batch_size must be positive")
        if window_duration_seconds <= 0:
            raise ValueError("window_duration_seconds must be positive")
        if consumer_max_rows <= 0:
            raise ValueError("consumer_max_rows must be positive")
        self.max_batch_size = window_max_batch_size
        self.window_duration_seconds = window_duration_seconds
        # Driver-memory guard for the `consumer` (collect-to-driver) path:
        # each micro-batch is collected by `collect_bounded`, one Spark
        # job, and a batch of more rows errors instead of OOMing the
        # driver. Rows reaching the driver before that check are bounded
        # by P*(consumer_max_rows+1) for a batch over P partitions (see
        # `collect_bounded`). The reference's List<T> consumer has no
        # such bound because its queue_capacity bounds admission; here
        # admission is a directory, so the delivery side must enforce it.
        self.consumer_max_rows = consumer_max_rows

    def subscribe(
        self,
        stream_df: DataFrame,
        consumer: Callable[[list[Row]], None] | None = None,
        on_error: Callable[[Exception], None] | None = None,
        consumer_df: Callable[[DataFrame, int], None] | None = None,
        checkpoint_dir: str | None = None,
        query_name: str | None = None,
        drain: bool = False,
    ) -> StreamingQuery:
        """Start delivery. Exactly one of ``consumer`` (driver-side row
        chunks of <= max_batch_size, the reference shape — bounded by
        ``consumer_max_rows`` per micro-batch; an oversized batch raises
        through the error channel instead of OOMing the driver) or
        ``consumer_df`` (distributed micro-batch DataFrame, the scale
        shape) must be given. Errors route to ``on_error`` if provided,
        mirroring ``subscribe(consumer, errorConsumer)``
        (``WindowPublisher.java:142-150``); otherwise they fail the query.

        Delivery is at-least-once at the sink boundary: after a crash
        between a sink write and the checkpoint commit, the batch replays
        with the SAME ``batch_id``. ``consumer_df`` callers get
        exactly-once end-to-end iff their write is batch_id-idempotent —
        the canonical pattern is ``sources.sinks.idempotent_batch_sink``
        (overwrite-by-batch_id path), replay-tested in
        ``tests/test_streaming.py``.

        ``drain=True`` runs in backfill mode (``Trigger.AvailableNow``):
        deliver everything already admitted — still in bounded
        micro-batches, still checkpointed — then stop on its own. The
        standard catch-up pattern after downtime, and something the
        reference's always-on queue has no analog for; pair with
        ``awaitTermination()``.
        """
        if (consumer is None) == (consumer_df is None):
            raise ValueError("pass exactly one of consumer / consumer_df")
        max_n = self.max_batch_size
        cap = self.consumer_max_rows

        def handle(batch_df: DataFrame, batch_id: int) -> None:
            try:
                if consumer_df is not None:
                    consumer_df(batch_df, batch_id)
                    return
                rows = collect_bounded(batch_df, cap)
                if rows is None:
                    raise ValueError(
                        f"micro-batch {batch_id} exceeds consumer_max_rows="
                        f"{cap} on the driver-collect `consumer` path; use "
                        "`consumer_df` (distributed micro-batch DataFrame) "
                        "for batches this large, or raise consumer_max_rows "
                        "if the driver can hold them"
                    )
                for i in range(0, len(rows), max_n):
                    chunk = rows[i : i + max_n]
                    if chunk:  # never deliver empty windows (ref :72)
                        consumer(chunk)
            except Exception as exc:  # noqa: BLE001 — ref catches Exception (:146)
                if on_error is None:
                    raise
                on_error(exc)

        writer = stream_df.writeStream.foreachBatch(handle)
        if drain:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(
                processingTime=f"{self.window_duration_seconds} seconds"
            )
        writer = writer.queryName(
            query_name or f"windowed-publisher-{uuid.uuid4().hex[:8]}"
        )
        if checkpoint_dir is None:
            return writer.start()
        cp = os.path.abspath(checkpoint_dir)
        writer = writer.option("checkpointLocation", cp)
        with _CHECKPOINT_LOCK:
            existing = _ACTIVE_CHECKPOINTS.get(cp)
            if existing is not None and existing.isActive:
                raise ValueError(
                    f"checkpoint dir {cp!r} is already owned by live query "
                    f"{existing.name!r}; a second query on the same "
                    "checkpoint would corrupt its state (unicast safety, "
                    "ref WindowPublisher.java:68). Stop the owning query "
                    "or use a distinct checkpoint_dir."
                )
            query = writer.start()
            _ACTIVE_CHECKPOINTS[cp] = query
        return query
