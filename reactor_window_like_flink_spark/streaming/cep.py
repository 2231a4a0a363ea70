"""Streaming CEP: watermarked stateful chain matching — Flink CEP's
``begin(s0).followedBy(s1)...followedBy(sN-1).within(span)`` (relaxed
contiguity, greedy/last-match binding) on a LIVE stream, for ANY ordered
stage list. ``pattern_sequence_stateful`` is the 3-stage
view->click->purchase wrapper matching the batch ``q_pattern_sequence``
key.

The reference's "not inferior to Flink" claim (``README.md:10,92``)
gestures at exactly this capability; its engine has no CEP at all, and
the batch key only replays history. This operator runs the same pattern
incrementally: per user, an ``applyInPandasWithState`` keeps one partial
binding per non-final stage (the chain head's event time plus the id
path), finalizes events only once the watermark passes them — so
out-of-order arrival across micro-batches cannot change a binding — and
emits one row per completed chain whose whole span fits inside the
pattern window. All three matchers here buffer, finalize and wake
through one rule, ``streaming/eventtime.py`` (``arrive``, ``finalize``,
``wake``); each is a loop over the finalized rows.

Equivalence to the batch form: events are applied in (event-time,
event_id) order exactly like the batch window sort, and an event is
processed only when every earlier event is guaranteed present (watermark
contract), so on a replayed bounded stream the emitted set EQUALS the
batch ``followed_by_chain`` — asserted by ``tests/test_cep.py`` on the
full sf0.001 events fixture.

State bounds (the "span TTL" in event time): a partial binding whose
chain head is older than ``watermark - span`` can never complete inside
the span — any future final-stage event is at-or-after the watermark —
so it is evicted; a buffered-empty, fully-unset key drops its state row
outright. Plus the pre-finalize buffer, O(events inside the watermark
delay) per user. So state per key = N-1 bindings + the in-flight window,
bounded by rate x delay, independent of stream lifetime.

Scale: one keyed shuffle (groupBy user) — the same shape as the batch
form's single sort-exchange; pattern depth adds state fields, never
joins or extra shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reactor_window_like_flink_spark.operators.analytics import (
    FUNNEL_STAGES,
    PATTERN_SPAN_US,
)
from reactor_window_like_flink_spark.streaming.eventtime import (
    NEG,
    arrive,
    finalize,
    wake,
)


def followed_by_chain_stateful(
    events_stream: DataFrame,
    stages: list[str] | tuple[str, ...],
    watermark_delay: str = "1 hour",
    span_us: int = PATTERN_SPAN_US,
    contiguity: str = "relaxed",
) -> DataFrame:
    """Generalized N-stage streaming chain matcher (see module
    docstring). ``events_stream`` needs columns (event_id, ts, user_id,
    event_type); rows whose type is not in ``stages`` are ignored under
    ``"relaxed"`` contiguity, and break chains under ``"strict"``
    (Flink's ``next``: each stage event must be the user's IMMEDIATELY
    next event, so strict mode buffers noise rows too — they carry break
    information). Output: ``(user_id, stage0_id..stageN-1_id, span_us)``.

    ``watermark_delay`` is the out-of-orderness the operator absorbs:
    rows later than that are dropped (Flink's past-watermark discard) —
    the dial between buffer size and completeness."""
    import pandas as pd

    n = len(stages)
    if n < 2:
        raise ValueError("need at least 2 stages")
    if contiguity not in ("relaxed", "strict"):
        raise ValueError(
            f"contiguity must be 'relaxed' or 'strict', got {contiguity!r}"
        )
    strict = contiguity == "strict"
    kind_of = {s: i for i, s in enumerate(stages)}
    if len(kind_of) != n:
        raise ValueError("stages must be distinct")

    out_schema = (
        "user_id long, "
        + ", ".join(f"stage{i}_id long" for i in range(n))
        + ", span_us long"
    )
    out_cols = (
        ["user_id"] + [f"stage{i}_id" for i in range(n)] + ["span_us"]
    )
    # one (us0, ids) binding per non-final stage; schema built per
    # instance — the pattern arity is known at operator construction.
    # strict mode also tracks the user's previous finalized event id.
    state_schema = (
        "frontier_us long, prev_id long, "
        "buf_us array<long>, buf_id array<long>, buf_kind array<int>, "
        + ", ".join(
            f"b{i}_us0 long, b{i}_ids array<long>" for i in range(n - 1)
        )
    )

    tagged = events_stream.select(
        "user_id", "ts", "event_id", "event_type"
    ).withWatermark("ts", watermark_delay)
    if not strict:
        # relaxed ignores non-pattern types, but only after the watermark:
        # they still advance it. Catalyst pushes a filter below the
        # watermark unless it reads the event-time column, hence the
        # ts test; a null-ts row that passes it is kind -1, which
        # relaxed matching never reads
        tagged = tagged.filter(
            F.col("event_type").isin(*stages) | F.col("ts").isNull()
        )

    def match(key, pdfs, state):
        if state.exists:
            vals = state.get
            frontier, prev_id = vals[0], vals[1]
            buf = (list(vals[2]), list(vals[3]), list(vals[4]))
            binds = [
                [vals[5 + 2 * i], list(vals[6 + 2 * i])]
                for i in range(n - 1)
            ]
        else:
            frontier, prev_id = NEG, NEG
            buf = ([], [], [])
            binds = [[NEG, []] for _ in range(n - 1)]
        # strict buffers noise rows as kind -1: they carry the chain-break
        # information
        arrive(pdfs, frontier, buf, kind_of)
        wm_us, frontier, ready, buf = finalize(state, frontier, buf)
        out = []
        for e_us, e_id, e_kind in zip(*ready):
            if e_kind == 0:
                binds[0] = [e_us, [e_id]]
            elif 0 < e_kind < n - 1:
                prev = binds[e_kind - 1]
                # contiguity: strict additionally requires the user's
                # immediately preceding event to BE the previous binding's
                # event. An invalid stage event still OVERWRITES:
                # greedy/blocking — a fresh partial match supersedes an
                # older complete one, under either contiguity
                ok = prev[0] > NEG and (not strict or prev[1][-1] == prev_id)
                binds[e_kind] = [prev[0], prev[1] + [e_id]] if ok else [NEG, []]
            elif e_kind == n - 1:
                head = binds[n - 2]
                if head[0] > NEG and (not strict or head[1][-1] == prev_id):
                    span = e_us - head[0]
                    if span <= span_us:
                        out.append((int(key[0]), *head[1], e_id, span))
            prev_id = e_id  # incl. noise: breaks strict chains
        if wm_us > 0:
            # event-time TTL: a binding whose chain head can never reach
            # a final-stage event inside the span (those are >= watermark
            # from here on) is dead weight — evict it
            for i in range(n - 1):
                if binds[i][0] > NEG and wm_us - binds[i][0] > span_us:
                    binds[i] = [NEG, []]
        if not buf[0] and all(b[0] == NEG for b in binds):
            # fully unset key: no state row at all. (strict: losing
            # prev_id is safe — stage-0 has no contiguity constraint and
            # every later stage requires a live binding, which is unset)
            state.remove()
        else:
            flat = []
            for b in binds:
                flat.extend((b[0], b[1]))
            state.update((frontier, prev_id, *buf, *flat))
            # wake when the watermark passes the oldest buffered event;
            # with none buffered, when the OLDEST live binding goes stale
            # — evict promptly, then reschedule for the next one
            wake(state, wm_us, *(
                buf[0] or [b[0] + span_us for b in binds if b[0] > NEG]
            ))
        if out:
            yield pd.DataFrame(out, columns=out_cols)

    return tagged.groupBy("user_id").applyInPandasWithState(
        match,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )


def pattern_sequence_stateful(
    events_stream: DataFrame,
    watermark_delay: str = "1 hour",
    span_us: int = PATTERN_SPAN_US,
) -> DataFrame:
    """Streaming view->click->purchase chain matcher: the
    ``FUNNEL_STAGES`` instance of ``followed_by_chain_stateful``, with
    the batch ``q_pattern_sequence`` key's column names."""
    out = followed_by_chain_stateful(
        events_stream, FUNNEL_STAGES, watermark_delay, span_us
    )
    return out.select(
        "user_id",
        F.col("stage0_id").alias("view_id"),
        F.col("stage1_id").alias("click_id"),
        F.col("stage2_id").alias("purchase_id"),
        "span_us",
    )


def not_followed_by_stateful(
    events_stream: DataFrame,
    first: str = "view",
    absent: str = "purchase",
    watermark_delay: str = "1 hour",
    span_us: int | None = None,
) -> DataFrame:
    """Negative CEP pattern on a live stream — Flink's ``notFollowedBy``
    with a ``within`` window: emit (user_id, view_id, view_us) for every
    ``first`` event that is NOT followed by a same-user ``absent`` event
    inside ``span_us``. Absence can only be decided by TIME, never by
    arrival: the row emits when the event-time watermark passes
    ``first_ts + span`` with no matching ``absent`` seen — the
    event-time-timer pattern the positive chain matcher above never
    needs, and the reason this operator exists separately.

    Out-of-order safety: arrivals buffer until the watermark passes them
    (the shared finalize rule, ``eventtime.finalize``), so a
    late-but-within-delay purchase still cancels its views. Rows later
    than the watermark delay are dropped (Flink's past-watermark
    discard). State per key = pending firsts inside their spans + the
    pre-finalize buffer — bounded by rate x (delay + span), independent
    of stream lifetime; a key with nothing pending drops its state row.

    Replay equivalence (tests/test_cep.py): on a bounded replay whose
    watermark is pushed past every view's window, the emitted set EQUALS
    the batch ``q_pattern_absence`` key's observable absences.
    """
    import pandas as pd

    if span_us is None:
        from reactor_window_like_flink_spark.operators.analytics import (
            ABSENCE_SPAN_US,
        )

        span_us = ABSENCE_SPAN_US
    span = int(span_us)

    out_schema = "user_id long, view_id long, view_us long"
    state_schema = (
        "frontier_us long, "
        "buf_us array<long>, buf_id array<long>, buf_first array<int>, "
        "pend_us array<long>, pend_id array<long>"
    )

    # other types are dropped after the watermark, so they still advance
    # it (see relaxed contiguity in followed_by_chain_stateful); a
    # null-ts row that passes is kind -1, neither first nor absent
    tagged = (
        events_stream.select("user_id", "ts", "event_id", "event_type")
        .withWatermark("ts", watermark_delay)
        .filter(
            F.col("event_type").isin(first, absent) | F.col("ts").isNull()
        )
    )

    kind_of = {absent: 0, first: 1}  # the buf_first flag

    def match(key, pdfs, state):
        if state.exists:
            vals = state.get
            frontier = vals[0]
            buf = (list(vals[1]), list(vals[2]), list(vals[3]))
            pend = list(zip(vals[4], vals[5]))
        else:
            frontier, buf, pend = NEG, ([], [], []), []
        arrive(pdfs, frontier, buf, kind_of)
        wm_us, frontier, ready, buf = finalize(state, frontier, buf)
        out = []
        for e_us, e_id, e_first in zip(*ready):
            if e_first == 1:
                pend.append((e_us, e_id))
            elif e_first == 0:
                # cancel every pending first this event follows inside
                # the span: v_us < e_us <= v_us + span
                pend = [(v, i) for v, i in pend if not v < e_us <= v + span]
        if wm_us > 0:
            # the timer path: absence is decided when the watermark
            # passes view + span with the view still pending
            out = [
                (int(key[0]), i, v)
                for v, i in sorted(p for p in pend if wm_us > p[0] + span)
            ]
            pend = [(v, i) for v, i in pend if wm_us <= v + span]
        if not buf[0] and not pend:
            state.remove()
        else:
            state.update(
                (frontier, *buf, [v for v, _ in pend], [i for _, i in pend])
            )
            # finalize wake and absence-timer wake
            wake(state, wm_us, *buf[0], *(v + span for v, _ in pend))
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "view_id", "view_us"]
            )

    return tagged.groupBy("user_id").applyInPandasWithState(
        match,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )


def followed_by_quantified_stateful(
    events_stream: DataFrame,
    stages: list[tuple[str, int, int | None]],
    watermark_delay: str = "1 hour",
    span_us: int = PATTERN_SPAN_US,
) -> DataFrame:
    """Streaming twin of the batch ``followed_by_quantified`` (Flink CEP
    ``times(n)`` / ``timesOrMore(n).consecutive()`` / ``optional()``):
    quantifiers bind to MAXIMAL same-type runs, matches are sequences of
    adjacent runs aligned to the non-skipped stages. See the batch
    docstring (``operators/analytics.py``) for the semantics contract.

    Incremental run tracking per key: ONE open-run record (kind, n,
    start, first_id) plus the last ``len(stages) - 1`` CLOSED runs. An
    event of a new type closes the open run (now provably maximal — run
    boundaries are event-driven, not time-driven) and, when it opens a
    FINAL-stage run, alignment is checked backwards over the closed
    runs with greedy optional masks. Because a match is decided exactly
    when its final run OPENS, the final stage must be quantified
    ``(1, None)`` — its eventual run length is unknowable at emission —
    so the output carries per-stage first ids and run lengths for the
    NON-final stages only (the batch contract key drops the final n for
    the same reason).

    State bounds: the pre-finalize buffer (rate x watermark delay, it
    holds EVERY event type — foreign runs carry run-boundary
    information) + at most ``len(stages)`` run records. Closed runs
    older than ``span_us`` behind the watermark are dropped from the old
    end (no future final run can reach back to them inside the span);
    an event-time timeout at the oldest closed run's expiry keeps that
    trimming live even when the key sees no new data. The OPEN run is
    retained FOREVER — a deliberate O(1)-per-key floor (~12 longs, the
    same posture as Flink keyed state): a same-type event arbitrarily
    far in the future still extends it, and an extended-but-expired run
    keeps its ORIGINAL start, so forgetting it would restart the run
    with a fresh start timestamp and let the span check admit matches
    the true maximal run forbids (a correctness bug, not a leak trade).
    Whole-key state therefore drops only for keys whose buffer, history
    and open run are all empty; every key that ever emitted a finalized
    event keeps the O(1) floor for the stream's lifetime.

    Replay equivalence (``tests/test_cep.py``): on a bounded replay with
    the watermark pushed past every event, the emitted set EQUALS the
    batch ``followed_by_quantified`` rows (minus the final stage's n).
    """
    import pandas as pd

    n = len(stages)
    if n < 2:
        raise ValueError("need at least 2 stages")
    for stype, lo, hi in stages:
        if lo < 0 or (hi is not None and hi < max(lo, 1)):
            raise ValueError(f"bad quantifier for {stype!r}: ({lo}, {hi})")
    if stages[0][1] == 0:
        raise ValueError("anchor stage must be non-optional")
    if stages[-1][1] != 1 or stages[-1][2] is not None:
        raise ValueError(
            "final stage must be quantified (1, None) in the streaming "
            "form — its run length is unknowable at emission time"
        )
    kind_of = {s: i for i, (s, _, _) in enumerate(stages)}
    if len(kind_of) != n:
        raise ValueError("stages must be distinct")
    final_kind = n - 1
    optionals = [i for i, (_, lo, _) in enumerate(stages) if lo == 0]
    # greedy optional(): most-stages-present masks first; each mask is the
    # reversed stage-index list to align backwards from the final run
    mask_alignments = []
    for m in sorted(
        range(1 << len(optionals)), key=lambda x: -bin(x).count("1")
    ):
        skipped = {
            optionals[b] for b in range(len(optionals)) if not (m >> b) & 1
        }
        mask_alignments.append(
            ([i for i in range(n - 1) if i not in skipped], skipped)
        )

    out_cols = (
        ["user_id"]
        + [f"stage{i}_id" for i in range(n)]
        + [f"stage{i}_n" for i in range(n - 1)]
        + ["span_us"]
    )
    out_schema = (
        "user_id long, "
        + ", ".join(f"stage{i}_id long" for i in range(n))
        + ", "
        + ", ".join(f"stage{i}_n long" for i in range(n - 1))
        + ", span_us long"
    )
    state_schema = (
        "frontier_us long, "
        "buf_us array<long>, buf_id array<long>, buf_kind array<int>, "
        "h_kind array<int>, h_n array<long>, h_start array<long>, "
        "h_fid array<long>, "
        "c_kind long, c_n long, c_start long, c_fid long"
    )

    tagged = events_stream.select(
        "user_id", "ts", "event_id", "event_type"
    ).withWatermark("ts", watermark_delay)

    def try_match(hist, cur, out, user):
        """cur just opened a final-stage run; align stages[0..n-2]
        backwards over the trailing closed runs, greedy mask first."""
        for present, skipped in mask_alignments:
            if len(present) > len(hist):
                continue
            tail = hist[-len(present):]
            ok = True
            for (hk, hn, _, _), i in zip(tail, present):
                _, lo, hi = stages[i]
                if hk != i or hn < max(lo, 1) or (
                    hi is not None and hn > hi
                ):
                    ok = False
                    break
            if not ok:
                continue
            span = cur[2] - tail[0][2]
            if span > span_us:
                continue
            ids = [None] * n
            ns = [0] * (n - 1)
            for (hk, hn, _, hf), i in zip(tail, present):
                ids[i] = int(hf)
                ns[i] = int(hn)
            ids[n - 1] = int(cur[3])
            out.append((int(user), *ids, *ns, int(span)))
            return

    def match(key, pdfs, state):
        if state.exists:
            vals = state.get
            frontier = vals[0]
            buf = (list(vals[1]), list(vals[2]), list(vals[3]))
            hist = [
                [int(a), int(b), int(c), int(d)]
                for a, b, c, d in zip(vals[4], vals[5], vals[6], vals[7])
            ]
            cur = (
                None
                if vals[8] == NEG
                else [int(vals[8]), int(vals[9]), int(vals[10]),
                      int(vals[11])]
            )
        else:
            frontier, buf, hist, cur = NEG, ([], [], []), [], None
        # foreign types collapse to kind -1: they only carry run-boundary
        # information
        arrive(pdfs, frontier, buf, kind_of)
        wm_us, frontier, ready, buf = finalize(state, frontier, buf)
        out: list = []
        for e_us, e_id, e_kind in zip(*ready):
            if cur is not None and cur[0] == e_kind:
                cur[1] += 1  # same type: the run extends
                continue
            if cur is not None:
                hist.append(cur)
                del hist[: max(0, len(hist) - (n - 1))]
            cur = [e_kind, 1, e_us, e_id]
            if e_kind == final_kind:
                try_match(hist, cur, out, key[0])
        if wm_us > 0:
            # closed runs a future final run can't reach inside the span
            # are dead weight — drop from the old end
            hist = [h for h in hist if wm_us - h[2] <= span_us]
        if not buf[0] and not hist and cur is None:
            state.remove()
        else:
            state.update(
                (
                    frontier,
                    *buf,
                    [h[0] for h in hist], [h[1] for h in hist],
                    [h[2] for h in hist], [h[3] for h in hist],
                    *(cur if cur is not None else [NEG, 0, 0, 0]),
                )
            )
            # wake when the watermark passes the oldest buffered event;
            # with none buffered but closed runs still held, when the
            # oldest one ages past the span, so trimming isn't stalled
            # until the key sees new data. Only cur (+frontier) left: no
            # timeout — see the state-bounds note in the docstring for
            # why the open run is kept forever
            wake(state, wm_us, *(buf[0] or [h[2] + span_us for h in hist]))
        if out:
            yield pd.DataFrame(out, columns=out_cols)

    return tagged.groupBy("user_id").applyInPandasWithState(
        match,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )
