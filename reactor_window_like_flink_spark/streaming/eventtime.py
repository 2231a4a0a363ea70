"""The event-time finalize rule every watermarked stateful operator in
``streaming/`` shares: the CEP matchers (``cep.py``) and the probe side of
``joins.temporal_join_event_time``.

Structured Streaming's watermark contract: once the watermark passes a
row's event time, every row at or before it has arrived, so the row is
final. Per key an operator keeps a frontier (the highest watermark it has
finalized up to) and a buffer of rows not yet final:

- ``arrive`` drops rows behind the frontier (late past it: Flink's
  past-watermark discard) and buffers the rest;
- ``finalize`` releases the rows the watermark has passed, in
  ``(event time, id)`` order, and raises the frontier to the watermark;
- ``wake`` sets the key's event-time timeout so an idle key still
  finalizes (or evicts) once the watermark passes its earliest anchor.

A buffer is a tuple of parallel integer lists whose first two are event
time (us) and id; the rest ride along. Change the rule here, never in a
caller.
"""

from __future__ import annotations

import numpy as np

NEG = -(1 << 62)  # "no frontier yet" / "unset" sentinel, below any event time


def arrive(pdfs, frontier: int, buf: tuple, kind_of: dict) -> None:
    """Append each row of ``pdfs`` (columns ``ts``, ``event_id``,
    ``event_type``) at or past ``frontier`` to ``buf = (us, id, kind)``;
    ``kind_of`` maps an event type to its kind, unknown types get -1."""
    us, ids, kinds = buf
    for pdf in pdfs:  # empty on timeout-only invocations
        if not len(pdf):
            continue
        ts_us = (
            pdf["ts"].astype("datetime64[ns]").astype("int64").to_numpy()
            // 1000
        )
        live = ts_us >= frontier
        us.extend(ts_us[live].tolist())
        ids.extend(pdf["event_id"].to_numpy()[live].astype("int64").tolist())
        kinds.extend(
            kind_of.get(t, -1) for t in pdf["event_type"].to_numpy()[live]
        )


def finalize(
    state, frontier: int, buf: tuple
) -> tuple[int, int, tuple, tuple]:
    """``(wm_us, frontier, ready, buf)``: the rows of ``buf`` strictly
    below the watermark, in ``(us, id)`` order, as parallel lists like
    ``buf``, and the rest (arrival order kept). The frontier rises to the
    watermark. Before the first watermark (``wm_us == 0``) nothing is
    final and the frontier stays."""
    wm_us = state.getCurrentWatermarkMs() * 1000
    if wm_us <= 0:
        return wm_us, frontier, tuple([] for _ in buf), buf
    cols = [np.asarray(c, dtype="int64") for c in buf]
    fin = cols[0] < wm_us
    order = np.lexsort((cols[1][fin], cols[0][fin]))
    ready = tuple(c[fin][order].tolist() for c in cols)
    rest = tuple(c[~fin].tolist() for c in cols)
    return wm_us, max(frontier, wm_us), ready, rest


def wake(state, wm_us: int, *anchors_us: int) -> None:
    """Time the key out at the first watermark past the earliest anchor:
    an EventTimeTimeout fires once the watermark (ms) exceeds the
    timestamp, so ``anchor // 1000`` fires at the first watermark with
    ``wm_us > anchor``, never at or below the current one. No anchor
    sets no timeout."""
    if anchors_us:
        state.setTimeoutTimestamp(
            max(min(anchors_us) // 1000, wm_us // 1000 + 1)
        )
