"""Process-wide log of persisted-index (re)builds.

Round-13 arbitration context: the driver bench timed
``q_dedup_incremental_near`` at 3.54x its bar while the committed
validation run on identical code measured 0.90x — one hypothesis was
that the per-(app, dataset) index memo got evicted (or its warehouse
tables vanished) between bench.py's untimed warm-up pass and the timed
samples, silently turning a probe-only serving call into a cold
corpus re-band. Every index build now records an event here; bench.py
snapshots the log after warm-up and writes any events that fire inside
the timed region into the artifact (``index_builds_during_timed``), so
"the serving path fell back to a cold build" is observable data
instead of post-hoc narrative.

Kept dependency-free and tiny: a list of dicts plus a recorder. Never
trimmed within a process — bench runs are bounded, and the events are
a few hundred bytes each.
"""

from __future__ import annotations

import sys
import time

EVENTS: list[dict] = []


def record(kind: str, name: str, seconds: float) -> None:
    """Log one index build: *kind* (e.g. ``near_index``, ``ivfpq``),
    *name* (the ``sf_dir`` it was built for), wall *seconds*. Called by
    ``artifacts.artifact`` on every memo miss, for every kind."""
    evt = {
        "kind": kind,
        "name": name,
        "seconds": round(seconds, 3),
        "at": round(time.perf_counter(), 3),
    }
    EVENTS.append(evt)
    print(f"# index build: {kind} {name} {evt['seconds']}s", file=sys.stderr)


def since(n: int) -> list[dict]:
    """Events recorded after snapshot index *n* (``len(EVENTS)`` taken
    earlier by the caller)."""
    return list(EVENTS[n:])
