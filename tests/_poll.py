"""Polling for streaming tests: wait until a live query's sink shows a
result, without ``processAllAvailable()`` (which never settles while a
processing-time timeout keeps planning no-data batches)."""

from __future__ import annotations

import time


def poll(predicate, timeout_s: float = 90.0, step: float = 0.5):
    """The first truthy ``predicate()`` within ``timeout_s`` seconds,
    checked every ``step`` seconds; after the deadline, one last call's
    result, truthy or not."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        result = predicate()
        if result:
            return result
        time.sleep(step)
    return predicate()
