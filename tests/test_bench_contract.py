"""Contract tests for bench.py's driver-facing stdout (r13 judge
directive 3): the LAST line must be JSON that fits the driver's
2000-char tail window — every BENCH_rN.json from r04 to r13 recorded
``parsed: null`` because the only JSON line outgrew the tail. Pure
functions, no SparkSession."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
from bench import (  # noqa: E402
    GUARD,
    HEADLINE,
    INDEX_BACKED,
    SUMMARY_MAX_CHARS,
    _load_bars,
    compact_summary,
)


def _payload(n_flags: int = 0, n_queries: int = 200) -> dict:
    qs = {f"q_key_with_a_long_name_{i:03d}": 1.234 for i in range(n_queries)}
    flags = {
        f"q_key_with_a_long_name_{i:03d}": 12.34 for i in range(n_flags)
    }
    return {
        "metric": "headline_queries_total",
        "value": 123.456,
        "unit": "sec",
        "sf": 0.1,
        "queries": qs,
        "median_vs_bar": 0.97,
        "flags": flags,
        "guard_ratio": {"q_guard_one": 2.15, "q_guard_two": 6.04},
        "index_builds_during_timed": [
            {"kind": "near_index", "name": "x", "seconds": 1.0}
        ],
        "epoch_calib_s": {"start": 0.733, "end": 0.72},
        "epoch_calib_mc": {
            "start": {"n": 8, "solo_s": 0.35, "wall_s": 0.4, "eff_cores": 7.0},
            "end": {"n": 8, "solo_s": 0.35, "wall_s": 0.8, "eff_cores": 3.5},
        },
    }


def test_summary_line_fits_tail_and_parses():
    line = compact_summary(_payload(n_flags=3))
    assert len(line) <= SUMMARY_MAX_CHARS < 2000
    d = json.loads(line)
    assert d["metric"] == "headline_queries_total"
    assert d["n"] == 200
    assert len(d["flags"]) == 3
    assert d["timed_index_builds"] == 1
    assert d["epoch_calib_s"]["start"] == 0.733
    assert d["eff_cores"] == {"start": 7.0, "end": 3.5}
    # r17 (judge item 1a): per-query medians in the final line — a
    # by-cost prefix large enough for the driver's geomean
    assert len(d["queries"]) >= 40
    assert all(v == 1.23 for v in d["queries"].values())


def test_summary_queries_are_the_most_expensive_prefix():
    payload = _payload()
    # make a recognizable cost ranking: key i costs i seconds
    payload["queries"] = {
        f"q_key_with_a_long_name_{i:03d}": float(i) for i in range(200)
    }
    d = json.loads(compact_summary(payload))
    assert d["n"] == 200
    included = set(d["queries"])
    assert 40 <= len(included) < 200
    # the included set is exactly the most expensive len(included) keys
    want = {
        f"q_key_with_a_long_name_{i:03d}"
        for i in range(200 - len(included), 200)
    }
    assert included == want
    # values survive at 2 dp
    assert d["queries"]["q_key_with_a_long_name_199"] == 199.0


def test_summary_line_bounded_even_when_every_key_flags():
    # pathological run: all 200 keys >2x — the flags dict must truncate
    # to the worst offenders instead of blowing the tail window
    line = compact_summary(_payload(n_flags=200))
    assert len(line) <= SUMMARY_MAX_CHARS
    d = json.loads(line)
    assert d["flags"]["...truncated"] == 180
    assert len(d["flags"]) == 21  # 20 worst + the truncation marker
    # the queries map must shrink to absorb the flag bloat, not vanish
    assert len(d["queries"]) >= 10


def test_every_headline_key_has_a_bar():
    bars = _load_bars()
    missing = [k for k in HEADLINE if k not in bars]
    assert not missing, f"headline keys without a bar: {missing}"


def test_guards_and_index_backed_reference_real_keys():
    assert set(GUARD.values()) <= set(HEADLINE)
    assert set(INDEX_BACKED) <= set(HEADLINE) | set(GUARD)


def test_failed_multicore_probe_records_null(monkeypatch):
    """A failing multi-core epoch probe yields None, and the summary line
    still builds with the side left out of ``eff_cores``."""
    import bench

    def boom(_):
        raise RuntimeError("probe unavailable")

    monkeypatch.setattr(bench, "_calib_worker", boom)
    assert bench._epoch_calib_mc() is None
    payload = _payload()
    payload["epoch_calib_mc"] = {"start": None, "end": None}
    assert json.loads(compact_summary(payload))["eff_cores"] == {}
