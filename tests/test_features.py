"""Feature-prep operators: closed-form recomputes (the statistics-tier
contract) plus the scan-expression plan shape."""

from __future__ import annotations

from _round import rhalf

import math

import pytest

import __spark_entry__ as entry_mod
from reactor_window_like_flink_spark.llm.features import (
    FEATURE_COLS,
    LEDGER_SCHEMA,
    TARGET_SMOOTHING,
)
from reactor_window_like_flink_spark.plans import formatted_plan, has_node
from reactor_window_like_flink_spark.sources.tables import load


def test_target_encoding_closed_form(spark, sf_dir):
    """Every segment's encoding recomputes from the raw collected rows;
    shrinkage is monotone — the encoding sits strictly between the
    segment mean and the prior for every non-degenerate segment."""
    qs = entry_mod.queries()
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    ).collect()
    cust = {
        r["c_custkey"]: r["c_mktsegment"]
        for r in load(spark, sf_dir, "customer").collect()
    }
    seg_n: dict[str, int] = {s: 0 for s in set(cust.values())}
    seg_s: dict[str, float] = {s: 0.0 for s in set(cust.values())}
    for r in orders:
        s = cust[r["o_custkey"]]
        seg_n[s] += 1
        seg_s[s] += r["o_totalprice"]
    mu = sum(seg_s.values()) / sum(seg_n.values())
    rows = {
        r["c_mktsegment"]: r
        for r in qs["q_target_encoding"](spark, sf_dir).collect()
    }
    assert set(rows) == set(seg_n)
    for s, r in rows.items():
        assert r["n_orders"] == seg_n[s]
        want = (seg_s[s] + TARGET_SMOOTHING * mu) / (
            seg_n[s] + TARGET_SMOOTHING
        )
        assert abs(r["encoded"] - want) <= 1e-4
        if seg_n[s] > 0:
            lo, hi = sorted((seg_s[s] / seg_n[s], mu))
            assert lo - 1e-6 <= r["encoded"] <= hi + 1e-6


def test_feature_scale_digest_properties(spark, sf_dir):
    """The scaled-column digest obeys the scaling invariants: min-max
    stays in [0,1] and covers it across slices, and the n-weighted
    z-means cancel to 0 (the population z-mean)."""
    qs = entry_mod.queries()
    rows = qs["q_feature_scale"](spark, sf_dir).collect()
    assert rows
    n_tot = sum(r["n"] for r in rows)
    for c in FEATURE_COLS:
        lo = min(r[f"mm_min_{c}"] for r in rows)
        hi = max(r[f"mm_max_{c}"] for r in rows)
        assert 0.0 <= lo and hi <= 1.0
        assert lo == 0.0 and hi == 1.0  # global extremes exist somewhere
        weighted = sum(r["n"] * r[f"z_mean_{c}"] for r in rows) / n_tot
        assert math.isclose(weighted, 0.0, abs_tol=1e-4)


def test_feature_scale_is_broadcast_scan_expression(spark, sf_dir):
    """The normalization constants must attach as a broadcast (1-row
    nested-loop attach is fine), with NO window and NO Python eval —
    the scaled columns stay whole-stage-codegen scan expressions."""
    qs = entry_mod.queries()
    df = qs["q_feature_scale"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Window" not in plan
    assert not has_node(df, "BatchEvalPython")
    assert not has_node(df, "ArrowEvalPython")
    assert "Broadcast" in plan


def test_robust_scale_closed_form(spark, sf_dir):
    """Median/IQR and the per-slice outlier counts recompute from the
    collected raw columns (numpy linear-interpolation percentiles match
    Spark percentile / DuckDB quantile_cont)."""
    import numpy as np

    import __spark_entry__ as entry_mod
    from reactor_window_like_flink_spark.llm.features import ROBUST_OUT_Z
    from reactor_window_like_flink_spark.sources.tables import load

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", *FEATURE_COLS
    ).collect()
    rows = {
        r["l_returnflag"]: r
        for r in entry_mod.queries()["q_robust_scale"](spark, sf_dir).collect()
    }
    for c in FEATURE_COLS:
        xs = np.array([r[c] for r in li], dtype="float64")
        med = np.percentile(xs, 50, method="linear")
        iqr = np.percentile(xs, 75, method="linear") - np.percentile(
            xs, 25, method="linear"
        )
        for flag in rows:
            sl = np.array([r[c] for r in li if r["l_returnflag"] == flag])
            rz = (sl - med) / iqr
            assert rows[flag][f"n_out_{c}"] == int((np.abs(rz) > ROBUST_OUT_Z).sum())
            assert abs(rows[flag][f"r_mean_{c}"] - rhalf(float(rz.mean()), 6)) <= 1e-4


def test_target_encoding_oof_excludes_own_fold(spark, sf_dir):
    """Every (segment, fold) encoding recomputes from the OTHER folds
    only — the leakage-proof contract — including the out-of-fold
    prior."""
    import hashlib

    import __spark_entry__ as entry_mod
    from reactor_window_like_flink_spark.llm.features import (
        OOF_FOLDS,
        TARGET_SMOOTHING,
    )
    from reactor_window_like_flink_spark.sources.tables import load

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    ).collect()
    seg_of = {
        r["c_custkey"]: r["c_mktsegment"]
        for r in load(spark, sf_dir, "customer").collect()
    }
    cells: dict[tuple, list[float]] = {}
    for r in orders:
        f = int(
            hashlib.md5(str(r["o_orderkey"]).encode()).hexdigest()[:8], 16
        ) % OOF_FOLDS
        cells.setdefault((seg_of[r["o_custkey"]], f), []).append(
            r["o_totalprice"]
        )
    rows = {
        (r["c_mktsegment"], r["fold"]): r
        for r in entry_mod.queries()["q_target_encoding_oof"](
            spark, sf_dir
        ).collect()
    }
    assert set(rows) == set(cells)
    for (seg, f), r in rows.items():
        oth = [
            (sum(v), len(v))
            for (s2, f2), v in cells.items()
            if s2 == seg and f2 != f
        ]
        s_oof = sum(s for s, _ in oth)
        n_oof = sum(n for _, n in oth)
        pr = [
            (sum(v), len(v)) for (_, f2), v in cells.items() if f2 != f
        ]
        prior = sum(s for s, _ in pr) / sum(n for _, n in pr)
        want = (s_oof + TARGET_SMOOTHING * prior) / (
            n_oof + TARGET_SMOOTHING
        )
        assert r["n_oof"] == n_oof
        assert abs(r["encoded_oof"] - want) <= 1e-4


def test_encoding_ingest_sink_stream_equals_batch_and_replays(spark, tmp_path):
    """The streamed ledger serves the SAME encoding a batch recompute
    over the union gives, and crash-replay of a batch rewrites
    identical partials (sufficient statistics are pure per-batch)."""
    from reactor_window_like_flink_spark.llm.features import (
        TARGET_SMOOTHING,
        current_encoding,
        encoding_ingest_sink,
    )

    ledger = str(tmp_path / "enc_ledger")
    sink = encoding_ingest_sink(spark, ledger)
    schema = "category string, target double"
    batches = [
        [("a", 10.0), ("a", 20.0), ("b", 100.0)],
        [("b", 50.0), ("c", 7.0)],
        [("a", 30.0), ("c", 9.0), ("c", 2.0)],
    ]
    for i, rows in enumerate(batches):
        sink(spark.createDataFrame(rows, schema), i)

    got = {r["category"]: r for r in current_encoding(spark, ledger).collect()}
    flat: dict[str, list[float]] = {}
    for rows in batches:
        for c, t in rows:
            flat.setdefault(c, []).append(t)
    mu = sum(sum(v) for v in flat.values()) / sum(len(v) for v in flat.values())
    for c, vals in flat.items():
        want = (sum(vals) + TARGET_SMOOTHING * mu) / (
            len(vals) + TARGET_SMOOTHING
        )
        assert got[c]["n"] == len(vals)
        assert abs(got[c]["encoded"] - rhalf(want, 6)) <= 1e-6

    # crash replay: batch 2 re-runs with the same id -> identical ledger
    sink(spark.createDataFrame(batches[2], schema), 2)
    again = {
        r["category"]: r for r in current_encoding(spark, ledger).collect()
    }
    assert {c: (r["n"], r["encoded"]) for c, r in got.items()} == {
        c: (r["n"], r["encoded"]) for c, r in again.items()
    }


def test_current_encoding_reads_ledger_with_sink_schema(spark, tmp_path):
    """``current_encoding`` reads the ledger with the sink's
    ``LEDGER_SCHEMA``, the schema an inferring read finds, so building
    the frame starts no job (an inferring read starts one). A missing
    ledger raises the same ``PATH_NOT_FOUND`` as an inferring read."""
    from _jobs import count_jobs
    from pyspark.errors import AnalysisException

    from reactor_window_like_flink_spark.llm.features import (
        current_encoding,
        encoding_ingest_sink,
    )

    ledger = str(tmp_path / "enc_ledger")
    encoding_ingest_sink(spark, ledger)(
        spark.createDataFrame([("a", 1.0), ("b", 2.0)], "category string, target double"),
        0,
    )
    assert count_jobs(spark, lambda: current_encoding(spark, ledger)) == 0
    assert count_jobs(spark, lambda: spark.read.parquet(ledger)) == 1
    got = spark.read.schema(LEDGER_SCHEMA).parquet(ledger).schema
    assert got == spark.read.parquet(ledger).schema
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        current_encoding(spark, str(tmp_path / "missing"))
