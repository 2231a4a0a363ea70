"""Shared fixtures: one SparkSession for the whole test run (JVM startup
dominates otherwise) and the fixture-table directories."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from reactor_window_like_flink_spark.session import get_spark

    spark = get_spark(
        app_name="pytest",
        shuffle_partitions=8,
        extra_conf={
            # keep saveAsTable artifacts (bucketing tests) out of the repo
            "spark.sql.warehouse.dir": "/tmp/pytest-spark-warehouse",
        },
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


@pytest.fixture
def gate_sides(monkeypatch):
    """Runs a graph algorithm on both sides of the local-finish gate:
    ``sides(fn)`` -> {"local": rows, "distributed": rows}, asserting
    each side took its path (one ``MapInPandas`` kernel, or none). The
    distributed side sets the bound to -1, below every graph's edge
    count, the empty graph's 0 included."""
    from reactor_window_like_flink_spark.llm import clustering
    from reactor_window_like_flink_spark.plans import node_counts

    def sides(fn):
        out = {}
        for side, bound in (("local", clustering.LOCAL_FINISH_EDGES), ("distributed", -1)):
            monkeypatch.setattr(clustering, "LOCAL_FINISH_EDGES", bound)
            df = fn()
            kernels = node_counts(df)["MapInPandas"]
            assert kernels == (side == "local"), (side, kernels)
            out[side] = df.collect()
        monkeypatch.undo()
        return out

    return sides
