"""SQL-string twins: the ``spark.sql`` forms in ``sql_surface.SQL_TWINS``
produce exactly the rows of their registered DataFrame forms — the other
half of the Spark SQL lifecycle (SURVEY §3), pinned per key."""

from __future__ import annotations

from _round import rhalf

import math

import pytest

import __spark_entry__ as entry_mod
from reactor_window_like_flink_spark.sources.tables import TABLES, register_views
from reactor_window_like_flink_spark.sql_surface import SQL_TWINS, sql_twin


def _canon(rows):
    """Order-insensitive canonical form with float tolerance handled by
    rounding to 9dp (both forms already ROUND their aggregates; the 9dp
    guard only absorbs sub-ulp partial-sum order differences)."""
    out = []
    for r in rows:
        vals = []
        for v in r:
            if isinstance(v, float):
                vals.append(rhalf(v, 9) + 0.0 if not math.isnan(v) else "nan")
            else:
                vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


@pytest.mark.parametrize("key", sorted(SQL_TWINS))
def test_sql_twin_matches_dataframe_form(spark, sf_dir, key):
    df_form = entry_mod.queries()[key](spark, sf_dir)
    sql_form = sql_twin(spark, sf_dir, key)
    assert [f.name for f in sql_form.schema.fields] == [
        f.name for f in df_form.schema.fields
    ]
    got = _canon([tuple(r) for r in sql_form.collect()])
    want = _canon([tuple(r) for r in df_form.collect()])
    assert got == want and len(got) > 0


def test_register_views_is_idempotent_and_covers_all_tables(spark, sf_dir):
    register_views(spark, sf_dir)
    register_views(spark, sf_dir)  # createOrReplace: no error, no dupes
    tables = {t.name for t in spark.catalog.listTables()}
    assert set(TABLES) <= tables
    assert spark.sql("SELECT count(*) AS n FROM lineitem").first()["n"] > 0


def test_broadcast_hint_survives_into_the_plan(spark, sf_dir):
    plan = sql_twin(
        spark, sf_dir, "q_join_broadcast"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
