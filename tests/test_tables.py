"""The fixture-table schema memo in ``sources/tables.py::load``: a table's
parquet schema is inferred by its first ``load`` in a process (one Spark
job) and reused while its files and the schema confs are unchanged."""

from __future__ import annotations

from _jobs import count_jobs

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from reactor_window_like_flink_spark.sources import tables
from reactor_window_like_flink_spark.sources.tables import load


@pytest.fixture
def cleared(monkeypatch):
    monkeypatch.setattr(tables, "_SCHEMAS", {})


@pytest.mark.parametrize("name", ["nation", "orders"])
def test_first_load_infers_once_and_repeat_starts_no_job(spark, sf_dir, cleared, name):
    first_jobs, first = count_jobs(spark, lambda: load(spark, sf_dir, name))
    again_jobs, again = count_jobs(spark, lambda: load(spark, sf_dir, name))
    assert (first_jobs, again_jobs) == (1, 0)
    plain = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    assert again.schema == plain.schema == first.schema
    assert sorted(again.collect()) == sorted(plain.collect())


@pytest.mark.parametrize("layout", ["file", "dir"])
def test_rewritten_table_gets_its_new_column(spark, tmp_path, cleared, layout):
    """A table rewritten in place with an added column, as one parquet
    file or as a Spark-written directory, is re-inferred."""
    path = str(tmp_path / "region.parquet")
    cols = {"r_regionkey": [0, 1], "r_name": ["A", "B"], "r_comment": ["x", "y"]}

    def write(names):
        t = pa.table({c: cols[c] for c in names})
        if layout == "file":
            pq.write_table(t, path)
        else:
            spark.createDataFrame(t.to_pandas()).coalesce(1).write.mode(
                "overwrite"
            ).parquet(path)

    write(["r_regionkey", "r_name"])
    assert load(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    write(list(cols))
    n, df = count_jobs(spark, lambda: load(spark, str(tmp_path), "region"))
    assert n == 1
    assert df.columns == list(cols)
    assert sorted(r["r_comment"] for r in df.collect()) == ["x", "y"]


def test_binary_as_string_flip_reinfers(spark, tmp_path, cleared):
    pq.write_table(
        pa.table({"doc_id": [1], "text": pa.array([b"hi"], pa.binary())}),
        str(tmp_path / "documents.parquet"),
    )
    conf = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(conf)
    assert before == "false"
    assert load(spark, str(tmp_path), "documents").schema["text"].dataType.typeName() == "binary"
    spark.conf.set(conf, "true")
    try:
        n, df = count_jobs(spark, lambda: load(spark, str(tmp_path), "documents"))
        assert n == 1
        assert df.schema["text"].dataType.typeName() == "string"
        assert df.first()["text"] == "hi"
    finally:
        spark.conf.set(conf, before)
    assert load(spark, str(tmp_path), "documents").schema["text"].dataType.typeName() == "binary"


def test_nanos_as_long_turned_on_keeps_schemas_turned_off_reinfers(spark, sf_dir, cleared):
    """``load`` of ``events`` turns nanosAsLong on for the session. Tables
    inferred with it off keep their schema (so the key order of a batch
    pass does not change its job count); a table inferred with it on is
    re-inferred once it is off again."""
    conf = tables.NANOS_AS_LONG
    before = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        assert count_jobs(spark, lambda: load(spark, sf_dir, "nation"))[0] == 1
        load(spark, sf_dir, "events")
        assert spark.conf.get(conf) == "true"
        assert count_jobs(spark, lambda: load(spark, sf_dir, "nation"))[0] == 0
        assert count_jobs(spark, lambda: load(spark, sf_dir, "orders"))[0] == 1
        spark.conf.set(conf, "false")
        assert count_jobs(spark, lambda: load(spark, sf_dir, "orders"))[0] == 1
        assert count_jobs(spark, lambda: load(spark, sf_dir, "nation"))[0] == 0
    finally:
        spark.conf.set(conf, before)


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_both_events_layouts_give_timestamp_with_memo_warm(spark, tmp_path, cleared, unit):
    """``events.ts`` as parquet TIMESTAMP(NANOS) (read as raw nanos under
    the legacy conf) and TIMESTAMP(MICROS) (native TIMESTAMP_NTZ) both come
    back as a TIMESTAMP with the same instants on a warm memo."""
    walls = [dt.datetime(2024, 1, 1, 0, 0, 0, 123456), dt.datetime(2024, 3, 5, 12, 30, 1, 7)]
    ts = pa.array(walls, pa.timestamp("us")).cast(pa.timestamp(unit))
    pq.write_table(
        pa.table({"user_id": [1, 2], "ts": ts}),
        str(tmp_path / "events.parquet"),
        coerce_timestamps=None if unit == "ns" else "us",
        version="2.6",
    )
    assert pq.read_schema(str(tmp_path / "events.parquet")).field("ts").type.unit == unit
    load(spark, str(tmp_path), "events")
    n, df = count_jobs(spark, lambda: load(spark, str(tmp_path), "events"))
    assert n == 0
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    epoch = dt.datetime(1970, 1, 1)
    expected = sorted((w - epoch) // dt.timedelta(microseconds=1) for w in walls)
    got = sorted(r[0] for r in df.select(F.unix_micros("ts")).collect())
    assert got == expected


@pytest.mark.parametrize("key", ["q_join_multi", "q_tpch_q5_shape"])
def test_batch_key_rebuild_starts_no_job(spark, sf_dir, key):
    """Job budget at sf0.001: a second build of these multi-table keys
    starts 0 jobs before the action (was one schema-inference job per
    table read)."""
    build = entry_mod.queries()[key]
    build(spark, sf_dir)
    n, _ = count_jobs(spark, lambda: build(spark, sf_dir))
    assert n == 0
