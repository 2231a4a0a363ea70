"""Bucketed co-located join: pre-bucketing both sides on the join key
removes the shuffle entirely — the repeated-join lever at 100 TB (pay the
shuffle once at write time, never again per query)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from reactor_window_like_flink_spark.plans import formatted_plan, node_counts
from reactor_window_like_flink_spark.sources.tables import load


@pytest.fixture()
def no_broadcast(spark):
    """Force a non-broadcast join so the exchange elision is observable."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_no_shuffle(spark, sf_dir, no_broadcast):
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_customer"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    (
        orders.write.mode("overwrite")
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .saveAsTable("b_orders")
    )
    (
        customer.write.mode("overwrite")
        .bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .saveAsTable("b_customer")
    )
    joined = spark.table("b_orders").join(
        spark.table("b_customer"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    plan = formatted_plan(joined)
    assert "Exchange" not in plan  # co-located: no shuffle on either side
    # and the result is identical to the shuffled join
    want = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).count()
    assert joined.count() == want


def test_incremental_dedup_index_elides_corpus_shuffle(
    spark, sf_dir, no_broadcast
):
    """The bucketed corpus hash index makes the admission anti-join's
    ONLY Exchange the increment-sized batch aggregation: the corpus
    (100 TB) side is read co-located from its buckets. Admitted set is
    identical to the plain-scan form."""
    import shutil

    from reactor_window_like_flink_spark.llm.curation import (
        INCREMENTAL_BATCH_SOURCE,
        build_corpus_hash_index,
        incremental_dedup,
        incremental_dedup_indexed,
    )

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    spark.sql("DROP TABLE IF EXISTS b_corpus_hash")
    shutil.rmtree(f"{warehouse}/b_corpus_hash", ignore_errors=True)
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        docs = load(spark, sf_dir, "documents")
        is_batch = F.col("source") == INCREMENTAL_BATCH_SOURCE
        batch, corpus = docs.filter(is_batch), docs.filter(~is_batch)
        build_corpus_hash_index(corpus, "b_corpus_hash", buckets=8)
        out = incremental_dedup_indexed(batch, spark, "b_corpus_hash")
        # exactly one Exchange node — the batch winners aggregation; the
        # index side satisfies the join's distribution from its buckets
        assert node_counts(out)["Exchange"] == 1
        assert "Bucketed: true" in formatted_plan(out)
        got = {
            (r["doc_id"], r["text_hash"], r["n_in_batch"])
            for r in out.collect()
        }
        want = {
            (r["doc_id"], r["text_hash"], r["n_in_batch"])
            for r in incremental_dedup(batch, corpus).collect()
        }
        assert got == want and len(got) > 0
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        spark.sql("DROP TABLE IF EXISTS b_corpus_hash")


def test_incremental_near_dedup_matches_rebanding_and_replays(
    spark, sf_dir, no_broadcast
):
    """The round-11 near-dup admission ledger: (a) admission against the
    persisted banded-MinHash index equals re-banding the whole corpus;
    (b) the candidate join's corpus side is read co-located from its
    buckets (no corpus-side Exchange feeding that join); (c) after
    appending the admitted docs (ledger maintenance), replaying the
    SAME batch admits nothing — every doc confirms against its own
    appended copy at Jaccard 1.0."""
    import shutil

    from reactor_window_like_flink_spark.llm.curation import (
        INCREMENTAL_BATCH_SOURCE,
        append_to_near_index,
        build_corpus_near_index,
        incremental_dedup_near,
        incremental_dedup_near_indexed,
    )

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    prefix = "t_near_idx"
    for t in (f"{prefix}_bands", f"{prefix}_sets"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        docs = load(spark, sf_dir, "documents")
        is_batch = F.col("source") == INCREMENTAL_BATCH_SOURCE
        batch, corpus = docs.filter(is_batch), docs.filter(~is_batch)
        build_corpus_near_index(corpus, prefix, buckets=8)

        out = incremental_dedup_near_indexed(batch, spark, prefix)
        rows = out.collect()
        got = {(r["doc_id"], r["status"], r["dup_of"], r["jaccard"]) for r in rows}
        want = {
            (r["doc_id"], r["status"], r["dup_of"], r["jaccard"])
            for r in incremental_dedup_near(batch, corpus).collect()
        }
        assert got == want and len(got) > 0
        assert {r["status"] for r in rows} <= {"admitted", "near_dup"}

        # the bands table feeds the candidate join from its buckets
        plan = formatted_plan(out)
        assert "Bucketed: true" in plan

        # ledger maintenance + replay: append admitted docs, re-admit the
        # same batch -> everything is a near_dup of itself (jaccard 1.0
        # against its own appended copy), nothing admitted
        admitted_ids = [r["doc_id"] for r in rows if r["status"] == "admitted"]
        assert admitted_ids, "fixture should admit at least one doc"
        append_to_near_index(
            batch.filter(F.col("doc_id").isin(admitted_ids)), spark, prefix
        )
        replay = incremental_dedup_near_indexed(batch, spark, prefix).collect()
        assert all(r["status"] == "near_dup" for r in replay)
        by_id = {r["doc_id"]: r for r in replay}
        for did in admitted_ids:
            assert by_id[did]["jaccard"] == 1.0
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        for t in (f"{prefix}_bands", f"{prefix}_sets"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
