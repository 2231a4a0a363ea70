"""Streaming ANN ingestion (``llm/similarity.py: ann_ingest_sink``):
append-without-retrain recall, crash-replay idempotence, and the
EXECUTED drift-triggered rebuild."""

from __future__ import annotations

import copy

import numpy as np
import pytest

from reactor_window_like_flink_spark.llm.similarity import (
    ann_ingest_sink,
    fit_ann_ingest_index,
)

DIM = 64
SCHEMA = "vec_id long, embedding array<float>, label string"


def _clustered(rng, n, centers, spread=0.15, start_id=0):
    """n unit-norm vectors around the given cluster centers (row-major
    round-robin) — the structured fixture every recall test here uses
    (isotropic noise admits no index, see fit_ivf's honesty note)."""
    rows = []
    for i in range(n):
        c = centers[i % len(centers)]
        v = c + rng.normal(0.0, spread, DIM)
        v = v / np.linalg.norm(v)
        rows.append(
            (start_id + i, [float(x) for x in v], f"c{i % len(centers)}")
        )
    return rows


def _centers(rng, k):
    c = rng.normal(0.0, 1.0, (k, DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def _brute_topk(rows, qe, k, exclude_id):
    x = np.asarray([r[1] for r in rows], dtype=np.float64)
    ids = np.asarray([r[0] for r in rows])
    q = np.asarray(qe) / np.linalg.norm(qe)
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    cos = xn @ q
    order = sorted(
        zip(ids, cos), key=lambda t: (-t[1], t[0])
    )
    return [int(i) for i, _ in order if i != exclude_id][:k]


@pytest.fixture(scope="module")
def ingested(spark, tmp_path_factory):
    """Bootstrap + 3 streamed batches from the SAME 4-cluster mixture
    (the no-drift regime): returns (index, all_rows)."""
    rng = np.random.default_rng(11)
    centers = _centers(rng, 4)
    boot = _clustered(rng, 400, centers, start_id=0)
    root = str(tmp_path_factory.mktemp("ann_root"))
    index = fit_ann_ingest_index(
        spark, spark.createDataFrame(boot, SCHEMA), root
    )
    admit = ann_ingest_sink(index)
    all_rows = list(boot)
    for bid in range(3):
        batch = _clustered(
            rng, 200, centers, start_id=1000 + 1000 * bid
        )
        admit(spark.createDataFrame(batch, SCHEMA), bid)
        all_rows.extend(batch)
    return index, all_rows


def test_ingest_lands_every_row_in_prunable_partitions(ingested):
    index, all_rows = ingested
    assert index.gen == 0 and index.rebuilds == 0  # same-mixture: no drift
    got = index.table()
    assert got.count() == len(all_rows)
    # batch_id and cell are partition columns of the layout
    assert {"batch_id", "cell"} <= set(got.columns)
    assert {r["batch_id"] for r in got.select("batch_id").distinct().collect()} == {
        -1,
        0,
        1,
        2,
    }


def test_recall_holds_over_appended_batches(ingested):
    """recall@10 of the probed search vs brute force over the FULL
    ingested corpus (bootstrap + appends) — appended rows landed in the
    cells a probe for their neighborhood prunes to."""
    index, all_rows = ingested
    rng = np.random.default_rng(5)
    hits = tot = 0
    for qid in rng.choice(len(all_rows), size=12, replace=False):
        q_row = all_rows[int(qid)]
        truth = set(_brute_topk(all_rows, q_row[1], 10, q_row[0]))
        got = {
            r["vec_id"]
            for r in index.search(q_row[1], exclude_id=q_row[0]).collect()
        }
        hits += len(truth & got)
        tot += len(truth)
    assert hits / tot >= 0.8, hits / tot


def test_crash_replay_is_idempotent(spark, tmp_path):
    """Re-running a batch with the same batch_id (at-least-once
    foreachBatch replay) must leave identical index content."""
    rng = np.random.default_rng(21)
    centers = _centers(rng, 3)
    index = fit_ann_ingest_index(
        spark,
        spark.createDataFrame(
            _clustered(rng, 300, centers), SCHEMA
        ),
        str(tmp_path / "root"),
    )
    admit = ann_ingest_sink(index)
    batch_rows = _clustered(rng, 150, centers, start_id=5000)
    # in-batch dup: same vec_id twice -> exactly one lands
    batch_rows.append(batch_rows[0])
    batch = spark.createDataFrame(batch_rows, SCHEMA)
    admit(batch, 0)
    before = sorted(
        (r["vec_id"], r["cell"], tuple(r["code"]))
        for r in index.table().collect()
    )
    assert len(before) == 300 + 150  # the dup row collapsed
    admit(batch, 0)  # replay
    after = sorted(
        (r["vec_id"], r["cell"], tuple(r["code"]))
        for r in index.table().collect()
    )
    assert after == before


def test_drift_triggers_rebuild_and_retessellation(spark, tmp_path):
    """Bootstrap on one mixture, stream a DIFFERENT mixture: the mean
    quantization error must cross the drift ratio and EXECUTE the
    rebuild — generation advances, every stored row is re-encoded
    (count preserved), the refit absorbs the new mixture (continuing
    the stream does not re-trip), and recall over the full corpus holds
    after the swap."""
    rng = np.random.default_rng(33)
    old_centers = _centers(rng, 2)
    new_centers = _centers(rng, 2)
    boot = _clustered(rng, 300, old_centers)
    index = fit_ann_ingest_index(
        spark, spark.createDataFrame(boot, SCHEMA), str(tmp_path / "root")
    )
    admit = ann_ingest_sink(index)
    all_rows = list(boot)
    drifted = []
    for bid in range(2):
        batch = _clustered(
            rng, 200, new_centers, start_id=7000 + 1000 * bid
        )
        drifted.extend(batch)
        all_rows.extend(batch)
        admit(spark.createDataFrame(batch, SCHEMA), bid)
    assert index.rebuilds >= 1 and index.gen >= 1
    got = index.table()
    assert got.count() == len(all_rows)  # rebuild preserved every row

    # the rebuild ABSORBED the drift: continuing the same new-mixture
    # stream past the drift-check row floor does not re-trip the alarm
    # (the refit baseline now covers the incoming distribution), where
    # before the rebuild the identical volume tripped it
    gen_after = index.gen
    more = _clustered(rng, 300, new_centers, start_id=9000)
    all_rows.extend(more)
    admit(spark.createDataFrame(more, SCHEMA), 2)
    assert index.gen == gen_after and index.rebuilds == 1

    # recall over the full corpus holds on the rebuilt generation
    hits = tot = 0
    pick = np.random.default_rng(9).choice(
        len(all_rows), size=10, replace=False
    )
    for qid in pick:
        q_row = all_rows[int(qid)]
        truth = set(_brute_topk(all_rows, q_row[1], 10, q_row[0]))
        got_ids = {
            r["vec_id"]
            for r in index.search(
                q_row[1], exclude_id=q_row[0], probes_n=4
            ).collect()
        }
        hits += len(truth & got_ids)
        tot += len(truth)
    assert hits / tot >= 0.8, hits / tot


def test_ann_ingest_live_stream(spark, tmp_path):
    """The sink wired into a real foreachBatch query: two published
    embedding batches land assigned + encoded in the index layout."""
    import time

    from reactor_window_like_flink_spark.streaming.publisher import (
        FileStreamInput,
    )

    rng = np.random.default_rng(55)
    centers = _centers(rng, 3)
    index = fit_ann_ingest_index(
        spark,
        spark.createDataFrame(_clustered(rng, 200, centers), SCHEMA),
        str(tmp_path / "root"),
    )
    src = FileStreamInput(
        spark, "vec_id LONG, embedding ARRAY<FLOAT>, label STRING",
        str(tmp_path / "in"),
    )
    query = (
        src.stream()
        .writeStream.foreachBatch(ann_ingest_sink(index))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        src.publish(_clustered(rng, 50, centers, start_id=9000))
        query.processAllAvailable()
        src.publish(_clustered(rng, 50, centers, start_id=9500))
        query.processAllAvailable()
        deadline = time.time() + 30
        n = 0
        while time.time() < deadline:
            n = index.table().count()
            if n >= 300:
                break
            time.sleep(0.5)
    finally:
        query.stop()
    assert n == 300
    codes = index.table().select("code").first()["code"]
    assert len(codes) == 16  # PQ_M ints per row


def test_table_reads_layout_schema_without_a_job(spark, ingested):
    """``AnnIngestIndex.table`` reads with the schema recorded when
    generation 0 was written, the one an inferring read finds, so it
    starts no job (an inferring read starts one). A missing generation
    directory raises the same ``PATH_NOT_FOUND`` as an inferring
    read."""
    from _jobs import count_jobs
    from pyspark.errors import AnalysisException

    index, _ = ingested
    assert count_jobs(spark, index.table) == 0
    assert count_jobs(spark, lambda: spark.read.parquet(index.gen_dir)) == 1
    assert index.table().schema == spark.read.parquet(index.gen_dir).schema
    missing = copy.copy(index)
    missing.gen += 100
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        missing.table()
