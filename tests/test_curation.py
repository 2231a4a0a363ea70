"""Unit tests for the curation operators (llm/curation.py) on handcrafted
fixtures with hand-computed expectations; the sf0.01 oracle differential
covers the registered q_* forms end-to-end."""

from __future__ import annotations

from pyspark.sql import functions as F

from reactor_window_like_flink_spark.llm.curation import (
    decontaminate,
    domain_mix,
    prefix_groups,
    repetition_stats,
)


def _toks_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, text STRING").select(
        "doc_id", F.split(F.lower("text"), " ").alias("toks")
    )


def test_decontaminate_counts_shared_trigrams(spark):
    # doc 99 is the "benchmark"; doc 1 contains its trigram verbatim,
    # doc 2 shares tokens but no trigram, doc 3 is disjoint.
    rows = [
        (99, "alpha beta gamma delta"),
        (1, "x y alpha beta gamma z"),
        (2, "alpha x beta y gamma"),
        (3, "p q r s"),
    ]
    df = _toks_df(spark, rows)
    shingled = df.select(
        "doc_id",
        F.array_distinct(
            F.expr(
                "CASE WHEN size(toks) < 3 THEN array(array_join(toks, ' '))"
                " ELSE transform(sequence(1, size(toks) - 2),"
                "      i -> array_join(slice(toks, i, 3), ' ')) END"
            )
        ).alias("sh"),
    )
    out = decontaminate(shingled, F.col("doc_id") == 99).collect()
    got = {r["doc_id"]: (r["n_hit"], r["n_shingles"]) for r in out}
    # doc 1 has 4 trigrams, exactly "alpha beta gamma" hits
    assert got == {1: (1, 4)}


def test_repetition_stats_degenerate_doc(spark):
    # "ho hum" * safe vs "spam spam spam...": the degenerate doc collapses
    # to ONE distinct trigram repeated n-2 times -> rep_frac -> 1.
    rows = [
        (1, " ".join(["spam"] * 12)),  # 10 trigram slots, 1 distinct
        (2, "a b c d e f"),  # 4 trigram slots, all distinct
        (3, "xy"),  # < 3 tokens: whole text is the single shingle
    ]
    out = {
        r["doc_id"]: r
        for r in repetition_stats(_toks_df(spark, rows)).collect()
    }
    assert (out[1]["n_tri"], out[1]["n_uniq_tri"], out[1]["max_tri_count"]) == (
        10,
        1,
        10,
    )
    assert out[1]["rep_frac"] == 0.9 and out[1]["is_repetitive"]
    assert (out[2]["n_tri"], out[2]["n_uniq_tri"]) == (4, 4)
    assert out[2]["rep_frac"] == 0.0 and not out[2]["is_repetitive"]
    assert (out[3]["n_tri"], out[3]["max_tri_count"]) == (1, 1)


def test_domain_mix_hits_target_proportions(spark):
    # 400 docs of "web" (w=3) + 200 of "code" (w=1): scarcest-source cap
    # T = min(400/3, 200/1) = 133.3 -> keep ALL of web is infeasible;
    # expected kept ~ web:code = 3:1 with web rate 1.0, code rate 2/3*...
    # (exact expectation: T=133.33, web keeps 400*(3*T/400)=3T=400 ->
    # rate 1.0; code keeps 1*T/200 -> rate ~0.667).
    rows = [(i, "web") for i in range(400)] + [
        (i, "code") for i in range(1000, 1200)
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, source STRING")
    w = F.when(F.col("source") == "web", F.lit(3)).otherwise(F.lit(1))
    out = domain_mix(docs, w)
    kept = out.groupBy("source").count().collect()
    by_src = {r["source"]: r["count"] for r in kept}
    assert by_src["web"] == 400  # rate 1.0: every web doc kept
    # hash selection is approximate around rate*count = 133; generous band
    assert 100 <= by_src.get("code", 0) <= 166
    # determinism: the identical subset on a re-run
    again = domain_mix(docs, w)
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )
    rates = {
        r["source"]: r["rate"]
        for r in out.select("source", "rate").distinct().collect()
    }
    assert rates["web"] == 1.0 and abs(rates["code"] - 0.6667) < 1e-9


def test_prefix_groups_find_shared_boilerplate(spark):
    rows = [
        (1, "terms of service apply to all users here one"),
        (2, "terms of service apply to all users here two and more"),
        (3, "totally different document text with no twin at all"),
        (4, "Terms Of Service Apply To All Users Here THREE"),  # case-folds
    ]
    docs = spark.createDataFrame(
        rows, "doc_id LONG, text STRING"
    ).withColumn("source", F.concat(F.lit("s"), F.col("doc_id") % 2))
    out = prefix_groups(docs, 8).collect()
    assert len(out) == 1
    g = out[0]
    assert g["prefix"] == "terms of service apply to all users here"
    assert (g["keep_id"], g["n_docs"], g["n_sources"]) == (1, 3, 2)
    assert g["sources_csv"] == "s0,s1"


def test_corpus_ingest_sink_dedup_and_crash_replay(spark, tmp_path):
    """Continuous ingestion: in-batch dedup, cross-batch admit against
    the ledger, and the crash-replay case — re-running a batch with the
    same batch_id (whose rows are already IN the ledger) must rewrite
    identical content, not drop it."""
    from reactor_window_like_flink_spark.llm.curation import corpus_ingest_sink

    ledger = str(tmp_path / "ledger")
    sink = corpus_ingest_sink(spark, ledger)
    schema = "doc_id long, text string, lang string, source string"

    b1 = spark.createDataFrame(
        [
            (1, "alpha text", "en", "s0"),
            (2, "beta text", "en", "s0"),
            (3, "alpha text", "en", "s1"),  # in-batch dup of doc 1
        ],
        schema,
    )
    sink(b1, 0)
    got1 = {
        r["doc_id"] for r in spark.read.parquet(ledger).collect()
    }
    assert got1 == {1, 2}  # in-batch winner kept, dup dropped

    b2 = spark.createDataFrame(
        [
            (4, "beta text", "de", "s2"),   # already in corpus -> rejected
            (5, "gamma text", "en", "s0"),  # new -> admitted
        ],
        schema,
    )
    sink(b2, 1)
    got2 = {r["doc_id"] for r in spark.read.parquet(ledger).collect()}
    assert got2 == {1, 2, 5}

    # crash replay: batch 1 re-runs with its rows already in the ledger
    sink(b2, 1)
    got3 = sorted(
        (r["doc_id"], r["batch_id"])
        for r in spark.read.parquet(ledger).collect()
    )
    assert got3 == [(1, 0), (2, 0), (5, 1)]  # identical, no loss, no dupes


def test_corpus_ingest_sink_live_stream(spark, tmp_path):
    """The sink wired into a real foreachBatch query: documents streamed
    in two file batches land deduped in the ledger."""
    import time

    from reactor_window_like_flink_spark.llm.curation import corpus_ingest_sink
    from reactor_window_like_flink_spark.streaming.publisher import (
        FileStreamInput,
    )

    schema = "doc_id LONG, text STRING, lang STRING, source STRING"
    src = FileStreamInput(spark, schema, str(tmp_path / "in"))
    ledger = str(tmp_path / "ledger")
    query = (
        src.stream()
        .writeStream.foreachBatch(corpus_ingest_sink(spark, ledger))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        src.publish([(1, "doc one", "en", "s0"), (2, "doc two", "en", "s0")])
        query.processAllAvailable()
        src.publish([(3, "doc one", "en", "s1"), (4, "doc three", "en", "s0")])
        query.processAllAvailable()
        deadline = time.time() + 30
        got = set()
        while time.time() < deadline:
            got = {r["doc_id"] for r in spark.read.parquet(ledger).collect()}
            if got >= {1, 2, 4}:
                break
            time.sleep(0.5)
    finally:
        query.stop()
    assert got == {1, 2, 4}  # doc 3 rejected as a cross-batch duplicate


def test_corpus_ingest_sink_compaction_bounds_files(spark, tmp_path):
    """Compaction composed into the sink: across 3x the compaction
    interval, completed batch partitions fold to one file each while
    ledger CONTENTS stay identical; the current (uncompacted) tail and
    crash-replay behavior are unaffected."""
    import os

    from reactor_window_like_flink_spark.llm.curation import corpus_ingest_sink

    ledger = str(tmp_path / "ledger")
    sink = corpus_ingest_sink(spark, ledger, compact_every=2)
    schema = "doc_id long, text string, lang string, source string"

    def n_part_files(k):
        d = f"{ledger}/batch_id={k}"
        return sum(
            1 for f in os.listdir(d) if f.startswith("part-") and
            not f.endswith(".crc")
        )

    # AQE's partition coalescing sometimes folds these tiny batches to
    # one write task on its own, which would make "did compaction run"
    # unobservable — pin it off so each batch lands as 4 part files.
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    old_coalesce = spark.conf.get(coalesce_key, "true")
    spark.conf.set(coalesce_key, "false")
    try:
        expect = set()
        for b in range(6):  # 3x the interval of 2
            rows = [
                (b * 10 + i, f"text {b}-{i}", "en", "s0")
                # multi-partition frame -> several part files per batch
                for i in range(4)
            ]
            expect |= {r[0] for r in rows}
            sink(spark.createDataFrame(rows, schema).repartition(4), b)

        got = sorted(
            (r["doc_id"], r["batch_id"])
            for r in spark.read.parquet(ledger).collect()
        )
        assert [g[0] for g in got] == sorted(expect)
        # every completed window folded: batches 0..3 are 1 file each
        for k in range(4):
            assert n_part_files(k) == 1, f"batch {k} not compacted"
        # the tail written after the last fold trigger is untouched
        assert n_part_files(5) > 1
        # replaying the triggering batch (crash recovery) keeps everything
        rows4 = [(40 + i, f"text 4-{i}", "en", "s0") for i in range(4)]
        sink(spark.createDataFrame(rows4, schema).repartition(4), 4)
        got2 = sorted(
            (r["doc_id"], r["batch_id"])
            for r in spark.read.parquet(ledger).collect()
        )
        assert got2 == got
    finally:
        spark.conf.set(coalesce_key, old_coalesce)


def test_fold_ledger_window_recovers_interrupted_swaps(spark, tmp_path):
    """Crash-recovery contract of the compaction swap: for every
    intermediate state an interrupted rename-rename-delete swap can
    leave behind, a re-run of ``fold_ledger_window`` restores the
    partition, folds it to one file, and leaves no side directories —
    the ledger never loses a window."""
    import os
    import shutil

    from reactor_window_like_flink_spark.llm.curation import (
        fold_ledger_window,
    )

    ledger = str(tmp_path / "ledger")
    schema = "doc_id long, text string, lang string, source string"
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    old_coalesce = spark.conf.get(coalesce_key, "true")
    spark.conf.set(coalesce_key, "false")
    try:
        for k in range(4):
            rows = [(k * 10 + i, f"text {k}-{i}", "en", "s0") for i in range(4)]
            spark.createDataFrame(rows, schema).repartition(4).write.mode(
                "overwrite"
            ).parquet(f"{ledger}/batch_id={k}")
    finally:
        spark.conf.set(coalesce_key, old_coalesce)
    expect = sorted(
        (r["doc_id"], r["batch_id"])
        for r in spark.read.parquet(ledger).collect()
    )

    def part_files(k):
        d = f"{ledger}/batch_id={k}"
        return [
            f for f in os.listdir(d)
            if f.startswith("part-") and not f.endswith(".crc")
        ]

    # state A (k=0): crashed mid-compact — partial garbage tmp, src intact
    os.makedirs(f"{ledger}/.compact-tmp-0")
    with open(f"{ledger}/.compact-tmp-0/part-partial.parquet", "w") as fh:
        fh.write("garbage half-written file")
    # state B (k=1): crashed between rename(src->old) and rename(tmp->src)
    shutil.copytree(f"{ledger}/batch_id=1", f"{ledger}/.compact-tmp-1")
    os.rename(f"{ledger}/batch_id=1", f"{ledger}/.compact-old-1")
    # state C (k=2): crashed before delete(old) — src present, old present
    shutil.copytree(f"{ledger}/batch_id=2", f"{ledger}/.compact-old-2")
    # state D (k=3): old present, src and tmp missing
    os.rename(f"{ledger}/batch_id=3", f"{ledger}/.compact-old-3")

    fold_ledger_window(spark, ledger, 0, 4)

    got = sorted(
        (r["doc_id"], r["batch_id"])
        for r in spark.read.parquet(ledger).collect()
    )
    assert got == expect  # nothing lost, nothing duplicated
    for k in range(4):
        assert len(part_files(k)) == 1, f"batch {k} not folded"
    leftovers = [f for f in os.listdir(ledger) if f.startswith(".compact")]
    assert leftovers == []
    # replay of the same fold is a no-op (idempotent)
    fold_ledger_window(spark, ledger, 0, 4)
    got2 = sorted(
        (r["doc_id"], r["batch_id"])
        for r in spark.read.parquet(ledger).collect()
    )
    assert got2 == expect


def test_decontaminate_spans_localizes_contamination(spark):
    """A long training doc quoting an eval trigram deep inside: only the
    chunk windows covering the quote are flagged; the rest of the doc
    stays clean — the excision contract."""
    import __spark_entry__ as entry_mod
    import reactor_window_like_flink_spark.llm.curation as cur
    from reactor_window_like_flink_spark.llm.curation import EVAL_BUCKET_MIN
    from reactor_window_like_flink_spark.llm.sampling import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        _hash_bucket,
    )

    # find doc_ids landing in eval vs train buckets deterministically
    probe = spark.createDataFrame(
        [(i,) for i in range(400)], "doc_id long"
    ).select("doc_id", _hash_bucket(F.col("doc_id")).alias("b")).collect()
    eval_id = next(r["doc_id"] for r in probe if r["b"] >= EVAL_BUCKET_MIN)
    train_id = next(r["doc_id"] for r in probe if r["b"] < EVAL_BUCKET_MIN)

    quote = "benchmark answer string"
    # place the quote so it sits inside chunk_idx 3 only (tokens
    # 3*48+10 .. +12 of the train doc)
    pos = 3 * CHUNK_STRIDE + 10
    train_toks = [f"w{i}" for i in range(pos)] + quote.split() + [
        f"w{i}" for i in range(pos + 3, 6 * CHUNK_STRIDE)
    ]
    rows = [
        (eval_id, "context " + quote + " more context", "en", "ev", 10),
        (train_id, " ".join(train_toks), "en", "tr", 10),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    orig = cur.load
    cur.load = lambda s, d, t: df
    try:
        out = entry_mod.queries()["q_decontaminate_spans"](
            spark, "unused"
        ).collect()
    finally:
        cur.load = orig
    assert out, "the planted quote must be found"
    assert {r["doc_id"] for r in out} == {train_id}
    flagged = sorted(r["chunk_idx"] for r in out)
    # the quote at tokens [pos, pos+2] falls inside windows whose
    # [start, start+CHUNK_TOKENS) covers it: chunk 3 certainly; chunk 2
    # also when pos+2 < 2*stride+CHUNK_TOKENS (overlapping strides)
    want = sorted(
        c
        for c in range(6)
        if c * CHUNK_STRIDE <= pos and pos + 2 < c * CHUNK_STRIDE + CHUNK_TOKENS
    )
    assert flagged == want, (flagged, want)
    assert all(r["n_hits"] == 1 for r in out)


def test_filter_funnel_conserves_documents(spark):
    """Funnel invariants: stage drops sum to the corpus, n_in telescopes
    (each stage sees the previous stage's survivors), and first-fail
    attribution means a doc failing two rules is only charged once."""
    import __spark_entry__ as entry_mod

    sf = "/root/testdata/sf0.001"
    rows = sorted(
        entry_mod.queries()["q_filter_funnel"](spark, sf).collect(),
        key=lambda r: r["stage_idx"],
    )
    total = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert [r["stage"] for r in rows] == [
        "too_short", "too_long", "low_diversity", "kept",
    ]
    assert sum(r["n_docs"] for r in rows) == total  # single attribution
    assert rows[0]["n_in"] == total
    for prev, cur in zip(rows, rows[1:]):
        assert cur["n_in"] == prev["n_in"] - prev["n_docs"]
    assert rows[-1]["n_docs"] == rows[-1]["n_in"]  # kept = survivors


def test_corpus_ingest_sink_near_admission_and_crash_replay(spark, tmp_path):
    """The NEAR-dup streaming ingest: in-batch pair-rule dedup, cross-
    batch admission against the persisted MinHash index, index
    maintenance per batch, and the near-dup edition of the crash-replay
    trap — a replayed batch must not confirm against its own appended
    index rows (else its ledger partition empties on recovery)."""
    import shutil

    from reactor_window_like_flink_spark.llm.curation import (
        corpus_ingest_sink_near,
    )

    prefix = "t_ingest_near"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in (f"{prefix}_bands", f"{prefix}_sets"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    ledger = str(tmp_path / "near_ledger")
    sink = corpus_ingest_sink_near(spark, ledger, prefix, buckets=4)
    schema = "doc_id long, text string, lang string, source string"

    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base.replace("lazy", "sleepy")  # 1-token edit: near-dup
    far = "completely different content about spark shuffle partitioning"

    try:
        b1 = spark.createDataFrame(
            [
                (1, base, "en", "s0"),
                (2, near, "en", "s0"),  # in-batch near-dup of doc 1
                (3, far, "en", "s1"),
            ],
            schema,
        )
        sink(b1, 0)
        got1 = {r["doc_id"] for r in spark.read.parquet(ledger).collect()}
        assert got1 == {1, 3}  # pair rule: 2 near-matches lower-id 1

        b2 = spark.createDataFrame(
            [
                (4, base.replace("dog", "cat"), "en", "s2"),  # near doc 1
                (5, "an entirely novel document with fresh words", "en", "s0"),
            ],
            schema,
        )
        sink(b2, 1)
        got2 = {r["doc_id"] for r in spark.read.parquet(ledger).collect()}
        assert got2 == {1, 3, 5}

        # crash replay: batch 1's admitted rows are already in the index
        # under batch_id=1 — the exclusion filter must keep the rerun's
        # decisions identical instead of self-rejecting everything
        sink(b2, 1)
        got3 = sorted(
            (r["doc_id"], r["batch_id"])
            for r in spark.read.parquet(ledger).collect()
        )
        assert got3 == [(1, 0), (3, 0), (5, 1)]

        # index maintenance tracked the ledger exactly: one sets row per
        # admitted doc, none for rejected ones
        idx_docs = {
            r["doc_id"]
            for r in spark.table(f"{prefix}_sets").select("doc_id").collect()
        }
        assert idx_docs == {1, 3, 5}
    finally:
        for t in (f"{prefix}_bands", f"{prefix}_sets"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_corpus_ingest_sink_near_live_stream(spark, tmp_path):
    """The near-dup sink wired into a real foreachBatch query: a
    paraphrased re-crawl in a later micro-batch is refused even though
    its bytes differ (the exact-hash sink would admit it)."""
    import shutil
    import time

    from reactor_window_like_flink_spark.llm.curation import (
        corpus_ingest_sink_near,
    )
    from reactor_window_like_flink_spark.streaming.publisher import (
        FileStreamInput,
    )

    prefix = "t_live_near"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in (f"{prefix}_bands", f"{prefix}_sets"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    schema = "doc_id LONG, text STRING, lang STRING, source STRING"
    src = FileStreamInput(spark, schema, str(tmp_path / "in"))
    ledger = str(tmp_path / "ledger")
    base = "the quick brown fox jumps over the lazy dog again and again"
    query = (
        src.stream()
        .writeStream.foreachBatch(
            corpus_ingest_sink_near(spark, ledger, prefix, buckets=4)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        src.publish([(1, base, "en", "s0"), (2, "fresh unrelated words entirely", "en", "s0")])
        query.processAllAvailable()
        src.publish([
            (3, base.replace("lazy", "sleepy"), "en", "s1"),  # near-dup of 1
            (4, "novel third document with new content", "en", "s0"),
        ])
        query.processAllAvailable()
        deadline = time.time() + 30
        got = set()
        while time.time() < deadline:
            got = {r["doc_id"] for r in spark.read.parquet(ledger).collect()}
            if got >= {1, 2, 4}:
                break
            time.sleep(0.5)
    finally:
        query.stop()
        for t in (f"{prefix}_bands", f"{prefix}_sets"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    assert got == {1, 2, 4}  # doc 3 refused: near-dup across micro-batches


def test_near_index_eviction_keeps_tables_a_live_entry_names(spark, monkeypatch):
    """The near-dup index's table prefix comes from ``sf_dir`` alone, so an
    ended application's entry for dataset D and the live entry for D name
    the same tables. Evicting the ended entry (while building G) must not
    drop them: the next call for D hits the memo and reads those tables."""
    import hashlib

    from reactor_window_like_flink_spark.llm import artifacts
    from reactor_window_like_flink_spark.llm import curation as C

    docs = spark.createDataFrame(
        [(1, "a b c", "en", "src0", 5)],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    built, dropped = [], []
    monkeypatch.setattr(C, "load", lambda s, d, t: docs)
    monkeypatch.setattr(
        C, "build_corpus_near_index", lambda df, prefix: built.append(prefix)
    )
    monkeypatch.setattr(
        C, "_drop_table_and_location", lambda s, t: dropped.append(t)
    )
    monkeypatch.setattr(
        C, "incremental_dedup_near_indexed", lambda batch, s, prefix: prefix
    )
    prefix_d = f"near_idx_{hashlib.md5(b'D').hexdigest()[:12]}"
    memo = {("ended-app", "D"): prefix_d}
    monkeypatch.setitem(artifacts.MEMOS, "near_index", memo)

    for sf in ("D", "E", "F", "G"):
        C.q_dedup_incremental_near(spark, sf)
    assert built[0] == prefix_d
    assert ("ended-app", "D") not in memo
    assert dropped == []
    assert C.q_dedup_incremental_near(spark, "D") == prefix_d
    assert len(built) == 4  # D served from the memo, not rebuilt
