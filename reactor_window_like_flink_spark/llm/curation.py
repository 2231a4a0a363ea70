"""Corpus-curation operators for training-data pipelines: benchmark
decontamination, repetition scoring, weighted domain mixing, and
boilerplate (shared-prefix) detection over the ``documents`` table.

These extend the dedup/quality family (SURVEY.md §2 Part B extras) with
the remaining passes a large-scale pretraining pipeline runs between raw
crawl and tokenizer:

  * decontamination — drop training docs that overlap the eval benchmark
    (n-gram collision against a tiny eval index; the index side is
    benchmark-sized, so at 100 TB the join is a broadcast against a
    full-corpus narrow scan);
  * repetition scoring — flag degenerate docs whose n-gram distribution
    collapses (the "same trigram 400 times" crawl failure mode); counts
    shuffle as (doc_id, trigram) with map-side combine, never documents;
  * domain mixing — deterministic per-source downsampling to a target
    mixture; rates derive from one tiny per-source aggregate and the
    membership test is a pure hash function of doc_id, so re-runs and
    engine changes keep the identical subset (same posture as
    ``llm/sampling.py``);
  * boilerplate prefixes — exact shared-k-token-prefix groups (template
    headers, licence banners); groups on an 8-token prefix string, a
    16-70 byte shuffle key, with the same min-id keep rule as exact dedup.

Reference parity note: the reference engine (``WindowPublisher.java``) has
no curation surface; north-star scope from BASELINE.json.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from reactor_window_like_flink_spark.contract import Registry, round_to
from reactor_window_like_flink_spark.functions.materialize import (
    _session_conf,
    materialize,
)
from reactor_window_like_flink_spark.llm.artifacts import artifact
from reactor_window_like_flink_spark.llm.dedup import _shingles_from_toks, _tokenized
from reactor_window_like_flink_spark.llm.sampling import (
    CHUNK_STRIDE,
    CHUNK_TOKENS,
    _duck_bucket,
    _hash_bucket,
    q_chunk_tokens,
)
from reactor_window_like_flink_spark.sources.layout import (
    compact as layout_compact,
)
from reactor_window_like_flink_spark.sources.tables import load

REG = Registry()

EVAL_BUCKET_MIN = 95  # md5 buckets 95-99 (~5%) act as the "benchmark" set
DECON_NGRAM = 3  # shingle width for the contamination check
REPETITION_FLAG_FRAC = 0.25  # rep_frac at/above this flags the doc
PREFIX_TOKENS = 8  # boilerplate prefix width


def decontaminate(shingled: DataFrame, eval_pred: F.Column) -> DataFrame:
    """Training docs sharing >= 1 shingle with the eval split.

    ``shingled`` is (doc_id, sh: array<string>) with per-doc DISTINCT
    shingles; ``eval_pred`` marks eval membership. The eval shingle index
    is DISTINCT-exploded and joined against the exploded training side on
    the shingle string; at corpus scale the index is benchmark-sized
    (thousands of docs), so AQE turns the join into a broadcast and the
    training side stays a narrow scan -> explode -> local count. No hint
    is forced: an explicit broadcast of a *computed* subplan pins the
    build outside AQE's adaptive path (see ``llm/dedup.py``'s measured
    note).

    ``shingled`` is materialized here (localCheckpoint) because BOTH the
    eval index and the training side derive from it with divergent
    pruning — without it the tokenize+shingle pass ran twice (the
    round-5 exchange-reuse lesson; interleaved A/B measured 2.6 s ->
    1.1 s at sf0.1)."""
    sh = materialize(shingled).withColumn("_eval", eval_pred)
    ev = sh.filter(F.col("_eval")).select(F.explode("sh").alias("s")).distinct()
    tr = sh.filter(~F.col("_eval")).select(
        "doc_id", F.size("sh").alias("n_shingles"), F.explode("sh").alias("s")
    )
    return (
        tr.join(ev, "s")
        .groupBy("doc_id", "n_shingles")
        .agg(F.count("*").alias("n_hit"))
        .select(
            "doc_id",
            F.col("n_hit").cast("long").alias("n_hit"),
            F.col("n_shingles").cast("long").alias("n_shingles"),
            round_to(F.col("n_hit").cast("double") / F.col("n_shingles"), 4).alias("contamination_frac"),
        )
    )


@REG.add(
    "q_decontaminate",
    f"""
    WITH b AS (
      SELECT doc_id, text, {_duck_bucket("doc_id")} AS bkt FROM documents
    ),
    t AS (
      SELECT doc_id, bkt,
             list_distinct(CASE WHEN len(string_split(lower(text), ' ')) < 3
               THEN [lower(text)]
               ELSE list_transform(
                 generate_series(1, len(string_split(lower(text), ' ')) - 2),
                 i -> string_split(lower(text), ' ')[i] || ' '
                      || string_split(lower(text), ' ')[i + 1] || ' '
                      || string_split(lower(text), ' ')[i + 2]) END) AS sh
      FROM b
    ),
    ev AS (
      SELECT DISTINCT unnest(sh) AS s FROM t WHERE bkt >= {EVAL_BUCKET_MIN}
    ),
    tr AS (
      SELECT doc_id, len(sh) AS n_shingles, unnest(sh) AS s
      FROM t WHERE bkt < {EVAL_BUCKET_MIN}
    )
    SELECT tr.doc_id,
           CAST(count(*) AS BIGINT) AS n_hit,
           CAST(n_shingles AS BIGINT) AS n_shingles,
           (ROUND((CAST(count(*) AS DOUBLE) / n_shingles) * 10000, 0) / 10000.0)
             AS contamination_frac
    FROM tr JOIN ev ON tr.s = ev.s
    GROUP BY tr.doc_id, tr.n_shingles
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every training document sharing a
    word trigram with the held-out "benchmark" split (md5 buckets
    95-99 of doc_id — the same deterministic split machinery as
    ``q_train_split``, so eval membership never drifts between runs)."""
    toks = _tokenized(spark, sf_dir)
    shingled = toks.select(
        "doc_id", _shingles_from_toks(DECON_NGRAM).alias("sh")
    )
    return decontaminate(
        shingled, _hash_bucket(F.col("doc_id")) >= EVAL_BUCKET_MIN
    )


@REG.add(
    "q_decontaminate_spans",
    f"""
    WITH b AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks,
             {_duck_bucket("doc_id")} AS bkt
      FROM documents
    ),
    ev AS (
      SELECT DISTINCT unnest(list_distinct(CASE WHEN len(toks) < 3
        THEN [array_to_string(toks, ' ')]
        ELSE list_transform(generate_series(1, len(toks) - 2),
          i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
        END)) AS s
      FROM b WHERE bkt >= {EVAL_BUCKET_MIN}
    ),
    ch AS (
      SELECT doc_id,
             CAST((start_tok - 1) / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
             CAST(start_tok AS BIGINT) AS start_tok,
             list_slice(toks, start_tok,
                        start_tok + {CHUNK_TOKENS} - 1) AS ctoks
      FROM b, unnest(generate_series(1, greatest(len(toks), 1),
                                     {CHUNK_STRIDE})) AS u(start_tok)
      WHERE bkt < {EVAL_BUCKET_MIN}
    ),
    cs AS (
      SELECT doc_id, chunk_idx, start_tok,
             unnest(list_distinct(CASE WHEN len(ctoks) < 3
               THEN [array_to_string(ctoks, ' ')]
               ELSE list_transform(generate_series(1, len(ctoks) - 2),
                 i -> ctoks[i] || ' ' || ctoks[i + 1] || ' '
                      || ctoks[i + 2]) END)) AS s
      FROM ch
    )
    SELECT doc_id, chunk_idx, start_tok, CAST(count(*) AS BIGINT) AS n_hits
    FROM cs JOIN ev USING (s)
    GROUP BY doc_id, chunk_idx, start_tok
    """,
)
def q_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination: WHERE inside each training document
    the benchmark overlap sits — one row per contaminated
    64-token chunk (48-token stride, the
    ``q_chunk_tokens`` windows) with its distinct matched-trigram count.
    The doc-level key (``q_decontaminate``) answers *drop or keep*; this
    one enables the production middle path — excise the contaminated
    window from a long document instead of discarding millions of clean
    tokens around a single quoted benchmark item.

    Scale shape: eval trigram set exactly as in ``q_decontaminate``
    (distinct-shingle aggregate, AQE-broadcast); the training side is
    the zero-shuffle chunk explode (JVM ``sequence``/``slice``) -> chunk
    trigram explode -> one shingle-keyed join; the per-chunk count
    re-aggregates on (doc_id, chunk_idx) — shuffle rows are (short
    shingle, ids), never text. Overlapping strides mean a hit near a
    window boundary flags BOTH touching chunks: exactly what an excision
    pass wants (remove the union of flagged spans)."""
    docs = load(spark, sf_dir, "documents")
    b = docs.select(
        "doc_id",
        F.split(F.lower("text"), " ").alias("toks"),
        _hash_bucket(F.col("doc_id")).alias("bkt"),
    )
    ev = (
        b.filter(F.col("bkt") >= EVAL_BUCKET_MIN)
        .select(F.explode(_shingles_from_toks(DECON_NGRAM)).alias("s"))
        .distinct()
    )
    ch = (
        b.filter(F.col("bkt") < EVAL_BUCKET_MIN)
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.expr(
                    f"sequence(1, greatest(size(toks), 1), {CHUNK_STRIDE})"
                )
            ).alias("start_tok"),
        )
        .select(
            "doc_id",
            ((F.col("start_tok") - 1) / CHUNK_STRIDE)
            .cast("long")
            .alias("chunk_idx"),
            F.col("start_tok").cast("long").alias("start_tok"),
            F.expr(f"slice(toks, start_tok, {CHUNK_TOKENS})").alias("toks"),
        )
    )
    cs = ch.select(
        "doc_id",
        "chunk_idx",
        "start_tok",
        F.explode(_shingles_from_toks(DECON_NGRAM)).alias("s"),
    )
    return (
        cs.join(ev, "s")
        .groupBy("doc_id", "chunk_idx", "start_tok")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )


def repetition_stats(toks_df: DataFrame) -> DataFrame:
    """Per-doc trigram repetition statistics from (doc_id, toks).

    Counts NON-distinct trigram occurrences: explode -> count per
    (doc_id, trigram) -> per-doc rollup. Both aggregations benefit from
    map-side partial combine, and the shuffle rows are (doc_id, trigram,
    count) — bounded by the doc's distinct-trigram count, never the
    document text. ``rep_frac`` = 1 - distinct/total trigram ratio: 0 for
    a no-repeat doc, -> 1 as the doc degenerates to one repeated phrase."""
    tris = F.expr(
        "CASE WHEN size(toks) < 3 THEN array(array_join(toks, ' '))"
        " ELSE transform(sequence(1, size(toks) - 2),"
        "      i -> array_join(slice(toks, i, 3), ' ')) END"
    )
    per_tri = (
        toks_df.select("doc_id", F.explode(tris).alias("tri"))
        .groupBy("doc_id", "tri")
        .agg(F.count("*").alias("c"))
    )
    uniq = F.count("*").cast("double")
    total = F.sum("c")
    frac = F.lit(1.0) - uniq / total
    return per_tri.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tri"),
        F.count("*").cast("long").alias("n_uniq_tri"),
        F.max("c").cast("long").alias("max_tri_count"),
        round_to(frac, 4).alias("rep_frac"),
        (frac >= REPETITION_FLAG_FRAC).alias("is_repetitive"),
    )


@REG.add(
    "q_repetition_score",
    f"""
    WITH s AS (
      SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
               ELSE list_transform(generate_series(1, len(tk) - 2),
                 i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]) END)
               AS tri
      FROM s
    ),
    c AS (SELECT doc_id, tri, count(*) AS c FROM g GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tri,
           CAST(count(*) AS BIGINT) AS n_uniq_tri,
           CAST(max(c) AS BIGINT) AS max_tri_count,
           (ROUND((1 - CAST(count(*) AS DOUBLE) / sum(c)) * 10000, 0) / 10000.0) AS rep_frac,
           (1 - CAST(count(*) AS DOUBLE) / sum(c))
             >= {REPETITION_FLAG_FRAC} AS is_repetitive
    FROM c GROUP BY doc_id
    """,
)
def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-repetition quality pass: the crawl failure mode where a
    page degenerates into one repeated phrase shows up as a collapsed
    trigram distribution (high ``rep_frac``, high ``max_tri_count``)."""
    return repetition_stats(_tokenized(spark, sf_dir))


def domain_mix(docs: DataFrame, weight: F.Column) -> DataFrame:
    """Deterministic weighted mixture sample across ``source`` domains.

    Target: kept docs distribute across sources proportionally to
    ``weight``. The feasible total is capped by the scarcest source
    (T = min over sources of count/weight); each source then keeps
    ``rate = weight * T / count`` of its docs, selected by a pure hash of
    doc_id (md5 first 8 hex / 2^32 — exactly representable in a double,
    so Spark and the oracle pick the identical subset). One tiny
    per-source aggregate + a broadcast join of ~|sources| rows onto a
    narrow scan: no full shuffle at any size."""
    counts = docs.groupBy("source").agg(
        F.count("*").cast("double").alias("cnt")
    )
    counts = counts.withColumn("w", weight.cast("double"))
    # T over a global window: the window input is the per-source aggregate
    # (|sources| rows, one task) — cheaper and simpler than a 1-row
    # crossJoin, which planned as a duplicated BroadcastNestedLoopJoin.
    t = F.min(F.col("cnt") / F.col("w")).over(Window.partitionBy())
    rates = counts.select(
        "source", (F.col("w") * t / F.col("cnt")).alias("rate")
    )
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("double")
        / F.lit(4294967296.0)
    )
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(u < F.col("rate"))
        .select("doc_id", "source", round_to("rate", 4).alias("rate"))
    )


# Demo weights: sources src0..src19 get weight 1 + (num % 4) — a stand-in
# for the "web 60% / code 20% / books 20%" mixture config a real pipeline
# reads from its recipe file.
_W_SPARK = "1 + CAST(substring(source, 4) AS INT) % 4"
_W_DUCK = "1 + CAST(substr(source, 4) AS INT) % 4"


@REG.add(
    "q_domain_mix",
    f"""
    WITH counts AS (
      SELECT source, CAST(count(*) AS DOUBLE) AS cnt,
             CAST({_W_DUCK} AS DOUBLE) AS w
      FROM documents GROUP BY source
    ),
    t AS (SELECT MIN(cnt / w) AS t FROM counts),
    rates AS (SELECT source, w * t.t / cnt AS rate FROM counts, t)
    SELECT d.doc_id, d.source, (ROUND((r.rate) * 10000, 0) / 10000.0) AS rate
    FROM documents d JOIN rates r USING (source)
    WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) / 4294967296.0 < r.rate
    """,
)
def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted domain mixing: deterministically downsample each
    ``source`` so kept docs hit a target mixture (weights 1-4 by source
    number), capped by the scarcest source."""
    docs = load(spark, sf_dir, "documents")
    return domain_mix(docs, F.expr(_W_SPARK))


def prefix_groups(docs: DataFrame, n_tokens: int) -> DataFrame:
    """Groups of docs sharing an identical ``n_tokens``-token prefix —
    template headers / licence banners / boilerplate. Exact-dedup shape:
    group on the prefix string (a short shuffle key), min-id keep rule,
    plus source provenance (cross-source groups reveal syndicated
    boilerplate)."""
    p = F.array_join(
        F.slice(F.split(F.lower("text"), " "), 1, n_tokens), " "
    )
    return (
        docs.groupBy(p.alias("prefix"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.array_join(
                F.sort_array(F.collect_set("source")), ","
            ).alias("sources_csv"),
        )
        .filter(F.col("n_docs") > 1)
    )


@REG.add(
    "q_boilerplate_prefix",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             array_to_string(
               (string_split(lower(text), ' '))[1:{PREFIX_TOKENS}], ' ')
               AS prefix
      FROM documents
    )
    SELECT prefix,
           min(doc_id) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           array_to_string(list_sort(list_distinct(list(source))), ',')
             AS sources_csv
    FROM t GROUP BY prefix HAVING count(*) > 1
    """,
)
def q_boilerplate_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-8-token-prefix boilerplate groups over documents."""
    return prefix_groups(load(spark, sf_dir, "documents"), PREFIX_TOKENS)


HEAD_TOKENS = 32  # mirror-detection key width


def cross_source_dups(docs: DataFrame) -> DataFrame:
    """Duplicate groups that span MORE THAN ONE ``source`` — syndicated /
    mirrored content, the provenance-aware slice of dedup (a pipeline
    usually keeps one copy but also wants the mirror report to
    down-weight scraper domains). Keys on ``md5`` of the normalized
    32-token HEAD rather than the full text: mirrors re-host the body but
    append their own footer chrome, so head-keying is the standard
    mirror-detection relaxation — and the shuffle still carries a 32-hex
    key, never the document."""
    head = F.array_join(
        F.slice(F.split(F.lower("text"), " "), 1, HEAD_TOKENS), " "
    )
    return (
        docs.groupBy(F.md5(head).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.array_join(
                F.sort_array(F.collect_set("source")), ","
            ).alias("sources_csv"),
        )
        .filter(F.col("n_sources") > 1)
    )


@REG.add(
    "q_dedup_cross_source",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             md5(array_to_string(
               (string_split(lower(text), ' '))[1:{HEAD_TOKENS}], ' '))
               AS text_hash
      FROM documents
    )
    SELECT text_hash,
           min(doc_id) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           array_to_string(list_sort(list_distinct(list(source))), ',')
             AS sources_csv
    FROM t GROUP BY text_hash HAVING count(DISTINCT source) > 1
    """,
)
def q_dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-keyed duplicate groups spanning multiple sources (see
    ``cross_source_dups``)."""
    return cross_source_dups(load(spark, sf_dir, "documents"))


INCREMENTAL_BATCH_SOURCE = "src0"  # stand-in for "today's crawl"


def incremental_dedup(batch: DataFrame, corpus: DataFrame) -> DataFrame:
    """Continuous-ingestion dedup: admit only batch docs whose text is
    (a) new vs the existing corpus and (b) unique within the batch
    (min-doc_id keep rule). Both passes key on ``md5(text)``:
    the corpus side projects to the bare hash column — at 100 TB that is
    a narrow one-column scan, and the production posture is the pre-built
    bucketed hash index (``build_corpus_hash_index`` +
    ``incremental_dedup_indexed`` below: co-located anti-join, zero
    corpus-side Exchange, plan-asserted in ``tests/test_bucketing.py``) —
    and the in-batch winner pass is a batch-sized aggregate, so
    per-increment cost scales with the increment plus one corpus hash
    scan (or index read), never a corpus rewrite."""
    h = F.md5(F.col("text")).alias("text_hash")
    corpus_hashes = corpus.select(h).distinct()
    batch_winners = (
        batch.select("doc_id", h)
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").cast("long").alias("n_in_batch"),
        )
    )
    return (
        batch_winners.join(corpus_hashes, "text_hash", "left_anti")
        .select("doc_id", "text_hash", "n_in_batch")
    )


CORPUS_HASH_INDEX_BUCKETS = 32


def build_corpus_hash_index(
    corpus: DataFrame, table: str, buckets: int = CORPUS_HASH_INDEX_BUCKETS
) -> None:
    """Materialize the production posture ``incremental_dedup`` documents:
    the corpus's distinct ``md5(text)`` hashes persisted as a bucketed,
    bucket-sorted parquet table. The corpus-wide shuffle is paid ONCE
    here, at build time; every subsequent increment's admission anti-join
    then reads the index co-located — no Exchange on the corpus (100 TB)
    side, asserted on the real plan in ``tests/test_bucketing.py``.

    Maintenance at scale: admitted hashes are appended per increment
    (``INSERT INTO`` preserves the bucket spec), so the index never needs
    a rebuild — the classic bucketed-dedup-ledger pattern."""
    (
        corpus.select(F.md5(F.col("text")).alias("text_hash"))
        .distinct()
        .write.mode("overwrite")
        .bucketBy(buckets, "text_hash")
        .sortBy("text_hash")
        .format("parquet")
        .saveAsTable(table)
    )


def incremental_dedup_indexed(
    batch: DataFrame, spark: SparkSession, index_table: str
) -> DataFrame:
    """``incremental_dedup`` with the corpus side served from the
    bucketed hash index (``build_corpus_hash_index``): identical admitted
    set, but the anti-join consumes the index's bucket partitioning
    instead of shuffling the corpus — with ``spark.sql.shuffle.partitions``
    matching the bucket count, the only Exchange left in the whole plan
    is the increment-sized batch aggregation."""
    batch_winners = (
        batch.select("doc_id", F.md5(F.col("text")).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").cast("long").alias("n_in_batch"),
        )
    )
    return (
        batch_winners.join(spark.table(index_table), "text_hash", "left_anti")
        .select("doc_id", "text_hash", "n_in_batch")
    )


@REG.add(
    "q_dedup_incremental",
    f"""
    WITH batch AS (
      SELECT doc_id, md5(text) AS text_hash FROM documents
      WHERE source = '{INCREMENTAL_BATCH_SOURCE}'
    ),
    corpus AS (
      SELECT DISTINCT md5(text) AS text_hash FROM documents
      WHERE source <> '{INCREMENTAL_BATCH_SOURCE}'
    ),
    winners AS (
      SELECT text_hash, min(doc_id) AS doc_id,
             CAST(count(*) AS BIGINT) AS n_in_batch
      FROM batch GROUP BY text_hash
    )
    SELECT doc_id, text_hash, n_in_batch
    FROM winners WHERE text_hash NOT IN (SELECT text_hash FROM corpus)
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-corpus) exact dedup: ``source='src0'`` plays
    the incoming crawl batch, every other source the existing corpus
    (see ``incremental_dedup``)."""
    docs = load(spark, sf_dir, "documents")
    is_batch = F.col("source") == INCREMENTAL_BATCH_SOURCE
    return incremental_dedup(docs.filter(is_batch), docs.filter(~is_batch))


# ---------------------------------------- incremental NEAR-dup admission

# The MinHash analog of the exact-hash ledger above: a production ingest
# needs "is this batch doc a NEAR duplicate of anything already admitted?"
# without re-banding the corpus per increment. The corpus side persists
# TWO bucketed tables — the banded-LSH signature index (candidate lookup)
# and the hashed-shingle sets (exact-Jaccard confirm) — each shuffled
# ONCE at build time; an increment's admission then pays only
# increment-sized work plus co-located index reads.
NEAR_INDEX_BUCKETS = 32


def _drop_table_and_location(spark: SparkSession, table: str) -> None:
    """DROP TABLE IF EXISTS plus stale-location cleanup: a managed
    table's directory can outlive its catalog entry (a previous session
    wrote it, this session's in-memory catalog never heard of it), and
    ``saveAsTable(mode="overwrite")`` then fails with
    LOCATION_ALREADY_EXISTS instead of overwriting. Index builds are
    full rebuilds by contract, so clearing the orphan dir is correct."""
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    warehouse = warehouse.removeprefix("file:")
    if warehouse:
        shutil.rmtree(os.path.join(warehouse, table), ignore_errors=True)


def _doc_toks(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, toks), the q_dedup_near tokenization."""
    return docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("toks")
    )


def build_corpus_near_index(
    corpus: DataFrame,
    prefix: str,
    buckets: int = NEAR_INDEX_BUCKETS,
    batch_id: int = -1,
) -> tuple[str, str]:
    """Materialize the near-dup admission index for ``corpus``: the
    ``{prefix}_bands`` table (doc_id, band_id, band_hash)
    bucketed+sorted on exactly the candidate join's keys
    (band_id, band_hash) — the increment's candidate join consumes this
    bucket partitioning with NO corpus-side Exchange — and the
    ``{prefix}_sets`` table (doc_id, sh) bucketed by doc_id for the
    co-located confirm join. Returns the two table names. Same ledger
    contract as ``build_corpus_hash_index``: admitted increments are
    APPENDED (``append_to_near_index``), bucket spec preserved, so the
    corpus-wide shuffle is never re-paid.

    Both tables are ADDITIONALLY hive-partitioned by ``batch_id`` (the
    build stamps ``batch_id`` on its rows, default -1 = the initial
    corpus): per-batch maintenance is then a dynamic-partition
    OVERWRITE of that batch's partition — replay-idempotent, the same
    device as ``corpus_ingest_sink``'s ledger write — and a replayed
    batch's admission can EXCLUDE its own prior rows with a
    planning-time partition filter (see ``corpus_ingest_sink_near``).
    Bucketed reads over the partitioned layout still satisfy the join
    distribution (one file per bucket per partition)."""
    from reactor_window_like_flink_spark.llm.dedup import (
        hashed_shingle_sets,
        minhash_bands,
    )

    toks = _doc_toks(corpus)
    bands_t, sets_t = f"{prefix}_bands", f"{prefix}_sets"
    for t in (bands_t, sets_t):
        _drop_table_and_location(toks.sparkSession, t)
    (
        minhash_bands(toks)
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .bucketBy(buckets, "band_id", "band_hash")
        .sortBy("band_id", "band_hash")
        .format("parquet")
        .saveAsTable(bands_t)
    )
    (
        hashed_shingle_sets(toks)
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .bucketBy(buckets, "doc_id")
        .sortBy("doc_id")
        .format("parquet")
        .saveAsTable(sets_t)
    )
    return bands_t, sets_t


def append_to_near_index(
    admitted: DataFrame, spark: SparkSession, prefix: str, batch_id: int = 0
) -> None:
    """Ledger maintenance: band + shingle-set rows for newly ADMITTED
    docs are written into the index tables' ``batch_id`` partition as a
    DYNAMIC-PARTITION OVERWRITE (bucket spec preserved), so the next
    increment's admission sees them and a crash-replayed maintenance
    write converges to identical content instead of double-appending."""
    from reactor_window_like_flink_spark.llm.dedup import (
        hashed_shingle_sets,
        minhash_bands,
    )

    toks = _doc_toks(admitted)
    with _session_conf(spark, "spark.sql.sources.partitionOverwriteMode", "dynamic"):
        (
            minhash_bands(toks)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .insertInto(f"{prefix}_bands")
        )
        (
            hashed_shingle_sets(toks)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .insertInto(f"{prefix}_sets")
        )


def _near_admission(
    batch_toks: DataFrame,
    corpus_bands: DataFrame | None,
    corpus_sets: DataFrame | None,
    lower_id_only: bool = False,
) -> DataFrame:
    """Core admission: batch docs → (doc_id, status, dup_of, jaccard).

    status='near_dup' iff some corpus doc shares an LSH band AND the
    exact hashed-shingle Jaccard confirms >= JACCARD_THRESHOLD;
    dup_of = the lowest confirming corpus doc_id, jaccard = the highest
    confirming similarity (deterministic aggregates over the confirmed
    match set — note they may come from different matches). Admitted
    docs carry (status='admitted', dup_of NULL, jaccard NULL).

    Scale shape: every frame here is increment-sized except the two
    corpus index reads — the candidate join consumes the bands table's
    bucket partitioning (batch side shuffles, corpus side does not) and
    the confirm join touches only candidate corpus doc_ids."""
    from reactor_window_like_flink_spark.llm.dedup import (
        JACCARD_THRESHOLD,
        hashed_shingle_sets,
        minhash_bands,
    )

    # bands, confirm sets and the final doc list all derive from the
    # batch tokens; the first two feed join build sides
    batch_toks = materialize(batch_toks, feeds_broadcast=True)
    bands_b = minhash_bands(batch_toks)
    sets_b = hashed_shingle_sets(batch_toks)
    if corpus_bands is None:  # self mode: bands/sets feed both join sides
        bands_b = materialize(bands_b)
        sets_b = materialize(sets_b)
    # lower_id_only: the IN-batch pass (corpus frames are the batch's own
    # bands/sets) — a doc is a near_dup iff it matches a LOWER-id batch
    # doc. The pair rule (drop on any match to an earlier doc, no
    # component/survivor election) is the standard corpus-dedup ingest
    # convention: order-free, increment-bounded, replay-stable.
    on = (F.col("a.band_id") == F.col("c.band_id")) & (
        F.col("a.band_hash") == F.col("c.band_hash")
    )
    if lower_id_only:
        on = on & (F.col("c.doc_id") < F.col("a.doc_id"))
    if corpus_bands is None:  # self mode: the batch IS the corpus side
        corpus_bands, corpus_sets = bands_b, sets_b
    cand = (
        bands_b.alias("a")
        .join(corpus_bands.alias("c"), on)
        .select(
            F.col("a.doc_id").alias("batch_id"),
            F.col("c.doc_id").alias("corpus_id"),
        )
        .dropDuplicates(["batch_id", "corpus_id"])
    )
    paired = (
        cand.join(
            sets_b.select(F.col("doc_id").alias("batch_id"), F.col("sh").alias("sh_a")),
            "batch_id",
        )
        .join(
            corpus_sets.select(
                F.col("doc_id").alias("corpus_id"), F.col("sh").alias("sh_b")
            ),
            "corpus_id",
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (
        F.size("sh_a") + F.size("sh_b") - F.size(F.array_intersect("sh_a", "sh_b"))
    )
    matches = (
        paired.withColumn("jaccard", round_to(inter / union, 4))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .groupBy("batch_id")
        .agg(
            F.min("corpus_id").alias("dup_of"),
            F.max("jaccard").alias("jaccard"),
        )
    )
    return (
        batch_toks.select("doc_id")
        .join(matches, F.col("doc_id") == F.col("batch_id"), "left")
        .select(
            "doc_id",
            F.when(F.col("dup_of").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("admitted"))
            .alias("status"),
            "dup_of",
            "jaccard",
        )
    )


def incremental_dedup_near(batch: DataFrame, corpus: DataFrame) -> DataFrame:
    """Index-free twin of ``incremental_dedup_near_indexed``: bands and
    sets computed from the raw corpus frame. Same admitted set (the
    banding devices are deterministic) — the re-banding reference the
    indexed path is tested against, and the form the registered key's
    pytest uses as its oracle."""
    from reactor_window_like_flink_spark.llm.dedup import (
        hashed_shingle_sets,
        minhash_bands,
    )

    corpus_toks = _doc_toks(corpus)
    return _near_admission(
        _doc_toks(batch),
        materialize(minhash_bands(corpus_toks)),
        materialize(hashed_shingle_sets(corpus_toks)),
    )


def incremental_dedup_near_indexed(
    batch: DataFrame,
    spark: SparkSession,
    prefix: str,
    exclude_batch_id: int | None = None,
) -> DataFrame:
    """Near-dup admission against the PERSISTED index (see
    ``build_corpus_near_index``): corpus-side shuffle paid once at build
    time, per-increment cost = increment-sized banding + co-located
    index joins. ``exclude_batch_id`` drops that batch's own index
    partition from BOTH tables (planning-time partition pruning) — the
    crash-replay guard: a re-run batch must not confirm against its own
    previously-appended copy (see ``corpus_ingest_sink_near``)."""
    bands = spark.table(f"{prefix}_bands")
    sets = spark.table(f"{prefix}_sets")
    if exclude_batch_id is not None:
        bands = bands.filter(F.col("batch_id") != exclude_batch_id)
        sets = sets.filter(F.col("batch_id") != exclude_batch_id)
    return _near_admission(_doc_toks(batch), bands, sets)


@REG.add("q_dedup_incremental_near")  # rows-only: xxhash64/banded LSH has
# no DuckDB mirror; pytest asserts equality with re-banding the whole
# corpus (incremental_dedup_near) and replay-idempotence after append.
def q_dedup_incremental_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup admission: ``source='src0'`` plays the
    incoming crawl batch, every other source the already-ingested
    corpus, served from the persisted banded-MinHash index (see
    ``build_corpus_near_index`` / ``incremental_dedup_near_indexed``).
    The MinHash analog of ``q_dedup_incremental``'s exact-hash ledger —
    the composition a production ingest needs to refuse paraphrased/
    near-identical re-crawls, not just byte-identical ones."""
    docs = load(spark, sf_dir, "documents")
    is_batch = F.col("source") == INCREMENTAL_BATCH_SOURCE

    def build() -> str:
        # deterministic name (md5, not Python's per-process-salted hash)
        # so a re-run on the same dataset OVERWRITES its old tables
        # instead of littering the warehouse
        prefix = f"near_idx_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}"
        build_corpus_near_index(docs.filter(~is_batch), prefix)
        return prefix

    def release(prefix: str) -> None:
        for t in (f"{prefix}_bands", f"{prefix}_sets"):
            _drop_table_and_location(spark, t)

    prefix = artifact("near_index", spark, sf_dir, build, release)
    return incremental_dedup_near_indexed(docs.filter(is_batch), spark, prefix)


# Source-drift (PSI) contract: fixed n_chars buckets so runs compare
# across snapshots; +0.5 Laplace smoothing keeps empty buckets finite and
# both engines' arithmetic exact-integer-derived.
DRIFT_BUCKET_WIDTH = 50
DRIFT_BUCKETS = 12  # clamps [0, 600) doc-length domain


@REG.add(
    "q_source_drift",
    f"""
    WITH c AS (
      SELECT source,
             LEAST({DRIFT_BUCKETS - 1},
                   CAST(FLOOR(n_chars / {DRIFT_BUCKET_WIDTH}) AS INT))
               AS bucket,
             count(*) AS cnt
      FROM documents GROUP BY 1, 2
    ),
    b AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS cb FROM c GROUP BY bucket),
    s AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS ns FROM c GROUP BY source),
    k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM b),
    n AS (SELECT CAST(sum(cb) AS BIGINT) AS n FROM b),
    j AS (
      SELECT s.source, s.ns, b.bucket, b.cb, COALESCE(c.cnt, 0) AS cnt
      FROM s CROSS JOIN b
      LEFT JOIN c ON c.source = s.source AND c.bucket = b.bucket
    )
    SELECT source, ns AS n_docs,
           (ROUND((SUM(((cnt + 0.5) / (ns + 0.5 * k.k)
                      - (cb + 0.5) / (n.n + 0.5 * k.k))
                     * ln(((cnt + 0.5) / (ns + 0.5 * k.k))
                          / ((cb + 0.5) / (n.n + 0.5 * k.k))))) * 10000, 0) / 10000.0) AS psi
    FROM j, k, n
    GROUP BY source, ns
    """,
)
def q_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift vs the whole corpus: Population
    Stability Index over the doc-length (n_chars) histogram — the
    "did this crawl source change shape since the baseline?" monitor
    (PSI > 0.2 is the conventional act-on-it threshold).

    PSI_s = sum_b (p_b - q_b) * ln(p_b / q_b), p = smoothed source share,
    q = smoothed corpus share, +0.5 Laplace smoothing over the K observed
    buckets so empty buckets stay finite and the sum is defined everywhere.

    Scale shape: ONE (source, bucket) count aggregate off the narrow scan
    (map-side combined; n_chars is a stored column, the text is never
    read); corpus-bucket and per-source totals RE-aggregate those counts;
    the zero-fill grid is an O(sources x buckets) cross join of two tiny
    aggregates, and every downstream join is broadcast. Output is
    O(sources) rows at any corpus size."""
    docs = load(spark, sf_dir, "documents")
    bucket = F.least(
        F.lit(DRIFT_BUCKETS - 1),
        F.floor(F.col("n_chars") / DRIFT_BUCKET_WIDTH).cast("int"),
    )
    c = (
        docs.select("source", bucket.alias("bucket"))
        .groupBy("source", "bucket")
        .agg(F.count("*").alias("cnt"))
        # shared by b, s, k, n and the grid join
        .transform(materialize)
    )
    b = c.groupBy("bucket").agg(F.sum("cnt").cast("long").alias("cb"))
    s = c.groupBy("source").agg(F.sum("cnt").cast("long").alias("ns"))
    # k (bucket count) and n (corpus total) ride along as window sums
    # over the O(buckets) frame instead of two more aggregate jobs +
    # broadcast builds: this key's sf0.1 cost is JOB COUNT, not data
    # (everything after c is <= sources x buckets rows), and the
    # single-partition window is over <= DRIFT_BUCKETS rows.
    wall = Window.partitionBy()
    b = b.select(
        "bucket",
        "cb",
        F.count("*").over(wall).cast("long").alias("k"),
        F.sum("cb").over(wall).cast("long").alias("n"),
    )
    grid = s.crossJoin(F.broadcast(b))
    j = grid.join(c, ["source", "bucket"], "left").withColumn(
        "cnt", F.coalesce(F.col("cnt"), F.lit(0))
    )
    p = (F.col("cnt") + 0.5) / (F.col("ns") + 0.5 * F.col("k"))
    q = (F.col("cb") + 0.5) / (F.col("n") + 0.5 * F.col("k"))
    return (
        j.withColumn("_t", (p - q) * F.log(p / q))
        .groupBy("source", "ns")
        .agg(round_to(F.sum("_t"), 4).alias("psi"))
        .select("source", F.col("ns").alias("n_docs"), "psi")
    )


@REG.add(
    "q_dedup_chunks",
    f"""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ),
    ch AS (
      SELECT doc_id,
             md5(array_to_string(
               list_slice(toks, start_tok, start_tok + {CHUNK_TOKENS} - 1),
               ' ')) AS chunk_hash,
             len(list_slice(toks, start_tok,
                            start_tok + {CHUNK_TOKENS} - 1)) AS n_tok
      FROM t, unnest(generate_series(1, greatest(len(toks), 1),
                                     {CHUNK_STRIDE})) AS u(start_tok)
    )
    SELECT chunk_hash,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           min(doc_id) AS keep_doc_id
    FROM ch
    WHERE n_tok = {CHUNK_TOKENS}
    GROUP BY chunk_hash
    HAVING count(DISTINCT doc_id) >= 2
    """,
)
def q_dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level dedup: full 64-token context windows (from
    ``q_chunk_tokens``) that recur across >= 2 documents — the
    passage-granularity pass that catches syndicated paragraphs inside
    otherwise-distinct documents, which doc-level exact/near dedup misses.
    Short tail windows are excluded (they'd alias every shared suffix).

    Scale shape: the chunking stays a narrow zero-shuffle explode; the
    only shuffle keys on chunk_hash (32-hex string — text never moves,
    same economics as q_dedup_exact), with the distinct-doc count and
    min-id survivor computed in the same map-side-combined aggregate.
    Output is O(duplicated chunks) rows."""
    chunks = q_chunk_tokens(spark, sf_dir).filter(
        F.col("n_tok") == CHUNK_TOKENS
    )
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_occurrences"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


NOVELTY_NGRAM = 3  # same trigram width as decontamination


@REG.add(
    "q_ngram_novelty",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(string_split(lower(text), ' ')) < 3
               THEN [lower(text)]
               ELSE list_transform(
                 generate_series(1, len(string_split(lower(text), ' ')) - 2),
                 i -> string_split(lower(text), ' ')[i] || ' '
                      || string_split(lower(text), ' ')[i + 1] || ' '
                      || string_split(lower(text), ' ')[i + 2]) END) AS sh
      FROM documents
    ),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM t),
    dfc AS (SELECT s, count(*) AS n_docs FROM ex GROUP BY s)
    SELECT ex.doc_id,
           CAST(count(*) AS BIGINT) AS n_trigrams,
           CAST(sum(CASE WHEN dfc.n_docs = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           (ROUND((CAST(sum(CASE WHEN dfc.n_docs = 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*)) * 10000, 0) / 10000.0) AS novelty
    FROM ex JOIN dfc USING (s)
    GROUP BY ex.doc_id
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's DISTINCT word
    trigrams that appear in no other document — the complement of the
    repetition/boilerplate axis (novelty ~ 0 means the doc is assembled
    from corpus-common phrases; ~1 means genuinely new text, or noise).
    The dedup/curation stack uses it to pick which duplicate to keep and
    to cap the template-heavy tail.

    Scale shape: same economics as q_decontaminate — per-doc distinct
    shingles from pure JVM array ops, one explode whose shuffle carries
    (doc_id, trigram) pairs, trigram document-frequency as a re-aggregate
    of that explode (materialized once via localCheckpoint), then a keyed join back and
    a per-doc count aggregate. Text never shuffles."""
    toks = _tokenized(spark, sf_dir)
    ex = toks.select(
        "doc_id", F.explode(_shingles_from_toks(NOVELTY_NGRAM)).alias("s")
    ).transform(materialize)  # shared by the df aggregate and the join back
    dfc = ex.groupBy("s").agg(F.count("*").alias("n_docs"))
    novel = F.sum(F.when(F.col("n_docs") == 1, 1).otherwise(0))
    return (
        ex.join(dfc, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_trigrams"),
            novel.cast("long").alias("n_novel"),
            round_to(novel.cast("double") / F.count("*"), 4).alias("novelty"),
        )
    )


# End-to-end curation composite: the LLM-pipeline analog of the TPC-H
# composite keys — length gate -> exact dedup -> deterministic split ->
# mixture report, as ONE plan.
PIPE_MIN_CHARS = 100
PIPE_MAX_CHARS = 500
PIPE_TRAIN_PCT = 80
PIPE_VAL_PCT = 10


@REG.add(
    "q_curation_pipeline",
    f"""
    WITH gated AS (
      SELECT doc_id, lang, source, n_chars, md5(text) AS h
      FROM documents
      WHERE n_chars BETWEEN {PIPE_MIN_CHARS} AND {PIPE_MAX_CHARS}
    ),
    kept AS (
      SELECT h, min(doc_id) AS doc_id FROM gated GROUP BY h
    ),
    winners AS (
      SELECT g.doc_id, g.lang, g.source, g.n_chars
      FROM gated g JOIN kept k ON g.doc_id = k.doc_id AND g.h = k.h
    ),
    split AS (
      SELECT lang, source, n_chars,
             CASE WHEN {_duck_bucket("doc_id")} < {PIPE_TRAIN_PCT}
                    THEN 'train'
                  WHEN {_duck_bucket("doc_id")}
                         < {PIPE_TRAIN_PCT + PIPE_VAL_PCT} THEN 'val'
                  ELSE 'test' END AS split
      FROM winners
    )
    SELECT split, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM split
    GROUP BY split, lang
    """,
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation composite (the pipeline a user actually runs,
    as one Catalyst plan): length gate -> exact dedup (min-id winner per
    md5) -> deterministic 80/10/10 split (md5 bucket of doc_id, same
    machinery as q_train_split) -> per-(split, lang) mixture report.

    Scale shape: the gate is a pushdown-eligible predicate on the stored
    n_chars column (never touches text); the only data-sized shuffle keys
    on the 32-hex md5; the winner join keys on (h, doc_id); split
    assignment is a pure hash expression; the report is a tiny two-level
    aggregate. One composite plan means Catalyst prunes columns across
    stage boundaries — text is read once for the md5 and never carried
    further — which is the argument for running curation as chained
    DataFrames instead of materialized intermediate tables when no stage
    is reused."""
    docs = load(spark, sf_dir, "documents")
    gated = (
        docs.filter(
            F.col("n_chars").between(PIPE_MIN_CHARS, PIPE_MAX_CHARS)
        )
        .select("doc_id", "lang", "source", "n_chars", F.md5("text").alias("h"))
        # shared by the per-hash winner aggregate and the winner join
        .transform(materialize)
    )
    kept = gated.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    winners = gated.join(kept, ["h", "doc_id"])
    b = _hash_bucket(F.col("doc_id"))
    split = winners.withColumn(
        "split",
        F.when(b < PIPE_TRAIN_PCT, "train")
        .when(b < PIPE_TRAIN_PCT + PIPE_VAL_PCT, "val")
        .otherwise("test"),
    )
    return split.groupBy("split", "lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )


def fold_ledger_window(
    spark: SparkSession,
    ledger_dir: str,
    lo: int,
    hi: int,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> None:
    """Compact ledger partitions batch_id in [lo, hi) in place, with a
    crash-recoverable three-step swap.

    Invariant: the partition's rows live under exactly one of
    ``batch_id={k}`` (src), ``.compact-tmp-{k}`` (tmp, complete only
    after ``compact`` returns), or ``.compact-old-{k}`` (old). The swap
    is rename(src→old) → rename(tmp→src) → delete(old); a crash between
    any two steps leaves a state the top of this loop repairs:

    - src missing + tmp present  → crashed between the two renames:
      finish with rename(tmp→src), drop old.
    - src present + old present  → crashed before delete(old): drop old
      (src is already the compacted copy).
    - tmp present + src present  → crashed mid-``compact`` (tmp may be
      partial): tmp is deleted and rebuilt, src untouched.

    Every fs.rename/fs.delete boolean is checked — a False return (e.g.
    a permissions regression) raises instead of silently dropping the
    window, and a failed tmp→src rename rolls old back to src so the
    ledger is never left without the partition. Deletes tolerate
    already-absent paths (HDFS ``delete`` returns False for those) but
    raise when the path SURVIVES a False return — a silently failing
    delete would otherwise leave .compact-old/-tmp dirs behind
    (repairable on the next run, but worth failing loudly for)."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    jpath_cls = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
    fs = jpath_cls(ledger_dir).getFileSystem(hconf)

    def _delete_checked(jpath, label: str) -> None:
        if not fs.delete(jpath, True) and fs.exists(jpath):
            raise IOError(f"compaction delete failed: {label}")
    for k in range(lo, hi):
        src = f"{ledger_dir}/batch_id={k}"
        tmp = f"{ledger_dir}/.compact-tmp-{k}"
        old = f"{ledger_dir}/.compact-old-{k}"
        jsrc, jtmp, jold = jpath_cls(src), jpath_cls(tmp), jpath_cls(old)
        if not fs.exists(jsrc):
            if fs.exists(jtmp):
                # interrupted between rename(src->old) and rename(tmp->src):
                # tmp is the COMPLETE compacted copy — finish the swap.
                if not fs.rename(jtmp, jsrc):
                    raise IOError(f"compaction recovery rename failed: {tmp}")
                _delete_checked(jold, old)
            elif fs.exists(jold):
                # interrupted right after rename(src->old) with no tmp
                # left (tmp was cleaned): old IS the data — restore it.
                if not fs.rename(jold, jsrc):
                    raise IOError(f"compaction recovery rename failed: {old}")
            else:
                continue  # partition genuinely absent
        elif fs.exists(jold):
            # interrupted before delete(old): src is the compacted copy.
            _delete_checked(jold, old)
        n_files = sum(
            1
            for s in fs.listStatus(jsrc)
            if s.getPath().getName().startswith("part-")
        )
        if n_files <= 1:
            continue  # already compact (or replay after a fold)
        _delete_checked(jtmp, tmp)
        layout_compact(spark, src, tmp, target_file_bytes)
        if not fs.rename(jsrc, jold):
            raise IOError(f"compaction swap rename failed: {src} -> {old}")
        if not fs.rename(jtmp, jsrc):
            # roll back so the ledger never loses the partition
            if not fs.rename(jold, jsrc):
                raise IOError(
                    f"compaction swap rename failed: {tmp} -> {src}; "
                    f"ROLLBACK {old} -> {src} ALSO FAILED — partition "
                    f"{k} is parked at {old} (next run repairs it)"
                )
            raise IOError(f"compaction swap rename failed: {tmp} -> {src}")
        _delete_checked(jold, old)


def corpus_ingest_sink(
    spark: SparkSession,
    ledger_dir: str,
    compact_every: int = 0,
    target_file_bytes: int = 128 * 1024 * 1024,
):
    """Continuous corpus curation as a ``foreachBatch`` sink: each
    micro-batch of raw documents is exact-deduped IN-batch (min-id winner
    per md5) and admitted against everything already in the ledger, and
    the admitted rows land in the ledger's own ``batch_id=N`` partition
    — the streaming composition of ``incremental_dedup`` (the admit
    join), ``sources/sinks.py:idempotent_batch_sink`` (the exactly-once
    write), and the corpus ledger itself.

    The exactly-once subtlety this encodes: on crash-replay, Spark
    re-runs the last batch with the SAME batch_id — but by then the
    ledger already contains that batch's own rows, so a naive admit
    anti-join would drop them all and the idempotent overwrite would
    EMPTY the partition (silent data loss on recovery). The admit
    therefore reads the ledger EXCLUDING the current batch_id — a
    partition-pruned filter on the hive column — making replay a no-op
    rewrite of identical content (asserted by
    ``tests/test_curation.py``).

    Scale posture: the per-batch ledger read is a one-column (text_hash)
    scan; at corpus scale that side lives as the bucketed hash index
    (``build_corpus_hash_index``) so the admit anti-join co-locates
    without an Exchange.

    Compaction (``compact_every > 0``): continuous ingestion otherwise
    writes one file per micro-batch partition FOREVER — the small-files
    problem ``sources/layout.py:compact`` exists to solve. Every
    ``compact_every`` batches, the just-completed window of batch
    partitions is folded to ~``target_file_bytes`` files each via
    ``compact`` into a side directory, then swapped in. Only COMPLETED
    partitions (batch_id < current) are touched, so compaction never
    races the current batch's overwrite; crash-replay of the triggering
    batch re-runs the same fold over identical content (idempotent —
    ``compact`` derives its file count from source bytes).

    The swap is crash-recoverable rename-rename-delete, never
    delete-then-rename: src → .compact-old-{k}, tmp → src, delete old.
    At every intermediate point the window's data exists under exactly
    one of (src, tmp, old), and the top of the fold loop repairs any
    interrupted swap before re-folding — so a crash at ANY boundary
    loses nothing and replay converges (asserted by the interrupted-swap
    tests in ``tests/test_curation.py``). An object-store deployment
    swaps a catalog pointer instead, per the ``compact`` docstring."""
    from pyspark.errors import AnalysisException

    def _fold_window(lo: int, hi: int) -> None:
        return fold_ledger_window(
            spark, ledger_dir, lo, hi, target_file_bytes
        )

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.select("doc_id", "text", "lang", "source").withColumn(
            "text_hash", F.md5("text")
        )
        winners = b.join(
            b.groupBy("text_hash").agg(F.min("doc_id").alias("doc_id")),
            ["text_hash", "doc_id"],
        )
        # The ledger holds winners' rows under a batch_id partition column;
        # reading with that schema skips the per-batch inference job.
        ledger_schema = StructType(
            [
                winners.schema["text_hash"],
                winners.schema["doc_id"],
                StructField("batch_id", IntegerType()),
            ]
        )
        try:
            ledger = spark.read.schema(ledger_schema).parquet(ledger_dir)
            prior = ledger.filter(F.col("batch_id") != batch_id).select(
                "text_hash"
            )
            admitted = winners.join(prior, "text_hash", "left_anti")
        except AnalysisException:  # first batch: no ledger yet
            admitted = winners
        admitted.write.mode("overwrite").parquet(
            f"{ledger_dir}/batch_id={batch_id}"
        )
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            _fold_window(batch_id - compact_every, batch_id)

    return admit


def corpus_ingest_sink_near(
    spark: SparkSession,
    ledger_dir: str,
    index_prefix: str,
    buckets: int = NEAR_INDEX_BUCKETS,
    compact_every: int = 0,
    target_file_bytes: int = 128 * 1024 * 1024,
):
    """Continuous NEAR-dup corpus ingestion as a ``foreachBatch`` sink —
    the streaming composition the README's continuous-ingestion claim
    implies for paraphrased/near-identical re-crawls, upgrading
    ``corpus_ingest_sink``'s exact-hash admission to banded MinHash:

    per micro-batch, a doc is ADMITTED iff it near-matches (LSH band
    collision + exact hashed-shingle Jaccard >= threshold) neither
    (a) a LOWER-id doc in the same batch (the pair rule — order-free,
    increment-bounded) nor (b) anything in the persisted signature
    index. Admitted rows land in the ledger's ``batch_id=N`` partition
    AND their band/shingle-set rows land in the index tables'
    ``batch_id=N`` partitions — both as overwrites, so the whole step
    is replay-idempotent.

    The exactly-once subtlety, near-dup edition: on crash-replay Spark
    re-runs the batch with the SAME batch_id, and by then the index
    already holds that batch's own rows — every doc would confirm
    against its own copy at Jaccard 1.0 and the overwrite would EMPTY
    the ledger partition. The admission therefore EXCLUDES the current
    ``batch_id``'s index partitions (planning-time partition pruning —
    the same device as ``corpus_ingest_sink``'s ledger-read exclusion),
    making replay a no-op rewrite of identical content (asserted in
    ``tests/test_curation.py``).

    Scale shape: per-batch cost is increment-sized banding plus
    co-located bucketed index joins (``build_corpus_near_index``); the
    corpus-side shuffle was paid once at index build and per-partition
    on append — never re-paid at admission.

    ``compact_every > 0`` composes the same periodic small-file
    compaction as ``corpus_ingest_sink`` (ledger partitions share the
    ``batch_id=N`` layout, so ``fold_ledger_window``'s crash-recoverable
    swap applies verbatim); the index tables don't need it — each
    batch's index rows are already one bucketed file set per
    partition."""

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.select("doc_id", "text", "lang", "source")
        keep_self = (
            _near_admission(_doc_toks(b), None, None, lower_id_only=True)
            .filter(F.col("status") == "admitted")
            .select("doc_id")
        )
        if spark.catalog.tableExists(f"{index_prefix}_bands"):
            keep_idx = (
                incremental_dedup_near_indexed(
                    b, spark, index_prefix, exclude_batch_id=batch_id
                )
                .filter(F.col("status") == "admitted")
                .select("doc_id")
            )
            keep = keep_self.join(keep_idx, "doc_id")
            admitted = materialize(b.join(keep, "doc_id"))
            admitted.write.mode("overwrite").parquet(
                f"{ledger_dir}/batch_id={batch_id}"
            )
            append_to_near_index(admitted, spark, index_prefix, batch_id)
        else:  # first batch: the admitted rows BECOME the index
            admitted = materialize(b.join(keep_self, "doc_id"))
            admitted.write.mode("overwrite").parquet(
                f"{ledger_dir}/batch_id={batch_id}"
            )
            build_corpus_near_index(
                admitted, index_prefix, buckets, batch_id=batch_id
            )
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            fold_ledger_window(
                spark,
                ledger_dir,
                batch_id - compact_every,
                batch_id,
                target_file_bytes,
            )

    return admit


# q_filter_funnel rule thresholds (token count bounds, min distinct-token
# ratio). Ordered: a doc is attributed to the FIRST rule it fails, the
# convention that makes per-rule drop counts sum to total drops.
FUNNEL_MIN_TOK = 20
FUNNEL_MAX_TOK = 88
FUNNEL_MIN_DIV = 0.35
_FUNNEL_STAGES = [
    (0, "too_short"),
    (1, "too_long"),
    (2, "low_diversity"),
    (3, "kept"),
]


@REG.add(
    "q_filter_funnel",
    f"""
    WITH d AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tok,
             len(list_distinct(string_split(lower(text), ' '))) * 1.0
               / len(string_split(text, ' ')) AS dv
      FROM documents
    ),
    f AS (
      SELECT CASE WHEN n_tok < {FUNNEL_MIN_TOK} THEN 0
                  WHEN n_tok > {FUNNEL_MAX_TOK} THEN 1
                  WHEN dv < {FUNNEL_MIN_DIV} THEN 2
                  ELSE 3 END AS stage_idx
      FROM d
    ),
    c AS (SELECT stage_idx, count(*) AS n FROM f GROUP BY 1),
    s(stage_idx, stage) AS (VALUES
      (0, 'too_short'), (1, 'too_long'), (2, 'low_diversity'),
      (3, 'kept')),
    j AS (SELECT s.stage_idx, s.stage, COALESCE(c.n, 0) AS n
          FROM s LEFT JOIN c USING (stage_idx))
    SELECT stage_idx, stage, CAST(n AS BIGINT) AS n_docs,
           CAST(SUM(n) OVER () - COALESCE(SUM(n) OVER (ORDER BY stage_idx
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS n_in,
           (ROUND((n / CAST(SUM(n) OVER () AS DOUBLE)) * 10000, 0) / 10000.0) AS pct_of_total
    FROM j
    """,
)
def q_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter funnel with first-fail attribution: every document
    is charged to the FIRST rule (too_short -> too_long ->
    low_diversity) it violates, and the output is one row per stage —
    docs dropped there, docs that entered it, share of the corpus. The
    observability pass a production curation pipeline runs before
    committing thresholds: it answers "which rule is doing the work,
    and what does each stage see" without materializing any filtered
    corpus.

    Scale shape: ONE narrow scan computes the per-doc stage in a single
    codegen'd CASE (no text leaves the scan); the groupBy shuffles
    O(#rules) = 4 distinct keys with map-side combine; the cumulative
    n_in window runs over the 4-row stage frame (O(#rules), not
    O(docs)); the stage catalog joins as a broadcast literal frame so
    zero-drop rules still report a row."""
    docs = load(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    dv = (
        F.size(F.array_distinct(F.split(F.lower("text"), " ")))
        .cast("double")
        / n_tok
    )
    stage_idx = (
        F.when(n_tok < FUNNEL_MIN_TOK, 0)
        .when(n_tok > FUNNEL_MAX_TOK, 1)
        .when(dv < FUNNEL_MIN_DIV, 2)
        .otherwise(3)
    )
    return funnel_report(
        spark, docs.select(stage_idx.alias("stage_idx")), _FUNNEL_STAGES
    )


def funnel_report(
    spark: SparkSession,
    stage_idx_df: DataFrame,
    stages: list[tuple[int, str]],
) -> DataFrame:
    """First-fail funnel report shared by every funnel key (the
    ``q_filter_funnel`` arithmetic, extracted so classifier/other rule
    sets can't drift from it): given one ``stage_idx`` row per document
    and the ordered (idx, name) stage catalog, emit per stage the drop
    count, telescoping stage input ``n_in``, and corpus share.

    Scale shape: the groupBy shuffles O(#rules) distinct keys with
    map-side combine; the unpartitioned windows run over the O(#rules)
    stage catalog, never the corpus; the corpus total is the SUM of the
    stage counts (every doc is charged to exactly one stage), so no
    second count(*) pass over the table exists; the stage catalog joins
    as a broadcast literal frame so zero-drop rules still report."""
    c = stage_idx_df.groupBy("stage_idx").agg(F.count("*").alias("n"))
    catalog = spark.createDataFrame(stages, "stage_idx int, stage string")
    j = F.broadcast(catalog).join(c, "stage_idx", "left").withColumn(
        "n", F.coalesce("n", F.lit(0))
    )
    w_prev = Window.orderBy("stage_idx").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.orderBy("stage_idx").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot = F.sum("n").over(w_all).cast("double")
    return j.select(
        "stage_idx",
        "stage",
        F.col("n").cast("long").alias("n_docs"),
        (tot - F.coalesce(F.sum("n").over(w_prev), F.lit(0).cast("long")))
        .cast("long")
        .alias("n_in"),
        round_to(F.col("n") / tot, 4).alias("pct_of_total"),
    )
