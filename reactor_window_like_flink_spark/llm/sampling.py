"""Deterministic sampling, splitting, and ordering for training-data
pipelines.

Random sampling is the wrong tool at 100 TB: re-runs must produce the SAME
subset (caching, incremental rebuilds, reproducibility audits), and split
membership must be a pure function of the record key so a document never
migrates from test to train between pipeline versions. Every operator here
derives its randomness from ``md5(key)`` — stable across engines, runs,
partitionings, and cluster sizes; no ``rand()``, no seed plumbing.

Scale design: each operator is a narrow projection + filter (no shuffle at
all for sample/split — the hash is computed streaming over the scan);
the deterministic global shuffle is one range-partitioned sort, Spark's
standard distributed ORDER BY. All expressions are built-ins, inside
whole-stage codegen.

Reference parity note: the reference engine (WindowPublisher.java) has no
sampling surface; north-star scope from BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reactor_window_like_flink_spark.contract import Registry, round_to
from reactor_window_like_flink_spark.functions.materialize import materialize
from reactor_window_like_flink_spark.llm.text import _tokens
from reactor_window_like_flink_spark.sources.tables import load

REG = Registry()

SAMPLE_PCT = 20  # q_sample_hash keep rate
TRAIN_PCT, VAL_PCT = 80, 10  # q_train_split: 80/10/10


def _hash_bucket(key: F.Column) -> F.Column:
    """Stable 0-99 bucket from md5 of the stringified key — first 8 hex
    chars parsed base-16. Identical in DuckDB as
    ``CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8)) AS BIGINT)``."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("long")
        % 100
    )


def _duck_bucket(key_sql: str) -> str:
    return (
        f"CAST(('0x' || substr(md5(CAST({key_sql} AS VARCHAR)), 1, 8))"
        f" AS BIGINT) % 100"
    )


@REG.add(
    "q_sample_hash",
    f"""
    SELECT doc_id, lang, source,
           {_duck_bucket("doc_id")} AS bucket
    FROM documents
    WHERE {_duck_bucket("doc_id")} < {SAMPLE_PCT}
    """,
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~20% sample of documents keyed on md5(doc_id).
    Stateless and shuffle-free: the filter rides the scan, so sampling
    100 TB costs one pass and re-runs select the identical subset."""
    docs = load(spark, sf_dir, "documents")
    b = _hash_bucket(F.col("doc_id"))
    return docs.select("doc_id", "lang", "source", b.alias("bucket")).filter(
        F.col("bucket") < SAMPLE_PCT
    )


@REG.add(
    "q_train_split",
    f"""
    WITH assigned AS (
      SELECT lang,
             CASE WHEN {_duck_bucket("doc_id")} < {TRAIN_PCT} THEN 'train'
                  WHEN {_duck_bucket("doc_id")} < {TRAIN_PCT + VAL_PCT} THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs
    FROM assigned GROUP BY lang, split
    """,
)
def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment as a pure function of doc_id —
    a document can never hop splits between runs or cluster sizes. The
    aggregate here audits the split balance per language; the per-row
    ``split`` column is what a pipeline would write out."""
    docs = load(spark, sf_dir, "documents")
    b = _hash_bucket(F.col("doc_id"))
    assigned = docs.select(
        "lang",
        F.when(b < TRAIN_PCT, "train")
        .when(b < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
        .alias("split"),
    )
    return assigned.groupBy("lang", "split").agg(F.count("*").alias("n_docs"))


WEIGHTED_K = 100  # q_sample_weighted: top-k kept


@REG.add(
    "q_sample_weighted",
    f"""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                      AS BIGINT) + 1) / 4294967296.0) / n_chars AS es_key
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, source, n_chars
    FROM keyed ORDER BY es_key DESC, doc_id LIMIT {WEIGHTED_K}
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement (Efraimidis &
    Spirakis, IPL'06): each doc draws a stable uniform u from md5(doc_id)
    and competes with key u^(1/w) — equivalently ln(u)/w, compared in log
    space — so inclusion probability tracks the weight (here ``n_chars``,
    the mix-by-content-volume story) and re-runs select the identical
    subset at any cluster size.

    Scale shape: the key is a pure per-row expression on the scan (no
    RNG state, no shuffle), and the top-k runs as per-partition
    ``TakeOrderedAndProject`` heaps — sampling 100 TB is one pass, like
    ``q_sample_hash``, but probability-proportional-to-size. The ES key
    (not the raw weight) is what makes take-top-k a valid draw: a doc
    with twice the weight doubles its odds, it does not deterministically
    displace lighter docs.

    The emitted columns exclude the key itself: Spark and DuckDB agree on
    its ordering (same md5-derived u, same ln) but not necessarily on the
    last ulp of the double, so the *set* is hash-stable while the float
    would not be."""
    docs = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 32))
    es_key = F.log(u) / F.col("n_chars")
    return (
        docs.select("doc_id", "source", "n_chars", es_key.alias("es_key"))
        .orderBy(F.desc("es_key"), F.asc("doc_id"))
        .limit(WEIGHTED_K)
        .select("doc_id", "source", "n_chars")
    )


@REG.add(
    "q_shuffle_rank",
    """
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                AS BIGINT) AS shuffle_rank
    FROM documents
    """,
)
def q_shuffle_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle order for training: rank by
    md5(doc_id) with doc_id tie-break — decorrelates training order from
    any ingest/source ordering, identically on every run.

    Scalable global-rank shape: ``row_number() OVER (ORDER BY ...)`` with
    no PARTITION BY funnels every row through ONE task, so instead we
    range-partition by the sort key (Spark's distributed ORDER BY), rank
    *within* partitions, and add per-partition offsets computed from a
    partition-count aggregate — the only driver-side data is one row per
    partition. ``localCheckpoint`` pins the partitioning so the count job
    and the final job see identical placement."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    keyed = docs.select("doc_id", F.md5(F.col("doc_id").cast("string")).alias("k"))
    parts = (
        keyed.repartitionByRange(
            spark.sparkContext.defaultParallelism, "k", "doc_id"
        )
        .sortWithinPartitions("k", "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .transform(materialize)
    )
    counts = sorted(
        (r["pid"], r["cnt"])
        for r in parts.groupBy("pid").agg(F.count("*").alias("cnt")).collect()
    )
    offsets, acc = [], 0
    for pid, cnt in counts:
        offsets.append((pid, acc))
        acc += cnt
    off_df = spark.createDataFrame(offsets, "pid int, off long")
    w = Window.partitionBy("pid").orderBy("k", "doc_id")
    return (
        parts.join(F.broadcast(off_df), "pid")
        .select(
            "doc_id",
            (F.row_number().over(w) + F.col("off")).cast("long").alias(
                "shuffle_rank"
            ),
        )
    )


SEQ_TOKEN_BUDGET = 256  # tokens per packed training sequence


@REG.add(
    "q_pack_sequences",
    f"""
    WITH sized AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS k
      FROM documents
    ), offs AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY k, doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens
               AS start_offset
      FROM sized
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(start_offset AS BIGINT) AS start_offset,
           CAST(start_offset // {SEQ_TOKEN_BUDGET} AS BIGINT) AS seq_id,
           ((start_offset + n_tokens - 1) // {SEQ_TOKEN_BUDGET}
            > start_offset // {SEQ_TOKEN_BUDGET}) AS spans_boundary
    FROM offs
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing — the standard LM-pretraining
    move: lay documents out as one deterministic token stream (md5 shuffle
    order, same key as ``q_shuffle_rank``) and cut it into
    ``SEQ_TOKEN_BUDGET``-token training sequences. Emits each document's
    stream offset, owning sequence id, and whether it straddles a cut
    (the attention-masking case).

    Scalable global-cumsum shape: a plain ``SUM() OVER (ORDER BY ...)``
    with no PARTITION BY funnels 100 TB through ONE task, so the stream
    offset is computed as range-partitioned per-partition cumulative sums
    plus per-partition token offsets (one aggregate row per partition to
    the driver — same pattern as ``q_shuffle_rank``). ``localCheckpoint``
    pins partition placement so the offset job and the final job agree."""
    docs = load(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    return pack_token_stream(spark, sized, SEQ_TOKEN_BUDGET)


def pack_token_stream(
    spark: SparkSession, sized: DataFrame, budget: int
) -> DataFrame:
    """Core of ``q_pack_sequences`` over any ``(doc_id, n_tokens)``
    DataFrame: md5-ordered token stream, distributed cumsum, chunk into
    ``budget``-token sequences. See ``q_pack_sequences`` for the oracle
    contract and scale rationale."""
    from pyspark.sql import Window

    keyed = sized.withColumn("k", F.md5(F.col("doc_id").cast("string")))
    parts = (
        keyed.repartitionByRange(
            spark.sparkContext.defaultParallelism, "k", "doc_id"
        )
        .sortWithinPartitions("k", "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .transform(materialize)
    )
    counts = sorted(
        (r["pid"], r["tok"] or 0)
        for r in parts.groupBy("pid").agg(F.sum("n_tokens").alias("tok")).collect()
    )
    offsets, acc = [], 0
    for pid, tok in counts:
        offsets.append((pid, acc))
        acc += int(tok)
    off_df = spark.createDataFrame(offsets or [(0, 0)], "pid int, off long")
    w = (
        Window.partitionBy("pid")
        .orderBy("k", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens") + F.col("off")).cast(
        "long"
    )
    return (
        parts.join(F.broadcast(off_df), "pid")
        .withColumn("start_offset", start)
        .select(
            "doc_id",
            "n_tokens",
            "start_offset",
            F.expr(f"start_offset DIV {budget}").alias("seq_id"),
            F.expr(
                f"(start_offset + n_tokens - 1) DIV {budget}"
                f" > start_offset DIV {budget}"
            ).alias("spans_boundary"),
        )
    )


# Per-language keep rates: downsample the high-resource language, keep all
# of the low-resource ones — the standard rebalancing move before training.
STRATA_PCT = {"en": 10, "zh": 50}
STRATA_DEFAULT_PCT = 80


def _strata_rate(lang: F.Column) -> F.Column:
    rate = F.lit(STRATA_DEFAULT_PCT)
    for lg, pct in STRATA_PCT.items():
        rate = F.when(lang == lg, pct).otherwise(rate)
    return rate


@REG.add(
    "q_sample_stratified",
    f"""
    WITH rated AS (
      SELECT doc_id, lang,
             CASE WHEN lang = 'en' THEN {STRATA_PCT["en"]}
                  WHEN lang = 'zh' THEN {STRATA_PCT["zh"]}
                  ELSE {STRATA_DEFAULT_PCT} END AS rate,
             {_duck_bucket("doc_id")} AS bucket
      FROM documents
    )
    SELECT doc_id, lang, bucket FROM rated WHERE bucket < rate
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-language keep rates over the
    same md5 bucket as ``q_sample_hash``, so strata rates can be retuned
    without reshuffling membership (a doc kept at 10% stays kept at 50%).
    Still shuffle-free — rate lookup is a CASE expression on the scan."""
    docs = load(spark, sf_dir, "documents")
    b = _hash_bucket(F.col("doc_id"))
    return (
        docs.select("doc_id", "lang", b.alias("bucket"))
        .filter(F.col("bucket") < _strata_rate(F.col("lang")))
    )


# Context-window chunking: the step between curation and packing in a
# training pipeline — split each document into fixed-size overlapping
# token windows (stride < window = overlap tokens shared by neighbors).
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # 16-token overlap


@REG.add(
    "q_chunk_tokens",
    f"""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    )
    SELECT doc_id,
           CAST((start_tok - 1) / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(len(list_slice(toks, start_tok,
                               start_tok + {CHUNK_TOKENS} - 1)) AS BIGINT)
             AS n_tok,
           md5(array_to_string(
             list_slice(toks, start_tok, start_tok + {CHUNK_TOKENS} - 1),
             ' ')) AS chunk_hash
    FROM t, unnest(generate_series(1, greatest(len(toks), 1),
                                   {CHUNK_STRIDE})) AS u(start_tok)
    """,
)
def q_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: each document's whitespace tokens split
    into 64-token windows every 48 tokens (the
    final window may be shorter), emitting a deterministic md5 per chunk
    — the unit for chunk-level dedup / retrieval indexing.

    Scale shape: narrow scan (doc_id, text) → per-row ``sequence`` +
    ``explode`` + ``slice``, all JVM expressions inside whole-stage
    codegen — zero shuffles, output rows ~ tokens/stride per doc. The
    explode multiplies rows before any shuffle a downstream op adds, so
    chunk-level dedup keys on (chunk_hash) exactly like
    ``q_dedup_exact`` keys on md5(text)."""
    docs = load(spark, sf_dir, "documents")
    d = docs.select("doc_id", _tokens().alias("toks"))
    e = d.select(
        "doc_id",
        "toks",
        F.explode(
            F.expr(
                f"sequence(1, greatest(size(toks), 1), {CHUNK_STRIDE})"
            )
        ).alias("start_tok"),
    )
    chunk = F.expr(f"slice(toks, start_tok, {CHUNK_TOKENS})")
    return e.select(
        "doc_id",
        ((F.col("start_tok") - 1) / CHUNK_STRIDE)
        .cast("long")
        .alias("chunk_idx"),
        F.col("start_tok").cast("long").alias("start_tok"),
        F.size(chunk).cast("long").alias("n_tok"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


CLUSTER_BAL_K = 100  # q_sample_cluster_balanced: top-k kept


@REG.add(
    "q_sample_cluster_balanced",
    f"""
    WITH g AS (
      SELECT doc_id, source, md5(lower(trim(text))) AS h FROM documents
    ),
    sz AS (SELECT h, count(*) AS gsz FROM g GROUP BY h),
    keyed AS (
      SELECT doc_id, source, gsz,
             gsz * ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                            1, 8)) AS BIGINT) + 1)
                      / 4294967296.0) AS es_key
      FROM g JOIN sz USING (h)
    )
    SELECT doc_id, source, CAST(gsz AS BIGINT) AS group_size
    FROM keyed ORDER BY es_key DESC, doc_id LIMIT {CLUSTER_BAL_K}
    """,
)
def q_sample_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-aware sample: Efraimidis-Spirakis weighted draw (the
    ``q_sample_weighted`` machinery) with weight 1 / |exact-dup cluster|
    — each duplicate CLUSTER contributes ~1 expected document to the
    sample regardless of how many copies the crawl picked up, so a
    boilerplate page mirrored 10,000 times no longer owns 10,000 slots.
    This is the sampling-side complement of dedup: when the pipeline
    keeps duplicates (provenance, weighting experiments), the sampler
    still sees the de-biased corpus.

    ES key in log space: ln(u)/w = gsz * ln(u) for w = 1/gsz (ln u < 0,
    so LARGER clusters push the key more negative). Scale shape: one
    md5-hash groupBy for cluster sizes (16-byte shuffle key, text never
    moves), one size join back keyed on the same hash, a pure per-row
    key expression, and a ``TakeOrderedAndProject`` top-k — no RNG
    state, identical subset on every run at any cluster size."""
    docs = load(spark, sf_dir, "documents")
    g = docs.select(
        "doc_id", "source", F.md5(F.lower(F.trim("text"))).alias("h")
    )
    sz = g.groupBy("h").agg(F.count("*").alias("gsz"))
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 32))
    es_key = F.col("gsz").cast("double") * F.log(u)
    return (
        g.join(sz, "h")
        .select("doc_id", "source", "gsz", es_key.alias("es_key"))
        .orderBy(F.desc("es_key"), F.asc("doc_id"))
        .limit(CLUSTER_BAL_K)
        .select(
            "doc_id", "source", F.col("gsz").cast("long").alias("group_size")
        )
    )


# Temperature exponent for q_sample_temperature: q_i ∝ p_i^alpha. 0.3 is
# the XLM-R setting (Conneau et al., ACL'20) — strong enough to visibly
# lift low-resource sources without flattening the mix entirely.
TEMP_ALPHA = 0.3


@REG.add(
    "q_sample_temperature",
    f"""
    WITH m AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    t AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot FROM m),
    s AS (SELECT sum(pow(n_tokens / t.tot, {TEMP_ALPHA})) AS z FROM m, t)
    SELECT source, n_docs, n_tokens,
           (ROUND((n_tokens / t.tot) * 10000, 0) / 10000.0) AS p,
           (ROUND((pow(n_tokens / t.tot, {TEMP_ALPHA}) / s.z) * 10000, 0) / 10000.0) AS q,
           (ROUND((pow(n_tokens / t.tot, {TEMP_ALPHA}) / s.z
                 / (n_tokens / t.tot)) * 10000, 0) / 10000.0) AS repeat_factor
    FROM m, t, s
    """,
)
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing: renormalize the natural token
    share p_i of each source to q_i = p_i^alpha / sum_j p_j^alpha
    (alpha=TEMP_ALPHA=0.3) and report the per-source repeat factor q/p —
    the up/down-sampling multiplier a training loader applies so
    low-resource sources are seen more often than their raw token mass
    (the multilingual-LM mixing rule of Conneau et al.).

    Mass is TOKENS, not documents — the unit the training budget is
    actually spent in. Scale shape: one narrow scan computing
    size(split) per row -> groupBy(source) partial-combined aggregate
    (shuffle rows are (source, counts), never text) -> two broadcast
    1-row re-aggregates (total mass, partition function Z) joined back
    onto the O(sources) frame. No window, no driver collect; the
    result is O(sources) rows regardless of corpus size.

    Reference parity note: no sampling surface in the reference engine
    (WindowPublisher.java); north-star scope per BASELINE.json."""
    docs = load(spark, sf_dir, "documents")
    m = (
        docs.groupBy("source").agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
        )
        # shared by the total mass, the partition function Z and the
        # final projection
        .transform(materialize)
    )
    tot = m.agg(F.sum("n_tokens").cast("double").alias("tot"))
    with_p = m.crossJoin(F.broadcast(tot)).withColumn(
        "_p", F.col("n_tokens") / F.col("tot")
    )
    z = with_p.agg(
        F.sum(F.pow("_p", F.lit(TEMP_ALPHA))).alias("z")
    )
    q = F.pow("_p", F.lit(TEMP_ALPHA)) / F.col("z")
    return (
        with_p.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            round_to("_p", 4).alias("p"),
            round_to(q, 4).alias("q"),
            round_to(q / F.col("_p"), 4).alias("repeat_factor"),
        )
    )


# ------------------------------------------------ token-budget allocation

TOKEN_BUDGET_PER_DOMAIN = 2000  # whitespace tokens per lang (fixture scale)


@REG.add(
    "q_token_budget",
    f"""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS pri
      FROM documents
    ), c AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY lang ORDER BY pri, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_tokens
      FROM t
    )
    SELECT doc_id, lang, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= {TOKEN_BUDGET_PER_DOMAIN}
    """,
)
def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain token-budget allocation — the data-mixing primitive
    that turns mixture RATIOS (q_domain_mix / q_sample_temperature
    decide them) into an actual document set: within each ``lang``
    domain, documents are admitted in deterministic hash-priority order
    (md5 of doc_id — a uniform, RNG-free shuffle, same device as
    q_sample_hash) until the domain's whitespace-token budget of
    2000 is exhausted; the admitted set is the
    maximal priority-prefix whose running total fits (take-while on the
    cumulative sum).

    Plan (the mega-domain two-phase form, registered since round 9 —
    the previous single-window plan sorted EVERY row of every domain,
    so a 90%-one-domain corpus single-tasked its largest ``lang``):

    1. Histogram phase: bucket the 32-bit priority space into
       1024 fixed-width ranges and aggregate
       token mass per (lang, bucket) — a map-side-combined groupBy
       whose output is O(domains × buckets) rows, never corpus-sized.
       A running sum over that tiny frame locates each domain's
       budget-CROSSING bucket (NULL when the whole domain fits).
    2. Prefix phase: broadcast the per-domain crossing bucket back,
       keep only rows at-or-below it — every row strictly below is
       provably admitted (its cumsum ≤ the pre-crossing mass ≤ budget)
       and every row strictly above is provably rejected (its cumsum ≥
       the through-crossing mass > budget) — and run the exact
       running-sum window on that admitted-prefix-plus-one-bucket
       remainder only. Identical output to the single-window plan
       (the final ``cum_tokens <= budget`` filter settles the crossing
       bucket's rows), but the per-domain sort input shrinks from the
       whole domain to ~budget worth of rows + one bucket's width.

    The fact table is scanned twice (histogram + prefix) — two narrow
    scans beat one corpus-wide sort; the histogram shuffle is map-side
    combined to O(domains × buckets)."""
    t = token_budget_scored(spark, sf_dir)
    prefix = token_budget_prefix(t, TOKEN_BUDGET_PER_DOMAIN)
    w = (
        Window.partitionBy("lang")
        .orderBy("pri", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        prefix.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET_PER_DOMAIN)
        .select("doc_id", "lang", "n_tokens", "cum_tokens")
    )


TOKEN_BUDGET_HIST_BUCKETS = 1024  # 2^10 fixed-width pri ranges
# pri is the first 8 md5 hex chars (token_budget_scored), i.e. 32 bits;
# the shift is DERIVED so editing the bucket count (or the pri width)
# can't silently break the bucket range.
_TOKEN_BUDGET_PRI_BITS = 32
_TOKEN_BUDGET_HIST_SHIFT = (
    _TOKEN_BUDGET_PRI_BITS - TOKEN_BUDGET_HIST_BUCKETS.bit_length() + 1
)
assert TOKEN_BUDGET_HIST_BUCKETS == 1 << (
    TOKEN_BUDGET_HIST_BUCKETS.bit_length() - 1
), "TOKEN_BUDGET_HIST_BUCKETS must be a power of two"
assert (
    1 << (_TOKEN_BUDGET_PRI_BITS - _TOKEN_BUDGET_HIST_SHIFT)
) == TOKEN_BUDGET_HIST_BUCKETS


def token_budget_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, n_tokens, pri): the narrow scoring scan shared by
    both phases of the token-budget plan."""
    docs = load(spark, sf_dir, "documents")
    pri = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    return docs.select(
        "doc_id",
        "lang",
        F.size(_tokens()).cast("long").alias("n_tokens"),
        pri.alias("pri"),
    )


def token_budget_prefix(t: DataFrame, budget: int) -> DataFrame:
    """Phase-1+2 of the mega-domain token-budget plan: locate each
    domain's budget-crossing priority bucket from a fixed-width
    histogram and return only the rows at-or-below it (columns of ``t``
    unchanged). The caller's exact running-sum window then sorts this
    admitted prefix instead of the whole domain — the output-identity
    argument lives on ``q_token_budget``."""
    bucketed = t.withColumn(
        "_bkt", F.shiftright("pri", _TOKEN_BUDGET_HIST_SHIFT)
    )
    wb = (
        Window.partitionBy("lang")
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    crossing = (
        bucketed.groupBy("lang", "_bkt")
        .agg(F.sum("n_tokens").alias("_bucket_tokens"))
        .withColumn("_cum", F.sum("_bucket_tokens").over(wb))
        .groupBy("lang")
        .agg(
            F.min(
                F.when(F.col("_cum") > budget, F.col("_bkt"))
            ).alias("_crossing_bkt")
        )
    )
    return (
        bucketed.join(F.broadcast(crossing), "lang")
        .filter(
            F.col("_crossing_bkt").isNull()
            | (F.col("_bkt") <= F.col("_crossing_bkt"))
        )
        .drop("_bkt", "_crossing_bkt")
    )


# --------------------------------------------- epoch-aware mixture planning

# Training budget as a multiple of the corpus's total token mass, and the
# repetition ceiling: no source is repeated more than EPOCH_CAP times
# (past ~4 epochs repeated data stops helping and starts hurting —
# Muennighoff et al. 2023's data-constrained scaling result).
TRAIN_BUDGET_MULT = 2.0
EPOCH_CAP = 4.0


@REG.add(
    "q_sample_epochs",
    f"""
    WITH m AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    t AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot FROM m),
    s AS (SELECT sum(pow(n_tokens / t.tot, {TEMP_ALPHA})) AS z FROM m, t),
    e AS (
      SELECT source, n_docs, n_tokens,
             pow(n_tokens / t.tot, {TEMP_ALPHA}) / s.z AS q,
             ({TRAIN_BUDGET_MULT} * t.tot)
               * (pow(n_tokens / t.tot, {TEMP_ALPHA}) / s.z)
               / n_tokens AS epochs_raw
      FROM m, t, s
    )
    SELECT source, n_docs, n_tokens,
           (ROUND((q) * 10000, 0) / 10000.0) AS q,
           (ROUND((epochs_raw) * 10000, 0) / 10000.0) AS epochs_want,
           (ROUND((LEAST(epochs_raw, {EPOCH_CAP})) * 10000, 0) / 10000.0) AS epochs,
           epochs_raw > {EPOCH_CAP} AS capped,
           CAST(ROUND(LEAST(epochs_raw, {EPOCH_CAP}) * n_tokens)
                AS BIGINT) AS planned_tokens
    FROM e
    """,
)
def q_sample_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-aware mixture plan: turn the temperature-scaled target
    shares (the ``q_sample_temperature`` rule, alpha=0.3) and a
    total training budget of 2.0x the corpus token mass
    into per-source repetition counts — epochs = target_tokens /
    available_tokens, clipped at 4.0 epochs (the
    data-constrained-scaling ceiling past which repetition stops paying)
    with capped sources flagged and the post-cap planned token count
    reported. This is the planning table a training loader consumes;
    ``q_token_budget`` then executes admission within each source.
    (Surplus from capped sources is intentionally NOT redistributed —
    reallocation is an iterative policy choice that belongs to the
    loader, and the flag tells it where the slack is.)

    Scale shape: identical to ``q_sample_temperature`` — one narrow
    tokenize scan into a groupBy(source) partial-combined aggregate
    (shuffle carries counts, never text), two broadcast 1-row
    re-aggregates (total mass, partition function), O(sources) output,
    no window, no collect."""
    docs = load(spark, sf_dir, "documents")
    m = (
        docs.groupBy("source").agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.size(F.split("text", " ")))
            .cast("long")
            .alias("n_tokens"),
        )
        # shared by the total, Z and the final projection
        .transform(materialize)
    )
    tot = m.agg(F.sum("n_tokens").cast("double").alias("tot"))
    with_p = m.crossJoin(F.broadcast(tot)).withColumn(
        "_p", F.col("n_tokens") / F.col("tot")
    )
    z = with_p.agg(F.sum(F.pow("_p", F.lit(TEMP_ALPHA))).alias("z"))
    q = F.pow("_p", F.lit(TEMP_ALPHA)) / F.col("z")
    epochs_raw = (TRAIN_BUDGET_MULT * F.col("tot")) * q / F.col("n_tokens")
    epochs = F.least(epochs_raw, F.lit(EPOCH_CAP))
    return with_p.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        "n_tokens",
        round_to(q, 4).alias("q"),
        round_to(epochs_raw, 4).alias("epochs_want"),
        round_to(epochs, 4).alias("epochs"),
        (epochs_raw > EPOCH_CAP).alias("capped"),
        F.round(epochs * F.col("n_tokens"))
        .cast("long")
        .alias("planned_tokens"),
    )


SAMPLE_K_PER_GROUP = 20  # q_sample_k_per_group: docs kept per language


@REG.add(
    "q_sample_k_per_group",
    f"""
    WITH ranked AS (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    )
    SELECT doc_id, lang, source, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= {SAMPLE_K_PER_GROUP}
    """,
)
def q_sample_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-K sample per group: exactly
    20 documents per language, chosen by md5
    priority — the eval-set / human-review draw ("give me 20 random
    docs per language, the SAME 20 every run") that fraction samplers
    (q_sample_hash / q_sample_stratified) can't pin: a rate keeps a
    BINOMIAL count per group, not an exact K.

    Scale shape: the md5 priority is a scan expression (RNG-free, the
    q_sample_hash device — any cluster size, identical draw) and the
    per-group top-K runs as WindowGroupLimit (plan-asserted): per-
    partition K-row heaps per group BEFORE the single keyed shuffle, so
    a 100 TB corpus exchanges ~K×groups×partitions candidate rows, not
    the table. Ordering ties broken by doc_id — total order, so the cut
    is deterministic even under md5 collisions."""
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "lang", "source")
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= SAMPLE_K_PER_GROUP)
    )
