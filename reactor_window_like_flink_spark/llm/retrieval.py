"""Retrieval-indexing operators over the ``documents`` table: BM25 term
ranking, an inverted (posting-list) index, and PMI collocation mining.

These are the lexical half of a retrieval/curation stack (the vector half
lives in ``llm/similarity.py``): BM25 is the standard first-stage ranker,
the inverted index is the physical structure behind it, and PMI
collocations feed tokenizer-vocabulary and phrase-mining decisions.

Scale shape shared by all three: ONE token/bigram explode lands in a
(doc, term) or bigram counts aggregate (map-side combined — the shuffle
carries counts, never text), and everything downstream re-aggregates or
keyed-joins those counts. Corpus-level scalars (N docs, total tokens,
average doc length) enter as broadcast 1-row aggregates, never a driver
collect. No operator here shuffles raw tokens twice.

Reference parity note: the reference engine (``WindowPublisher.java``) has
no text surface; north-star scope per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reactor_window_like_flink_spark.contract import Registry, round_to
from reactor_window_like_flink_spark.functions.materialize import materialize
from reactor_window_like_flink_spark.llm.artifacts import artifact, unpersist
from reactor_window_like_flink_spark.llm.text import _tokens
from reactor_window_like_flink_spark.sources.tables import load

REG = Registry()

# BM25 parameters (Robertson et al., TREC-3; the Lucene defaults).
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_TERMS = 3

# Inverted index: drop hapax terms (df = 1) — they dominate the vocabulary
# but serve no multi-document retrieval purpose; a production index keeps
# them in a separate spill tier if exact-phrase recall needs them.
INDEX_MIN_DF = 2

# PMI collocations: a minimum pair count keeps the estimator out of the
# low-frequency regime where PMI degenerates to ln(N/c_x c_y) noise.
PMI_MIN_PAIR = 5
PMI_TOP_K = 50


@REG.add(
    "q_bm25_topterms",
    f"""
    WITH tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
            FROM documents)
      GROUP BY doc_id, term
    ),
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5))
               * (tf.tf * ({BM25_K1} + 1.0))
               / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                    + {BM25_B} * dl.dl / stats.avgdl)) AS s
      FROM tf
      JOIN df USING (term)
      JOIN dl USING (doc_id), stats
    )
    SELECT doc_id, term, (ROUND((s) * 10000, 0) / 10000.0) AS bm25, CAST(rn AS INT) AS rank
    FROM (SELECT doc_id, term, s,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY s DESC, term) AS rn
          FROM scored)
    WHERE rn <= {BM25_TOP_TERMS}
    """,
)
def q_bm25_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 BM25 terms per document — the standard
    first-stage lexical ranker (Robertson/Sparck-Jones probabilistic
    weighting with tf saturation and doc-length normalization), k1=1.2,
    b=0.75, Lucene's ln(1 + (N-df+0.5)/(df+0.5)) non-negative idf.

    Pipeline: explode -> (doc, term) tf aggregate; doc length and term df
    both RE-aggregate tf (the token shuffle happens once); N and avgdl
    form a broadcast 1-row aggregate from the O(docs) dl side (exact:
    integer sum / integer count). Scoring joins tf⋈df on term and tf⋈dl
    on doc_id — both keyed hash joins — then a per-doc top-k window with
    (score, term) tie-break. Same shuffle economics as q_tfidf_topterms
    with one extra O(docs) join; at 100 TB the df side is the vocabulary
    (small) and broadcasts under AQE."""
    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(_tokens()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        # shared by dl, df and the scoring join
        .transform(materialize)
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    stats = dl.agg(
        F.count("*").cast("double").alias("n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    idf = F.log(
        1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    score = idf * (F.col("tf") * (BM25_K1 + 1.0)) / (
        F.col("tf")
        + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("_s"), F.asc("term"))
    return (
        tf.join(df, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("_s", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_TOP_TERMS)
        .select("doc_id", "term", round_to("_s", 4).alias("bm25"), "rank")
    )


@REG.add(
    "q_inverted_index",
    f"""
    WITH tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
            FROM documents)
      GROUP BY doc_id, term
    )
    SELECT term,
           CAST(count(*) AS BIGINT) AS df,
           CAST(sum(tf) AS BIGINT) AS total_tf,
           array_to_string(list_transform(list_sort(list(doc_id)),
                                          x -> CAST(x AS VARCHAR)),
                           ',') AS postings
    FROM tf
    GROUP BY term
    HAVING count(*) >= {INDEX_MIN_DF}
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build: term -> sorted doc_id posting list with df
    and total term frequency, hapax terms (df < 2) dropped.
    This is the physical structure behind q_bm25_topterms served as a
    query-time index instead of a batch score.

    Pipeline: explode -> (doc, term) tf aggregate -> per-term
    collect_list + array_sort. The shuffle key is the term (short string)
    and the shuffled payload is (doc_id, tf) pairs — text never moves.
    Posting lists are per-term rows, so a 100 TB corpus parallelizes by
    vocabulary; the known hazard is a stopword's posting list exceeding
    one task's memory. ``build_inverted_index_tiered`` (below) is the
    production form: df-above-threshold terms store as fixed-width
    doc_id-range segment rows with hard-bounded payloads, cold terms
    keep the one-row layout this oracle-checked flat build uses."""
    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(_tokens()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    return (
        tf.groupBy("term")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.sum("tf").cast("long").alias("total_tf"),
            # CSV-encode the sorted postings: the driver's canonicalizer
            # sorts raw cells, and bare array columns are unhashable
            # there. Sort NUMERICALLY first, stringify after, so the
            # order matches the DuckDB oracle's list_sort(list(doc_id)).
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .filter(F.col("df") >= INDEX_MIN_DF)
    )


# Tiered index: terms at or above this df go to fixed-width segment rows.
INDEX_HOT_DF = 10_000
# Hot-tier segment width: each segment row covers a doc_id range of this
# size, so its postings payload is HARD-bounded by the width regardless
# of how hot the term is.
INDEX_SEGMENT_WIDTH = 100_000


def build_inverted_index_tiered(
    docs: DataFrame,
    min_df: int = INDEX_MIN_DF,
    hot_df: int = INDEX_HOT_DF,
    segment_width: int = INDEX_SEGMENT_WIDTH,
) -> DataFrame:
    """Inverted index with bounded per-row posting payloads — the
    production form of ``q_inverted_index`` whose docstring names the
    hazard: a stopword-adjacent term (df in the hundreds of millions at
    corpus scale) materializes ONE unbounded ``collect_list`` row, a
    single-task memory blowup.

    Tier split (attached at the df seam the flat build's HAVING uses):

    - **cold** (df < ``hot_df``): one row per term, ``segment_id = -1``,
      payload bounded by ``hot_df``.
    - **hot** (df >= ``hot_df``): one row per (term, doc_id-range
      segment), ``segment_id = doc_id div segment_width``. Payload is
      hard-bounded by ``segment_width`` — a doc_id range holds at most
      that many documents — with NO per-term global sort or rank: a
      rank-based segmenter would funnel the hot term's postings through
      one window task, re-creating exactly the blowup being tiered away.
      Range segments also reconstruct for free: concatenating a term's
      segments in segment_id order yields the globally sorted postings.

    The groupBy key widens from ``term`` to ``(term, segment_id)``, so a
    hot term's aggregation spreads over its segments across tasks — the
    shuffle itself is skew-split, not just the output rows.

    Output: (term, segment_id, df, seg_df, seg_tf, postings) where df is
    the term's corpus-wide document frequency and seg_df/seg_tf are the
    segment-local counts; cold rows have seg_df = df.
    """
    tf = (
        docs.select("doc_id", F.explode(_tokens()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    seg = F.when(
        F.col("df") >= hot_df,
        F.floor(F.col("doc_id") / F.lit(segment_width)),
    ).otherwise(F.lit(-1))
    return (
        tf.join(df, "term")
        .filter(F.col("df") >= min_df)
        .withColumn("segment_id", seg.cast("long"))
        .groupBy("term", "segment_id")
        .agg(
            F.first("df").alias("df"),
            F.count("*").cast("long").alias("seg_df"),
            F.sum("tf").cast("long").alias("seg_tf"),
            F.array_sort(F.collect_list("doc_id")).alias("postings"),
        )
    )


@REG.add(
    "q_bigram_pmi",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ),
    pairs AS (
      SELECT doc_id, u.pair
      FROM toks, unnest(list_transform(range(1, len(t)),
                                       i -> t[i] || ' ' || t[i + 1]))
             AS u(pair)
      WHERE len(t) >= 2
    ),
    pc AS (SELECT pair, count(*) AS c_xy FROM pairs GROUP BY pair),
    uni AS (
      SELECT term, count(*) AS c
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS term
            FROM documents)
      GROUP BY term
    ),
    n AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM uni),
    b AS (SELECT CAST(sum(c_xy) AS DOUBLE) AS b FROM pc)
    SELECT pair,
           CAST(c_xy AS BIGINT) AS pair_count,
           (ROUND((ln((c_xy / b.b)
                    / ((cx.c / n.n) * (cy.c / n.n)))) * 10000, 0) / 10000.0) AS pmi
    FROM pc
    JOIN uni cx ON cx.term = string_split(pc.pair, ' ')[1]
    JOIN uni cy ON cy.term = string_split(pc.pair, ' ')[2], n, b
    WHERE c_xy >= {PMI_MIN_PAIR}
    ORDER BY pmi DESC, pair
    LIMIT {PMI_TOP_K}
    """,
)
def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-50 adjacent-token bigrams by
    pointwise mutual information, pairs seen >= 5 times.
    PMI = ln(P(xy) / (P(x)P(y))) under the corpus unigram/bigram models —
    the classic phrase-detection score (Church & Hanks 1990) feeding
    tokenizer-merge and phrase-vocabulary decisions.

    Pipeline: per-row bigram construction is a pure JVM ``transform`` over
    the token array (no self-join of token positions); bigram and unigram
    counts are two explode->agg passes whose shuffles carry short strings
    + counts; the pair->unigram joins key on the component token (the
    unigram side is the vocabulary — broadcast-sized under AQE); corpus
    totals N and B are broadcast 1-row aggregates (exact integer sums).
    Final top-k is TakeOrderedAndProject over O(|distinct pairs|) rows
    with (pmi, pair) deterministic ordering."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", _tokens().alias("t"))
    pairs = (
        toks.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> concat_ws(' ', element_at(t, i),"
                    " element_at(t, i + 1)))"
                )
            ).alias("pair")
        )
    )
    # pc is shared by the B total and the scored join; uni by the N
    # total and both component lookups
    pc = (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("c_xy"))
        .transform(materialize)
    )
    uni = (
        docs.select(F.explode(_tokens()).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c"))
        .transform(materialize)
    )
    n = uni.agg(F.sum("c").cast("double").alias("n"))
    b = pc.agg(F.sum("c_xy").cast("double").alias("b"))
    cx = uni.select(
        F.col("term").alias("_x"), F.col("c").alias("_cx")
    )
    cy = uni.select(
        F.col("term").alias("_y"), F.col("c").alias("_cy")
    )
    pmi = F.log(
        (F.col("c_xy") / F.col("b"))
        / ((F.col("_cx") / F.col("n")) * (F.col("_cy") / F.col("n")))
    )
    return (
        pc.filter(F.col("c_xy") >= PMI_MIN_PAIR)
        .withColumn("_x", F.split("pair", " ")[0])
        .withColumn("_y", F.split("pair", " ")[1])
        .join(cx, "_x")
        .join(cy, "_y")
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(b))
        .select(
            "pair",
            F.col("c_xy").cast("long").alias("pair_count"),
            round_to(pmi, 4).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("pair"))
        .limit(PMI_TOP_K)
    )


@REG.add(
    "q_zipf_slope",
    """
    WITH tf AS (
      SELECT source, term, count(*) AS c
      FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS term
            FROM documents)
      GROUP BY source, term
    ),
    ranked AS (
      SELECT source, c,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY c DESC, term) AS rank
      FROM tf
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_terms,
           (ROUND((covar_samp(ln(rank), ln(c))
                 / nullif(var_samp(ln(rank)), 0)) * 10000, 0) / 10000.0) AS zipf_slope,
           (ROUND((covar_samp(ln(rank), ln(c)) * covar_samp(ln(rank), ln(c))
                 / nullif(var_samp(ln(rank)) * var_samp(ln(c)), 0)) * 10000, 0) / 10000.0) AS r2
    FROM ranked
    GROUP BY source
    """,
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf fit: OLS slope of ln(term frequency) against
    ln(frequency rank) — the corpus-health metric (natural language sits
    near slope -1; templated/degenerate text flattens toward 0, and a
    source whose slope shifts between snapshots changed its generator).

    Pipeline: explode -> (source, term) count aggregate (shuffle carries
    counts, never text); within-source ranks from one window over the
    O(sources x vocab) aggregate with (count desc, term) deterministic
    tie-break; slope/r2 from closed-form second-moment aggregates
    (covar/var/corr are one-pass map-side-combined co-moments — no
    iterative fitting). Output is O(sources) rows at any corpus size."""
    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(_tokens()).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("c"), F.asc("term"))
    ranked = tf.withColumn("rank", F.row_number().over(w))
    x = F.log("rank")
    y = F.log("c")
    # r2 as covar^2/(var_x*var_y) with guarded division instead of
    # corr()^2: ANSI mode makes corr raise DIVIDE_BY_ZERO on a
    # zero-variance side (an all-equal-frequency source), where the fit
    # is undefined and NULL is the right answer.
    return ranked.groupBy("source").agg(
        F.count("*").cast("long").alias("n_terms"),
        round_to(F.try_divide(F.covar_samp(x, y), F.var_samp(x)), 4).alias("zipf_slope"),
        round_to(F.try_divide(
                F.covar_samp(x, y) * F.covar_samp(x, y),
                F.var_samp(x) * F.var_samp(y),
            ), 4).alias("r2"),
    )


@REG.add(
    "q_token_entropy",
    """
    WITH tf AS (
      SELECT source, term, count(*) AS c
      FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS term
            FROM documents)
      GROUP BY source, term
    ),
    s AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM tf GROUP BY source)
    SELECT tf.source,
           CAST(count(*) AS BIGINT) AS n_terms,
           s.ns AS n_tokens,
           (ROUND((-SUM((c / s.ns) * ln(c / s.ns))) * 10000, 0) / 10000.0) AS entropy,
           (ROUND(((-SUM((c / s.ns) * ln(c / s.ns)))
                 / nullif(ln(count(*)), 0)) * 10000, 0) / 10000.0) AS norm_entropy
    FROM tf JOIN s USING (source)
    GROUP BY tf.source, s.ns
    """,
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Shannon entropy of the token distribution (plus the
    vocab-normalized form H/ln(V) in [0,1]) — the companion metric to
    q_zipf_slope: a source whose entropy collapses between snapshots
    started emitting templated/degenerate text, one whose normalized
    entropy pins to 1 is uniform-random (another failure mode).

    Scale shape: the same (source, term) count aggregate as the Zipf fit
    (one token explode, counts-only shuffle); per-source totals
    re-aggregate it; H folds in a single map-side-combined aggregate over
    O(sources x vocab) rows. p = c/ns is an exact-integer ratio, so the
    only order-dependent float sum is the entropy fold itself (rounded)."""
    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(_tokens()).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").alias("c"))
        .transform(materialize)  # shared by the totals and the H fold
    )
    s = tf.groupBy("source").agg(F.sum("c").cast("long").alias("ns"))
    p = F.col("c") / F.col("ns")
    h = -F.sum(p * F.log(p))
    return (
        tf.join(s, "source")
        .groupBy("source", "ns")
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            round_to(h, 4).alias("entropy"),
            round_to(F.try_divide(h, F.log(F.count("*"))), 4).alias("norm_entropy"),
        )
        .select(
            "source",
            "n_terms",
            F.col("ns").alias("n_tokens"),
            "entropy",
            "norm_entropy",
        )
    )


# Heavy hitters: report terms with count > N / HH_THRESHOLD_DENOM. The
# per-partition Misra-Gries capacity is 2x the denominator: MG with
# capacity c keeps every item whose partition count exceeds n_p/(c+1), and
# a global count > N/d implies a partition count > n_p/d on at least one
# partition (pigeonhole), so d <= c guarantees the candidate SUPERSET and
# the exact confirm pass makes the final answer exact, not approximate.
HH_THRESHOLD_DENOM = 200
HH_CAPACITY = 2 * HH_THRESHOLD_DENOM


def misra_gries_step(counters: dict, items, capacity: int) -> dict:
    """Fold ``items`` into a Misra-Gries sketch of at most ``capacity``
    counters and return it: a known item increments, a new one is
    admitted while there is room, otherwise every counter decrements and
    zeros drop (the classic MG step, amortized O(1) via dict rebuild).
    Shared by the batch heavy-hitters pass and
    ``streaming/frequent.py::frequent_items_stateful``."""
    for item in items:
        if item in counters:
            counters[item] += 1
        elif len(counters) < capacity:
            counters[item] = 1
        else:
            counters = {t: c - 1 for t, c in counters.items() if c > 1}
    return counters


def _misra_gries_partial(batches):
    """Per-partition Misra-Gries sketch over a 'term' column: bounded at
    HH_CAPACITY counters no matter how large the partition, emitting the
    surviving candidate terms once per partition."""
    counters: dict[str, int] = {}
    for pdf in batches:
        counters = misra_gries_step(counters, pdf["term"], HH_CAPACITY)
    import pandas as pd

    yield pd.DataFrame({"term": list(counters.keys())})


@REG.add(
    "q_heavy_hitters",
    f"""
    WITH tok AS (
      SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents
    ),
    c AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY term),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok)
    SELECT term, cnt, (ROUND((CAST(cnt AS DOUBLE) / n.n) * 10000, 0) / 10000.0) AS share
    FROM c, n
    WHERE cnt * {HH_THRESHOLD_DENOM} > n.n
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items / heavy-hitters: every token whose corpus frequency
    exceeds N/200 (exact counts + share). The answer is
    EXACT — what's approximate is only the candidate pruning, which is
    what makes the operator scale.

    Two passes: (1) an Arrow `mapInPandas` Misra-Gries sketch per
    partition — O(400) memory per task regardless of partition
    size, emitting a provable candidate SUPERSET (see the capacity note
    above) of a few hundred rows per partition; (2) exact counts for the
    candidates only, via a broadcast semi-join filter on the token stream
    — so the count shuffle carries ONLY candidate tokens, never the full
    vocabulary. N joins as a broadcast 1-row aggregate and the threshold
    compares integer-exactly (cnt * d > N). At 100 TB the full-vocab
    groupBy this replaces is the difference between shuffling ~billions
    of distinct URLs/terms and shuffling a few hundred candidates.
    (Misra & Gries 1982; the two-pass exact variant is the standard
    distributed deployment.)"""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(_tokens()).alias("term"))
    cand = (
        toks.mapInPandas(_misra_gries_partial, "term string")
        .distinct()
    )
    # the two token-stream passes (sketch, confirm) are inherent to the
    # algorithm; N rides a third, strictly cheaper read — per-row token
    # COUNT (no explode, no shuffle) instead of a third explode
    n = docs.select(F.size(_tokens()).alias("k")).agg(
        F.sum("k").cast("long").alias("n")
    )
    return (
        toks.join(F.broadcast(cand), "term", "left_semi")
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("cnt"))
        .crossJoin(F.broadcast(n))
        .filter(F.col("cnt") * HH_THRESHOLD_DENOM > F.col("n"))
        .select(
            "term",
            "cnt",
            round_to(F.col("cnt").cast("double") / F.col("n"), 4).alias("share"),
        )
    )


# ------------------------------------------------------- BM25 query scoring

# The demo query for q_bm25_query — constant at plan-build time, which is
# what makes the zero-join plan below possible.
BM25_QUERY_TERMS = ("query", "filter", "data")
BM25_QUERY_TOP_K = 10


# Both BM25 query keys answer the same question: one oracle.
_BM25_QUERY_ORACLE = f"""
    WITH per_doc AS (
      SELECT doc_id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS dl,
             {", ".join(
                 f"CAST(len(list_filter(string_split(lower(text), ' '), "
                 f"x -> x = '{t}')) AS BIGINT) AS tf_{i}"
                 for i, t in enumerate(BM25_QUERY_TERMS)
             )}
      FROM documents
    ),
    stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
             {", ".join(
                 f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE)"
                 f" AS df_{i}"
                 for i in range(len(BM25_QUERY_TERMS))
             )}
      FROM per_doc
    ),
    scored AS (
      SELECT d.doc_id,
             {" + ".join(
                 f"CASE WHEN d.tf_{i} > 0 THEN 1 ELSE 0 END"
                 for i in range(len(BM25_QUERY_TERMS))
             )} AS n_hits,
             {" + ".join(
                 f"(ln(1.0 + (s.n - s.df_{i} + 0.5) / (s.df_{i} + 0.5))"
                 f" * (d.tf_{i} * ({BM25_K1} + 1.0))"
                 f" / (d.tf_{i} + {BM25_K1} * (1.0 - {BM25_B}"
                 f"      + {BM25_B} * d.dl / s.avgdl)))"
                 for i in range(len(BM25_QUERY_TERMS))
             )} AS s
      FROM per_doc d, stats s
    )
    SELECT doc_id, CAST(n_hits AS BIGINT) AS n_hits,
           (ROUND((s) * 10000, 0) / 10000.0) AS bm25,
           CAST(ROW_NUMBER() OVER (ORDER BY (ROUND((s) * 10000, 0) / 10000.0) DESC, doc_id)
                AS INT) AS rank
    FROM scored WHERE n_hits > 0
    ORDER BY (ROUND((s) * 10000, 0) / 10000.0) DESC, doc_id LIMIT {BM25_QUERY_TOP_K}
    """


@REG.add("q_bm25_query", _BM25_QUERY_ORACLE)
def q_bm25_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents for a fixed query under BM25 —
    the query-time twin of ``q_bm25_topterms`` (retrieval inference:
    dedup of eval prompts against the corpus, nearest-document lookup,
    RAG candidate generation).

    The Spark-first design point: because the query terms are constants
    at plan-build time, scoring needs NO explode, NO (doc, term) shuffle
    and NO join — each term's tf is a per-row ``filter(tokens, x -> x =
    term)`` column in a single narrow scan; N, avgdl and each term's df
    collapse into ONE broadcast 1-row aggregate; the score is a pure
    projection summing the per-term saturation formula in FIXED term
    order (both engines add the same doubles in the same order — no
    summation-order hazard), and the top-k is TakeOrderedAndProject over
    rounded (score, doc_id). Two narrow scans total (per_doc feeds the
    stats aggregate and the scoring projection), zero hash exchanges —
    at 100 TB this is a scan-speed pass, vs. the posting-list join a
    pre-built ``q_inverted_index`` would serve for ad-hoc queries."""
    return _bm25_top_k(_bm25_scan_features(spark, sf_dir))


def _bm25_scan_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixed query's scoring inputs from one corpus scan: per document
    ``doc_id, dl, tf_i`` crossed with the broadcast 1-row ``n, avgdl,
    df_i``. Plan shape as documented on ``q_bm25_query``: constant-term
    tf columns, one broadcast stats row, zero joins/exchanges."""
    docs = load(spark, sf_dir, "documents")
    toks = _tokens()

    def _tf(term: str) -> F.Column:
        # one-arg lambda REQUIRED: a two-arg lambda (e.g. via a t=t
        # default) is treated by F.filter as the (element, index) form
        # and the term would silently become the array index
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    per_doc = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        *[
            _tf(t).cast("long").alias(f"tf_{i}")
            for i, t in enumerate(BM25_QUERY_TERMS)
        ],
    ).transform(materialize)  # feeds stats AND scoring (narrow O(docs) frame)
    stats = per_doc.agg(
        F.count("*").cast("double").alias("n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0))
            .cast("double")
            .alias(f"df_{i}")
            for i in range(len(BM25_QUERY_TERMS))
        ],
    )
    return per_doc.crossJoin(F.broadcast(stats))


def _bm25_scored(features: DataFrame) -> DataFrame:
    """Every matching (n_hits > 0) document with its rounded BM25 score,
    from a frame with ``doc_id, dl, tf_i, n, avgdl, df_i`` (the scan's
    or the index's). The per-term saturation formula is summed in FIXED
    term order, so both engines add the same doubles in the same order.
    ``q_rrf_fusion``'s lexical arm reads it unranked."""
    nterms = len(BM25_QUERY_TERMS)

    def term_score(i: int) -> F.Column:
        idf = F.log(
            1.0
            + (F.col("n") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
        )
        tf = F.col(f"tf_{i}")
        return idf * (tf * (BM25_K1 + 1.0)) / (
            tf + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )

    s = term_score(0)
    for i in range(1, nterms):  # fixed fold order — engine-identical sum
        s = s + term_score(i)
    n_hits = sum(
        F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0) for i in range(nterms)
    )
    return features.select(
        "doc_id",
        n_hits.cast("long").alias("n_hits"),
        round_to(s, 4).alias("bm25"),
    ).filter(F.col("n_hits") > 0)


def _bm25_top_k(features: DataFrame) -> DataFrame:
    """The ranked top-k of ``_bm25_scored(features)``. Distributed top-k
    FIRST (TakeOrderedAndProject — per-partition heaps, never a global
    sort/window over all matching docs), then the rank window runs over
    the K-row result only."""
    top = (
        _bm25_scored(features)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(BM25_QUERY_TOP_K)
    )
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w))


# -------------------------------------------------- count-min sketch rollup

# CMS geometry (Cormode & Muthukrishnan 2005): depth independent hash
# rows x width counters. 4x256 keeps the fixture sketch readable; the
# error bound is the standard eps = e/width with prob 1 - e^-depth.
CMS_DEPTH = 4
CMS_WIDTH = 256
# Probe terms whose estimates the rollup reports against exact counts.
CMS_PROBE_TERMS = ("the", "data", "query", "row", "vector")


def _cms_bucket_sql(term_expr: str, d_expr: str, engine: str) -> str:
    """Engine-neutral bucket hash: first 8 md5 hex chars of 'term|d' as a
    32-bit int, mod width — the same device as q_token_budget's pri."""
    concat = f"concat({term_expr}, '|', CAST({d_expr} AS STRING))"
    if engine == "spark":
        return (
            f"pmod(conv(substring(md5({concat}), 1, 8), 16, 10), {CMS_WIDTH})"
        )
    concat = f"({term_expr} || '|' || CAST({d_expr} AS VARCHAR))"
    return (
        f"(CAST(('0x' || substr(md5({concat}), 1, 8)) AS BIGINT)"
        f" % {CMS_WIDTH})"
    )


@REG.add(
    "q_cms_rollup",
    f"""
    WITH tok AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    cells AS (
      SELECT source, d,
             {_cms_bucket_sql("term", "d", "duck")} AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
      FROM tok, generate_series(0, {CMS_DEPTH - 1}) AS g(d)
      GROUP BY source, d, bucket
    ),
    merged AS (
      SELECT d, bucket, CAST(sum(cnt) AS BIGINT) AS cnt
      FROM cells GROUP BY d, bucket
    ),
    probes AS (
      SELECT term, d,
             {_cms_bucket_sql("term", "d", "duck")} AS bucket
      FROM (VALUES {", ".join(f"('{t}')" for t in CMS_PROBE_TERMS)}) p(term),
           generate_series(0, {CMS_DEPTH - 1}) AS g(d)
    ),
    est AS (
      SELECT p.term, CAST(min(COALESCE(m.cnt, 0)) AS BIGINT) AS cms_est
      FROM probes p LEFT JOIN merged m USING (d, bucket)
      GROUP BY p.term
    ),
    exact AS (
      SELECT term, CAST(count(*) AS BIGINT) AS exact
      FROM tok WHERE term IN ({", ".join(f"'{t}'" for t in CMS_PROBE_TERMS)})
      GROUP BY term
    )
    SELECT e.term, COALESCE(x.exact, 0) AS exact, e.cms_est,
           e.cms_est - COALESCE(x.exact, 0) AS overcount
    FROM est e LEFT JOIN exact x USING (term)
    """,
)
def q_cms_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable count-min-sketch frequency rollup: per-source
    4x256 sketches built from the token stream, merged
    across sources by counter addition (the re-aggregation property —
    same contract as the HLL and fixed-bin quantile rollups), then
    probed for 5 terms against their exact counts
    with the one-sided overcount reported.

    The 100 TB point: the depth fan-out never touches the token
    stream — per-term counts are map-side-combined once (shuffle
    volume = per-partition distinct terms, zipf-small for text), and
    only that O(vocab) aggregate is exploded x depth into the
    (source, d, bucket) key space of sources x
    1024 cells, which map-side combine collapses
    to a constant-size partial per partition (Misra-Gries heavy
    hitters answers "which terms are frequent", CMS answers "how
    frequent is THIS term" point queries over streams/shards). CMS
    guarantees est >= exact; min-over-depth is the estimator. The
    audit's exact side prunes to the probe terms BEFORE its groupBy, so
    it stays cheap. Oracle-checked cell-for-cell: the bucket hash is
    the engine-neutral md5 device, so DuckDB reproduces the sketch
    exactly."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(_tokens()).alias("term"))
    depth = F.explode(
        F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))
    ).alias("d")
    bucket = F.expr(_cms_bucket_sql("term", "d", "spark")).alias("bucket")
    # Pre-aggregate (source, term) counts ONCE, then explode only the
    # O(vocab) aggregate x depth. The naive form (explode every token
    # row x depth, then combine) does depth-x the map-side hashing work
    # on the full token stream; this form pays one map-side-combined
    # vocab aggregate (shuffle bounded by per-partition distinct terms,
    # zipf-small for text) and the depth fan-out touches only the vocab.
    # The sketch cells are identical: sum of per-term counts into a
    # bucket == count of exploded token rows in that bucket.
    term_counts = tok.groupBy("source", "term").agg(
        F.count("*").cast("long").alias("tc")
    )
    cells = (
        term_counts.select("source", "term", "tc", depth)
        .select("source", "d", bucket, "tc")
        .groupBy("source", "d", "bucket")
        .agg(F.sum("tc").cast("long").alias("cnt"))
    )
    merged = cells.groupBy("d", "bucket").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    probes = (
        spark.createDataFrame(
            [(t,) for t in CMS_PROBE_TERMS], "term string"
        )
        .select("term", depth)
        .select("term", "d", bucket)
    )
    # Broadcast the RIGHT (build) side: Spark ignores a broadcast hint
    # on the stream-preserved left side of a LEFT OUTER join, and
    # merged is the bounded O(depth*width) frame anyway.
    est = (
        probes.join(F.broadcast(merged), ["d", "bucket"], "left")
        .groupBy("term")
        .agg(
            F.min(F.coalesce("cnt", F.lit(0))).cast("long").alias("cms_est")
        )
    )
    exact = (
        tok.filter(F.col("term").isin(*CMS_PROBE_TERMS))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("exact"))
    )
    return (
        est.join(F.broadcast(exact), "term", "left")
        .select(
            "term",
            F.coalesce("exact", F.lit(0)).cast("long").alias("exact"),
            "cms_est",
            (F.col("cms_est") - F.coalesce("exact", F.lit(0)))
            .cast("long")
            .alias("overcount"),
        )
    )


# ------------------------------------------- index-served BM25 query

def bm25_index(spark: SparkSession, sf_dir: str):
    """The materialized retrieval index ``q_bm25_indexed`` serves from:
    ``postings`` (term, doc_id, tf) and ``doclen`` (doc_id, dl), each
    persisted. At 100 TB the postings table is WRITTEN bucketed (or
    hive-partitioned) by term so a query's ``term IN (...)`` prunes to
    the query terms' buckets at planning time — the in-process persist
    is the local[32] analog, exactly the ivfpq_table stance."""

    def build() -> tuple[DataFrame, DataFrame]:
        docs = load(spark, sf_dir, "documents")
        toks = _tokens()
        postings = (
            docs.select("doc_id", F.explode(toks).alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count("*").cast("long").alias("tf"))
            .persist()
        )
        doclen = docs.select(
            "doc_id", F.size(toks).cast("long").alias("dl")
        ).persist()
        postings.count()  # build outside any query's critical path
        doclen.count()
        return postings, doclen

    return artifact(
        "bm25", spark, sf_dir, build, lambda index: unpersist(*index)
    )


@REG.add("q_bm25_indexed", _BM25_QUERY_ORACLE)
def q_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME top-10 BM25 query as ``q_bm25_query``,
    answered from the PRE-BUILT index (``bm25_index``) instead of a
    corpus scan — the ad-hoc-query serving path: ``q_bm25_query``'s
    constant-term projection is the right plan when the query is known
    at plan time and the corpus will be scanned anyway; the postings
    join is the right plan when the index already exists and the query
    must NOT pay a corpus scan. Identical output (same formula, same
    fixed term order, same tie-break) — the oracle is the same SQL.

    Plan shape: the query touches ONLY the query terms' posting rows
    (pushed ``term IN (...)`` filter; bucket/partition pruning in the
    written form) pivoted into fixed tf_i columns by one doc-keyed
    aggregate; df_i collapse into the SAME broadcast 1-row stats
    aggregate as N/avgdl (one pass over doclen + the 3 posting lists);
    the candidate set (union of posting lists) broadcast-joins doclen;
    score is a fixed-order projection; top-k is
    TakeOrderedAndProject with the rank window over K rows. The corpus
    text is never read at query time."""
    postings, doclen = bm25_index(spark, sf_dir)
    terms = list(BM25_QUERY_TERMS)
    cand = postings.filter(F.col("term").isin(terms))
    per_doc = cand.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("term") == t, F.col("tf"))), F.lit(0)
            )
            .cast("long")
            .alias(f"tf_{i}")
            for i, t in enumerate(terms)
        ]
    )
    # ONE 1-row stats aggregate: N + avgdl from doclen, df_i from the
    # pruned postings (df = posting-list length)
    dfs = cand.groupBy().agg(
        *[
            F.sum(F.when(F.col("term") == t, 1).otherwise(0))
            .cast("double")
            .alias(f"df_{i}")
            for i, t in enumerate(terms)
        ]
    )
    stats = (
        doclen.agg(
            F.count("*").cast("double").alias("n"),
            (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        )
        .crossJoin(F.broadcast(dfs))
    )
    return _bm25_top_k(
        doclen.join(F.broadcast(per_doc), "doc_id").crossJoin(F.broadcast(stats))
    )


# ------------------------------------------------ hybrid retrieval fusion

RRF_K = 60  # the standard reciprocal-rank-fusion constant (Cormack 2009)
RRF_ARM_K = 20  # per-arm candidate list length
RRF_TOP_K = 10

_RRF_BM25_CTES = f"""
    per_doc AS (
      SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS dl,
             {", ".join(
                 f"CAST(len(list_filter(string_split(lower(text), ' '), "
                 f"x -> x = '{t}')) AS BIGINT) AS tf_{i}"
                 for i, t in enumerate(BM25_QUERY_TERMS)
             )}
      FROM documents
    ),
    stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
             {", ".join(
                 f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE)"
                 f" AS df_{i}"
                 for i in range(len(BM25_QUERY_TERMS))
             )}
      FROM per_doc
    ),
    lex AS (
      SELECT d.doc_id,
             (ROUND(({" + ".join(
                 f"(ln(1.0 + (s.n - s.df_{i} + 0.5) / (s.df_{i} + 0.5))"
                 f" * (d.tf_{i} * ({BM25_K1} + 1.0))"
                 f" / (d.tf_{i} + {BM25_K1} * (1.0 - {BM25_B}"
                 f"      + {BM25_B} * d.dl / s.avgdl)))"
                 for i in range(len(BM25_QUERY_TERMS))
             )}) * 10000, 0) / 10000.0) AS bm25
      FROM per_doc d, stats s
      WHERE {" + ".join(
                 f"CASE WHEN d.tf_{i} > 0 THEN 1 ELSE 0 END"
                 for i in range(len(BM25_QUERY_TERMS))
             )} > 0
    )
"""


@REG.add(
    "q_rrf_fusion",
    f"""
    WITH {_RRF_BM25_CTES},
    lex_rank AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
               AS r_lex
      FROM lex WHERE doc_id <> {{probe}}
      ORDER BY bm25 DESC, doc_id LIMIT {RRF_ARM_K}
    ),
    q AS (
      SELECT embedding AS qe,
             sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b))
               AS qn
      FROM embeddings WHERE vec_id = {{probe}}
    ),
    sem AS (
      SELECT e.vec_id AS doc_id,
             (ROUND((list_reduce(list_prepend(0.0, list_transform(
               generate_series(1, len(e.embedding)),
               i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))),
               (x, y) -> x + y)
             / (sqrt(list_reduce(list_prepend(0.0, list_transform(e.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b))
                * q.qn)) * 10000, 0) / 10000.0) AS cosine
      FROM embeddings e, q
      WHERE e.vec_id <> {{probe}}
    ),
    sem_rank AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS INT)
               AS r_sem
      FROM sem ORDER BY cosine DESC, doc_id LIMIT {RRF_ARM_K}
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id, l.r_lex, s.r_sem,
             COALESCE(1.0 / ({RRF_K} + l.r_lex), 0.0)
               + COALESCE(1.0 / ({RRF_K} + s.r_sem), 0.0) AS rrf
      FROM lex_rank l FULL OUTER JOIN sem_rank s ON l.doc_id = s.doc_id
    )
    SELECT doc_id, r_lex, r_sem, (ROUND((rrf) * 1000000, 0) / 1000000.0) AS rrf
    FROM fused ORDER BY rrf DESC, doc_id LIMIT {RRF_TOP_K}
    """.replace("{probe}", "0"),
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the lexical (BM25,
    fixed query terms) and semantic (exact cosine vs the vec_id=0 probe
    embedding, docs keyed by vec_id==doc_id) top-20 lists —
    rrf(d) = Σ_arms 1/(60 + rank_arm(d)) (Cormack et al. 2009),
    the standard way a RAG candidate generator merges keyword and
    embedding recall without score calibration. A document missing
    from an arm contributes 0 (NULL rank survives to the output so the
    provenance is visible).

    Scale shape: each arm is its own already-scale-shaped pass —
    lexical: the q_bm25_query zero-join scan; semantic: the
    q_similarity_cosine broadcast-probe scan — each reduced by
    TakeOrderedAndProject to 20 rows BEFORE any window, so the
    rank windows and the full-outer fusion join run on constant-size
    frames. At 100 TB the fusion cost is the two scans; everything
    after is O(arm-K). Rank ties break on doc_id; the fused order
    ties-break on doc_id — fully deterministic."""
    from reactor_window_like_flink_spark.llm.similarity import (
        QUERY_VEC_ID,
        _dot,
        _norm,
    )

    lex_top = (
        _bm25_scored(_bm25_scan_features(spark, sf_dir))
        .filter(F.col("doc_id") != QUERY_VEC_ID)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(RRF_ARM_K)
    )
    lex_rank = lex_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .cast("int")
        .alias("r_lex"),
    )
    emb = load(spark, sf_dir, "embeddings")
    q = (
        emb.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("embedding").alias("qe"))
        .withColumn("qn", _norm("qe"))
    )
    sem_top = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            round_to(_dot("embedding", "qe") / (_norm("embedding") * F.col("qn")), 4).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("doc_id"))
        .limit(RRF_ARM_K)
    )
    sem_rank = sem_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("cosine"), F.asc("doc_id")))
        .cast("int")
        .alias("r_sem"),
    )
    fused = lex_rank.join(sem_rank, "doc_id", "full_outer")
    rrf = F.coalesce(
        1.0 / (RRF_K + F.col("r_lex")), F.lit(0.0)
    ) + F.coalesce(1.0 / (RRF_K + F.col("r_sem")), F.lit(0.0))
    return (
        fused.select("doc_id", "r_lex", "r_sem", round_to(rrf, 6).alias("rrf"))
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(RRF_TOP_K)
    )


# ------------------------------------------ distributional term similarity

TERM_JACCARD_MIN_COMMON = 5  # co-document floor (the PMI_MIN_PAIR analog)
TERM_JACCARD_TOP_K = 100


@REG.add(
    "q_term_jaccard",
    f"""
    WITH dt AS (
      SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY term),
    pairs AS (
      SELECT a.term AS term_a, b.term AS term_b,
             CAST(count(*) AS BIGINT) AS common
      FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
      GROUP BY a.term, b.term
      HAVING count(*) >= {TERM_JACCARD_MIN_COMMON}
    )
    SELECT term_a, term_b, common, da.df AS df_a, db.df AS df_b,
           (ROUND((common * 1.0 / (da.df + db.df - common)) * 1000000, 0) / 1000000.0) AS jaccard
    FROM pairs
    JOIN df da ON term_a = da.term
    JOIN df db ON term_b = db.term
    ORDER BY jaccard DESC, term_a, term_b
    LIMIT {TERM_JACCARD_TOP_K}
    """,
)
def q_term_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributional term similarity: Jaccard overlap of two terms'
    DOCUMENT sets, J = |D_a ∩ D_b| / (df_a + df_b − |D_a ∩ D_b|), for
    pairs co-occurring in ≥ 5 documents — the
    document-level companion to ``q_bigram_pmi`` (PMI finds adjacent
    collocations; this finds terms used in the same DOCUMENTS — the
    related-term / query-expansion signal), and the transpose of
    ``q_dedup_ngram_jaccard`` (docs similar by shared terms ↔ terms
    similar by shared docs).

    Scale shape: per-doc DISTINCT terms expand IN-ROW to ordered pairs
    (the _basket_pairs device — one shuffle keyed on the pair, volume
    Σ C(distinct-terms-per-doc, 2), bounded by doc length, never a
    vocab×vocab or wedge self-join); df is a re-aggregate of the same
    (doc, term) frame; the pair⋈df joins key on single terms (the df
    side is the vocabulary — broadcasts under AQE). Top-k through
    TakeOrderedAndProject with full (jaccard, term_a, term_b)
    tie-break. Production corpora stopword-prune and cap per-doc
    distinct terms before the expansion; the intersection count is
    integer-exact so jaccard is a single IEEE division."""
    docs = load(spark, sf_dir, "documents")
    dt = (
        docs.select("doc_id", F.explode(F.array_distinct(_tokens())).alias("term"))
        # shared by the pair expansion and df
        .transform(materialize)
    )
    df = dt.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    # in-row ordered-pair expansion from each doc's sorted term array
    pairs = (
        dt.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("term")).alias("ts"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ts, (x, i) ->"
                    " transform(slice(ts, i + 2, size(ts) - i - 1),"
                    " y -> struct(x AS term_a, y AS term_b))))"
                )
            ).alias("p")
        )
        .select("p.term_a", "p.term_b")
        .groupBy("term_a", "term_b")
        .agg(F.count("*").cast("long").alias("common"))
        .filter(F.col("common") >= TERM_JACCARD_MIN_COMMON)
    )
    da = df.select(F.col("term").alias("term_a"), F.col("df").alias("df_a"))
    db = df.select(F.col("term").alias("term_b"), F.col("df").alias("df_b"))
    return (
        pairs.join(da, "term_a")
        .join(db, "term_b")
        .select(
            "term_a",
            "term_b",
            "common",
            "df_a",
            "df_b",
            round_to(F.col("common")
                * 1.0
                / (F.col("df_a") + F.col("df_b") - F.col("common")), 6).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), F.asc("term_a"), F.asc("term_b"))
        .limit(TERM_JACCARD_TOP_K)
    )


# ------------------------------------------------ MI feature selection

MI_TOP_K = 30


@REG.add(
    "q_mutual_info",
    f"""
    WITH dt AS (
      SELECT DISTINCT doc_id, source,
             unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    n_tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
    n_s AS (SELECT source, CAST(count(*) AS DOUBLE) AS ns
            FROM documents GROUP BY source),
    df AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
           FROM dt GROUP BY term),
    ts AS (SELECT term, source, CAST(count(*) AS DOUBLE) AS nts
           FROM dt GROUP BY term, source),
    cells AS (
      SELECT df.term, n_s.source, df.df, n_s.ns, n_tot.n,
             COALESCE(ts.nts, 0.0) AS nts
      FROM df CROSS JOIN n_s CROSS JOIN n_tot
      LEFT JOIN ts ON ts.term = df.term AND ts.source = n_s.source
    ),
    mi AS (
      SELECT term, CAST(MAX(df) AS BIGINT) AS df,
             SUM(
               CASE WHEN nts > 0 THEN
                 (nts / n) * ln((nts / n) / ((df / n) * (ns / n)))
               ELSE 0.0 END
               +
               CASE WHEN (ns - nts) > 0 AND (n - df) > 0 THEN
                 ((ns - nts) / n)
                 * ln(((ns - nts) / n) / (((n - df) / n) * (ns / n)))
               ELSE 0.0 END
             ) AS mi
      FROM cells GROUP BY term
    )
    SELECT term, df, (ROUND((mi) * 1000000, 0) / 1000000.0) AS mi
    FROM mi
    ORDER BY (ROUND((mi) * 1000000, 0) / 1000000.0) DESC, term
    LIMIT {MI_TOP_K}
    """,
)
def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 terms by mutual information between term PRESENCE
    and document SOURCE — I(T;S) over the 2×|sources| contingency per
    term, zero cells contributing 0 (lim x·ln x) — the feature-
    selection readout behind a domain classifier (which terms identify
    a source; the supervised complement of q_tfidf_topterms' unsupervised
    weighting) and the leakage check for classifier features.

    Scale shape: one (doc, source, term)-distinct explode (the
    q_term_jaccard scan), then everything is vocabulary-sized — per-
    (term, source) counts, per-term df, per-source totals, a
    vocab × sources cell frame (sources is O(10): the cross join
    broadcasts), one grouped fold per term, TakeOrderedAndProject.
    Counts are integral so every cell probability is one division; the
    per-term sum runs over O(sources) terms and rounds(6) BEFORE the
    top-k ordering (tie-break on term) so both engines rank identical
    values."""
    docs = load(spark, sf_dir, "documents")
    dt = (
        docs.select(
            "doc_id",
            "source",
            F.explode(F.array_distinct(_tokens())).alias("term"),
        )
        .transform(materialize)
    )
    n_tot = docs.agg(F.count("*").cast("double").alias("n"))
    n_s = docs.groupBy("source").agg(
        F.count("*").cast("double").alias("ns")
    )
    df = dt.groupBy("term").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    ts = dt.groupBy("term", "source").agg(
        F.count("*").cast("double").alias("nts")
    )
    cells = (
        df.crossJoin(F.broadcast(n_s))
        .crossJoin(F.broadcast(n_tot))
        .join(ts, ["term", "source"], "left")
        .withColumn("nts", F.coalesce(F.col("nts"), F.lit(0.0)))
    )
    n, dfc, ns, nts = (F.col(c) for c in ("n", "df", "ns", "nts"))
    present = F.when(
        nts > 0, (nts / n) * F.log((nts / n) / ((dfc / n) * (ns / n)))
    ).otherwise(0.0)
    absent = F.when(
        ((ns - nts) > 0) & ((n - dfc) > 0),
        ((ns - nts) / n)
        * F.log(((ns - nts) / n) / (((n - dfc) / n) * (ns / n))),
    ).otherwise(0.0)
    mi = cells.groupBy("term").agg(
        F.max("df").cast("long").alias("df"),
        round_to(F.sum(present + absent), 6).alias("mi"),
    )
    return mi.orderBy(F.desc("mi"), F.asc("term")).limit(MI_TOP_K)
