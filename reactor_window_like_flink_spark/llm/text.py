"""Text-analysis operators over the ``documents`` table: per-doc stats,
n-gram-heuristic language ID, quality scoring, tokenizer comparison, and a
rolling-hash document fingerprint.

All five are pure JVM-side expression trees (string/array/higher-order
functions inside whole-stage codegen) — zero Python in the row path, so a
100 TB documents table processes at scan speed with no shuffle at all
(narrow transformations only; the driver sees one stage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reactor_window_like_flink_spark.contract import Registry, round_to
from reactor_window_like_flink_spark.functions.materialize import materialize
from reactor_window_like_flink_spark.sources.tables import load

REG = Registry()

# Language marker words for the n-gram/stopword language-ID heuristic.
# Deterministic and engine-neutral: both Spark and the DuckDB oracle count
# marker hits over the same whitespace tokenization.
_MARKERS = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "los", "y", "es"),
    "fr": ("le", "la", "les", "et", "est"),
}

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

# BPE-ish pre-tokenizer: letter runs, digit runs, or single punctuation.
# Kept to a POSIX-compatible alternation so Spark (Java regex) and DuckDB
# (RE2) produce identical matches.
_BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def _tokens(col: str = "text") -> F.Column:
    return F.split(F.lower(F.col(col)), " ")


@REG.add(
    "q_text_stats",
    """
    SELECT doc_id, lang,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(string_split(lower(text), ' '))) AS BIGINT)
             AS n_uniq_tokens,
           (ROUND((CAST(length(text) AS DOUBLE)
                 / len(string_split(lower(text), ' '))) * 10000, 0) / 10000.0) AS chars_per_token
    FROM documents
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/char statistics — the basic profiling pass every
    training-data pipeline starts with."""
    docs = load(spark, sf_dir, "documents")
    toks = _tokens()
    return docs.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq_tokens"),
        round_to(F.length("text").cast("double") / F.size(toks), 4).alias("chars_per_token"),
    )


def _marker_count(lang: str) -> F.Column:
    markers = F.array(*[F.lit(m) for m in _MARKERS[lang]])
    return F.size(F.filter(_tokens(), lambda t: F.array_contains(markers, t))).cast(
        "long"
    )


def _duck_marker_count(lang: str) -> str:
    arr = ", ".join(f"'{m}'" for m in _MARKERS[lang])
    return (
        f"CAST(len(list_filter(string_split(lower(text), ' '), "
        f"t -> list_contains([{arr}], t))) AS BIGINT)"
    )


@REG.add(
    "q_lang_id",
    f"""
    WITH scored AS (
      SELECT doc_id, lang AS lang_true,
             {_duck_marker_count("en")} AS c_en,
             {_duck_marker_count("de")} AS c_de,
             {_duck_marker_count("es")} AS c_es,
             {_duck_marker_count("fr")} AS c_fr
      FROM documents
    )
    SELECT doc_id, lang_true, c_en, c_de, c_es, c_fr,
           CASE WHEN c_en = 0 AND c_de = 0 AND c_es = 0 AND c_fr = 0
                THEN 'unknown'
                WHEN c_de > c_en AND c_de >= c_es AND c_de >= c_fr THEN 'de'
                WHEN c_es > c_en AND c_es >= c_fr THEN 'es'
                WHEN c_fr > c_en THEN 'fr'
                ELSE 'en' END AS lang_pred
    FROM scored
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID via marker-word voting (n-gram heuristic): count hits
    from per-language marker sets, argmax with a deterministic tie order
    (en < fr < es < de on ties, 'unknown' when no marker fires)."""
    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.col("lang").alias("lang_true"),
        "text",
        _marker_count("en").alias("c_en"),
        _marker_count("de").alias("c_de"),
        _marker_count("es").alias("c_es"),
        _marker_count("fr").alias("c_fr"),
    )
    c = F.col
    pred = (
        F.when(
            (c("c_en") == 0) & (c("c_de") == 0) & (c("c_es") == 0) & (c("c_fr") == 0),
            "unknown",
        )
        .when((c("c_de") > c("c_en")) & (c("c_de") >= c("c_es")) & (c("c_de") >= c("c_fr")), "de")
        .when((c("c_es") > c("c_en")) & (c("c_es") >= c("c_fr")), "es")
        .when(c("c_fr") > c("c_en"), "fr")
        .otherwise("en")
    )
    return scored.select(
        "doc_id", "lang_true", "c_en", "c_de", "c_es", "c_fr", pred.alias("lang_pred")
    )


@REG.add(
    "q_quality_score",
    f"""
    WITH feats AS (
      SELECT doc_id,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS n_tokens,
             CAST(len(list_filter(string_split(lower(text), ' '),
                  t -> list_contains([{", ".join(f"'{w}'" for w in _STOPWORDS)}], t)))
                  AS DOUBLE) AS n_stop,
             CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
                  AS DOUBLE) AS n_punct
      FROM documents
    )
    SELECT doc_id,
           ROUND(LEAST(n_chars / 500.0, 1.0) * 10000, 0) / 10000.0
             AS len_score,
           ROUND((n_stop / n_tokens) * 10000, 0) / 10000.0 AS stop_ratio,
           ROUND((n_punct / n_chars) * 10000, 0) / 10000.0 AS punct_ratio,
           ROUND((0.5 * LEAST(n_chars / 500.0, 1.0)
                  + 0.4 * (n_stop / n_tokens)
                  + 0.1 * (1.0 - n_punct / n_chars)) * 10000, 0) / 10000.0
             AS quality,
           CASE WHEN 0.5 * LEAST(n_chars / 500.0, 1.0)
                     + 0.4 * (n_stop / n_tokens)
                     + 0.1 * (1.0 - n_punct / n_chars) >= 0.45 THEN 'high'
                WHEN 0.5 * LEAST(n_chars / 500.0, 1.0)
                     + 0.4 * (n_stop / n_tokens)
                     + 0.1 * (1.0 - n_punct / n_chars) >= 0.30 THEN 'medium'
                ELSE 'low' END AS quality_band
    FROM feats
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: length saturation, stopword density, and
    punctuation ratio combined into one score + band — the standard cheap
    pre-filter before expensive model-based quality scoring."""
    docs = load(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_chars = F.length("text").cast("double")
    n_tokens = F.size(_tokens()).cast("double")
    n_stop = F.size(F.filter(_tokens(), lambda t: F.array_contains(stop, t))).cast(
        "double"
    )
    n_punct = F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", "")).cast("double")
    len_score = F.least(n_chars / 500.0, F.lit(1.0))
    stop_ratio = n_stop / n_tokens
    punct_ratio = n_punct / n_chars
    quality = 0.5 * len_score + 0.4 * stop_ratio + 0.1 * (1.0 - punct_ratio)
    # ROUND(x * 10^4, 0) / 10^4 instead of a single 4-decimal round: at 0 decimals
    # Spark's shortest-repr HALF_UP and DuckDB's binary-double rounding
    # agree on EVERY double (including exact halves — both go away from
    # zero), while at 4 decimals they diverge when a ratio's shortest
    # repr sits on the other side of a half from its binary value — the
    # first sf0.1 oracle sweep caught 8 of 50k rows off by 1e-4 in
    # `quality` exactly this way (sf0.01 never hit a boundary).
    return docs.select(
        "doc_id",
        round_to(len_score, 4).alias("len_score"),
        round_to(stop_ratio, 4).alias("stop_ratio"),
        round_to(punct_ratio, 4).alias("punct_ratio"),
        round_to(quality, 4).alias("quality"),
        F.when(quality >= 0.45, "high")
        .when(quality >= 0.30, "medium")
        .otherwise("low")
        .alias("quality_band"),
    )


@REG.add(
    "q_token_count",
    f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT) AS bpe_tokens,
           (ROUND((CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS DOUBLE)
                 / len(string_split(text, ' '))) * 10000, 0) / 10000.0) AS fertility
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split vs a BPE-ish pre-tokenizer
    regex (letter runs / digit runs / single punctuation), plus their ratio
    ("fertility") — the cost model every token-budgeted pipeline needs."""
    docs = load(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    bpe = F.regexp_extract_all("text", F.lit(_BPE_RE), 0)
    return docs.select(
        "doc_id",
        F.size(ws).cast("long").alias("ws_tokens"),
        F.size(bpe).cast("long").alias("bpe_tokens"),
        round_to(F.size(bpe).cast("double") / F.size(ws), 4).alias("fertility"),
    )


@REG.add(
    "q_fingerprint",
    """
    SELECT doc_id,
           list_reduce(
             list_prepend(0::BIGINT,
               list_transform(generate_series(1, length(text)),
                              i -> CAST(unicode(substr(text, i, 1)) AS BIGINT))),
             (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash fingerprint over the document's characters
    (base 31 mod 1e9+7) — deterministic, engine-neutral content identity.
    The per-char fold is a JVM higher-order ``aggregate`` over a
    PRE-SPLIT codepoint array: folding ``ascii(substring(text, i, 1))``
    instead is O(chars²) per row (UTF8String.substring walks from the
    start to find codepoint i — the same lesson as the classifier's
    ``_cp`` column; measured 1.7 s → 0.34 s at sf0.1, bit-identical
    values incl. unicode). At 100 TB swap in ``xxhash64(text)`` (one
    hash per row, no per-char loop) — this key keeps the arithmetic
    form because the oracle must reproduce it exactly."""
    docs = load(spark, sf_dir, "documents")
    fp = F.expr(
        "aggregate(transform(split(text, ''), ch -> ascii(ch)), 0L,"
        " (acc, c) -> (acc * 31 + c) % 1000000007)"
    )
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.length("text").cast("long").alias("n_chars"),
    )


@REG.add("q_fingerprint_fast")  # rows-only: DuckDB has no xxhash64
def q_fingerprint_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production fingerprint: ``xxhash64(text)`` — one JVM hash call per
    row instead of ``q_fingerprint``'s per-character interpreted
    ``aggregate(sequence(...))`` fold (O(chars) of interpreted expression
    per row). Identical use: equal texts get equal fingerprints, so
    grouping by the fingerprint partitions documents into the same
    duplicate groups (modulo a 2^-64 collision; the polynomial form
    collides at ~2^-30, so the fast path is strictly stronger). This is
    the fingerprint to run at scale; the polynomial key stays registered
    because the oracle must reproduce the arithmetic exactly."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.xxhash64("text").alias("fingerprint"),
        F.length("text").cast("long").alias("n_chars"),
    )


@REG.add(
    "q_pii_redact",
    r"""
    SELECT event_id,
           regexp_replace(
             regexp_replace(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>',
                            'g'),
             '[0-9]+', '<NUM>', 'g') AS redacted,
           CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT)
             AS n_number_runs,
           CAST(len(regexp_extract_all(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+'))
                AS BIGINT) AS n_emails
    FROM events
    """,
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""PII scrub pass over the raw ``events.props`` payload: mask email
    addresses then numeric runs, and count what was masked (the audit
    columns a redaction pipeline must emit). Pure ``regexp_replace`` /
    ``regexp_extract_all`` projections — no shuffle, whole-stage codegen,
    one streaming pass at any scale. Spark replaces all occurrences by
    default; the DuckDB oracle needs the explicit 'g' flag — patterns are
    kept RE2-compatible so both engines and a Kafka-side pre-filter agree."""
    events = load(spark, sf_dir, "events")
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
    num = r"[0-9]+"
    return events.select(
        "event_id",
        F.regexp_replace(
            F.regexp_replace("props", email, "<EMAIL>"), num, "<NUM>"
        ).alias("redacted"),
        F.size(F.regexp_extract_all("props", F.lit(num), F.lit(0)))
        .cast("long")
        .alias("n_number_runs"),
        F.size(F.regexp_extract_all("props", F.lit(email), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
    )


VOCAB_TOP_K = 100
TFIDF_TOP_TERMS = 3


@REG.add(
    "q_vocab_topk",
    f"""
    SELECT term, CAST(count(*) AS BIGINT) AS freq,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    )
    GROUP BY term
    ORDER BY freq DESC, term LIMIT {VOCAB_TOP_K}
    """,
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: the 100 most frequent tokens with
    collection and document frequency — the tokenizer-induction /
    coverage-check pass.

    One explode -> one combined (freq, doc_freq) aggregate keyed on the
    term; map-side partial combine collapses each partition to its
    distinct terms before the shuffle, and the final ORDER BY runs as
    TakeOrderedAndProject over O(|vocab|) aggregated rows, never a global
    sort of token occurrences. Ties at equal frequency break on the term
    string so LIMIT is deterministic."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(_tokens()).alias("term"))
        .groupBy("term")
        .agg(
            F.count("*").cast("long").alias("freq"),
            F.countDistinct("doc_id").cast("long").alias("doc_freq"),
        )
        .orderBy(F.desc("freq"), F.asc("term"))
        .limit(VOCAB_TOP_K)
    )


@REG.add(
    "q_tfidf_topterms",
    f"""
    WITH tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
            FROM documents)
      GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             (ROUND((tf.tf * ln(CAST(n.n AS DOUBLE) / df.df)) * 10000, 0) / 10000.0) AS tfidf,
             ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * ln(CAST(n.n AS DOUBLE) / df.df) DESC,
                        tf.term) AS rn
      FROM tf JOIN df USING (term), n
    )
    SELECT doc_id, term, tfidf, CAST(rn AS INT) AS rank
    FROM scored WHERE rn <= {TFIDF_TOP_TERMS}
    """,
)
def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the classic
    keyword/topic-surfacing pass.

    Pipeline: explode -> (doc, term) tf aggregate, materialized once
    (exchange reuse does not fire across the divergently-pruned df/score
    branches) -> term df aggregate (re-aggregation of tf) -> keyed
    join tf⋈df on the term -> per-doc top-k window. The document count N
    joins in as a broadcast 1-row aggregate (scalar-subquery shape, no
    driver collect). All shuffles are keyed on term or doc_id; the window
    partitions by doc_id with (score, term) ordering so ranks are
    deterministic."""
    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(_tokens()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .transform(materialize)
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n"))
    score = F.col("tf") * F.log(F.col("n").cast("double") / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("_s"), F.asc("term"))
    return (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("_s", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_TERMS)
        .select(
            "doc_id",
            "term",
            round_to("_s", 4).alias("tfidf"),
            "rank",
        )
    )


@REG.add(
    "q_unigram_logprob",
    """
    WITH tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
            FROM documents)
      GROUP BY doc_id, term
    ),
    c AS (SELECT term, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY term),
    n AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM c),
    d AS (
      SELECT tf.doc_id,
             CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
             sum(tf.tf * ln(CAST(c.c AS DOUBLE))) / sum(tf.tf) AS m
      FROM tf JOIN c USING (term)
      GROUP BY tf.doc_id
    )
    SELECT doc_id, n_tokens, (ROUND((m - ln(n.n)) * 10000, 0) / 10000.0) AS avg_logprob
    FROM d, n
    """,
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality score: per-document mean token log-probability
    under the corpus's own unigram model (the CCNet-style
    perplexity-proxy filter — documents far below the corpus mean are
    boilerplate/garbage candidates, far above are degenerate repetition).

    avg_logprob = (1/|doc|) * sum ln(count(tok)/N)
                = sum(tf * ln count) / sum(tf) - ln N.

    Pipeline: ONE token explode into a (doc, term) tf aggregate,
    materialized once (localCheckpoint, same reasoning as
    q_tfidf_topterms); corpus counts re-aggregate tf per term; keyed
    join tf⋈counts on the term; per-doc
    aggregate; corpus total N joins as a broadcast 1-row aggregate. Every
    shuffle is keyed on term or doc_id — no all-token global pass, fully
    map-side combined.

    Reference parity note: no text surface in the reference engine
    (WindowPublisher.java); north-star scope per BASELINE.json."""
    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(_tokens()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .transform(materialize)  # shared by c and the scoring join
    )
    c = tf.groupBy("term").agg(F.sum("tf").alias("c"))
    n = c.agg(F.sum("c").cast("double").alias("n"))
    d = (
        tf.join(c, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            (
                F.sum(F.col("tf") * F.log(F.col("c").cast("double")))
                / F.sum("tf")
            ).alias("m"),
        )
    )
    return d.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "n_tokens",
        round_to(F.col("m") - F.log("n"), 4).alias("avg_logprob"),
    )


# Interpolation weight for the bigram LM: P(w|u) = LM_LAMBDA * P_bi + (1 -
# LM_LAMBDA) * P_uni — Jelinek-Mercer smoothing, the simplest backoff that
# keeps unseen-context documents finitely scored.
LM_LAMBDA = 0.75


@REG.add(
    "q_bigram_logprob",
    f"""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents
    ),
    bp AS (
      SELECT doc_id,
             string_split(pr, ' ')[1] AS u,
             string_split(pr, ' ')[2] AS w
      FROM (SELECT doc_id,
                   unnest(list_transform(range(1, len(tk)),
                                         i -> tk[i] || ' ' || tk[i + 1]))
                     AS pr
            FROM t WHERE len(tk) >= 2)
    ),
    dtf AS (
      SELECT doc_id, u, w, count(*) AS m FROM bp GROUP BY doc_id, u, w
    ),
    cb AS (
      SELECT u, w, CAST(sum(m) AS BIGINT) AS c_uw FROM dtf GROUP BY u, w
    ),
    cc AS (SELECT u, CAST(sum(c_uw) AS BIGINT) AS c_u FROM cb GROUP BY u),
    uni AS (
      SELECT term, count(*) AS c
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS term
            FROM documents)
      GROUP BY term
    ),
    n AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM uni),
    d AS (
      SELECT dtf.doc_id,
             CAST(sum(m) AS BIGINT) AS n_bigrams,
             sum(m * ln({LM_LAMBDA} * (CAST(c_uw AS DOUBLE) / c_u)
                        + {1.0 - LM_LAMBDA} * (CAST(c AS DOUBLE) / n.n)))
               / sum(m) AS s
      FROM dtf
      JOIN cb USING (u, w)
      JOIN cc USING (u)
      JOIN uni ON uni.term = dtf.w, n
      GROUP BY dtf.doc_id
    )
    SELECT doc_id, n_bigrams, (ROUND((s) * 10000, 0) / 10000.0) AS avg_logprob_bi FROM d
    """,
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality score, bigram order: per-document mean
    ln P(w|u) under a Jelinek-Mercer-interpolated bigram model trained
    on the corpus itself — the next step up from ``q_unigram_logprob``
    (bag-of-words can't see scrambled or template text; a bigram model
    scores "the of the of" low even when every unigram is common).

    P(w|u) = 0.75·c(u,w)/c(u·) + 0.25·c(w)/N, with
    c(u·) the bigram-position context total, so the conditional is a
    proper distribution over the observed vocabulary. Docs with < 2
    tokens have no bigram positions and emit no row (same contract as
    the SQL oracle's GROUP BY).

    Scale shape (the ``q_unigram_logprob`` pattern one order up): per-row
    bigram construction is a pure JVM ``transform`` over the token array;
    ONE (doc, u, w) multiplicity aggregate is materialized
    (``localCheckpoint``) and RE-aggregated for the corpus bigram table,
    whose context totals re-aggregate it again — three keyed map-side-
    combined shuffles carrying (short string pair, count), never text;
    the vocabulary joins are term-keyed (AQE broadcasts the small side);
    N is a broadcast 1-row aggregate."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", _tokens().alias("t"))
    pairs = toks.filter(F.size("t") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(element_at(t, i) AS u,"
                " element_at(t, i + 1) AS w))"
            )
        ).alias("p"),
    ).select("doc_id", "p.u", "p.w")
    dtf = (
        pairs.groupBy("doc_id", "u", "w")
        .agg(F.count("*").alias("m"))
        .transform(materialize)  # shared by cb and the scoring join
    )
    cb = dtf.groupBy("u", "w").agg(F.sum("m").cast("long").alias("c_uw"))
    cc = cb.groupBy("u").agg(F.sum("c_uw").cast("long").alias("c_u"))
    uni = (
        docs.select(F.explode(_tokens()).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c"))
        .transform(materialize)  # shared by n and the scoring join
    )
    n = uni.agg(F.sum("c").cast("double").alias("n"))
    p = F.lit(LM_LAMBDA) * (
        F.col("c_uw").cast("double") / F.col("c_u")
    ) + F.lit(1.0 - LM_LAMBDA) * (F.col("c").cast("double") / F.col("n"))
    d = (
        dtf.join(cb, ["u", "w"])
        .join(cc, "u")
        .join(uni, dtf["w"] == uni["term"])
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("long").alias("n_bigrams"),
            (F.sum(F.col("m") * F.log(p)) / F.sum("m")).alias("s"),
        )
    )
    return d.select(
        "doc_id", "n_bigrams", round_to("s", 4).alias("avg_logprob_bi")
    )


# q_perplexity_filter: drop docs whose unigram-LM avg logprob sits more
# than PPL_ZCUT sample-stddevs below their language's mean — the CCNet
# perplexity-bucket filter reduced to a z-cut so the threshold is a pure
# per-language AGGREGATE (mean/std), never a per-language sort.
PPL_ZCUT = 1.5


@REG.add(
    "q_perplexity_filter",
    f"""
    WITH tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
            FROM documents)
      GROUP BY doc_id, term
    ),
    c AS (SELECT term, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY term),
    n AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM c),
    d AS (
      SELECT tf.doc_id,
             sum(tf.tf * ln(CAST(c.c AS DOUBLE))) / sum(tf.tf) AS m
      FROM tf JOIN c USING (term)
      GROUP BY tf.doc_id
    ),
    lp AS (
      SELECT d.doc_id, docs.lang, d.m - ln(n.n) AS lp
      FROM d JOIN documents docs USING (doc_id), n
    ),
    st AS (
      SELECT lang, avg(lp) AS mu, stddev(lp) AS sd
      FROM lp GROUP BY lang
    )
    SELECT lp.doc_id, lp.lang, (ROUND((lp.lp) * 10000, 0) / 10000.0) AS avg_logprob,
           (ROUND(((lp.lp - st.mu) / NULLIF(st.sd, 0)) * 10000, 0) / 10000.0) AS z,
           COALESCE((lp.lp - st.mu) / NULLIF(st.sd, 0) < -{PPL_ZCUT},
                    FALSE) AS dropped
    FROM lp JOIN st USING (lang)
    """,
)
def q_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality filter, per language: score every doc
    with its mean token log-probability under the corpus unigram LM
    (the ``q_unigram_logprob`` pipeline), then drop docs more than
    PPL_ZCUT sample-stddevs below their language's mean. Per-language
    normalization is the load-bearing part — absolute logprob is not
    comparable across languages (token inventories differ), which is
    why CCNet buckets per language before cutting.

    Scale shape: the LM scoring reuses the tf-aggregate pipeline (one
    explode, shuffles keyed on term/doc_id, text never shuffled); the
    threshold is a per-language mean/std AGGREGATE — O(langs) rows,
    constant state per group, broadcast-joined back. No per-language
    window or sort anywhere: the per-lang rank formulation would put an
    entire language in one task at corpus scale (the ``skew_metrics``
    lesson), the z-cut keeps every stage partition-parallel.

    Reference parity note: no text surface in the reference engine
    (WindowPublisher.java); north-star scope per BASELINE.json."""
    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(_tokens()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .transform(materialize)  # shared by c and the scoring join
    )
    c = tf.groupBy("term").agg(F.sum("tf").alias("c"))
    n = c.agg(F.sum("c").cast("double").alias("n"))
    d = (
        tf.join(c, "term")
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.col("tf") * F.log(F.col("c").cast("double")))
                / F.sum("tf")
            ).alias("m"),
        )
    )
    lp = (
        d.join(docs.select("doc_id", "lang"), "doc_id")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "lang", (F.col("m") - F.log("n")).alias("lp"))
        .transform(materialize)  # shared by the per-lang stats and the final join
    )
    st = lp.groupBy("lang").agg(
        F.avg("lp").alias("mu"), F.stddev("lp").alias("sd")
    )
    z = (F.col("lp") - F.col("mu")) / F.nullif(F.col("sd"), F.lit(0.0))
    return lp.join(F.broadcast(st), "lang").select(
        "doc_id",
        "lang",
        round_to("lp", 4).alias("avg_logprob"),
        round_to(z, 4).alias("z"),
        F.coalesce(z < -PPL_ZCUT, F.lit(False)).alias("dropped"),
    )
