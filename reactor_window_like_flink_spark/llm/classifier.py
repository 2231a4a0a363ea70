"""Model-based quality classification: a fastText-style linear scorer
over hashed character trigrams (Joulin et al., EACL 2017 — bag of hashed
n-gram features, linear layer, sigmoid), run entirely as JVM expression
trees.

This is the scoring half of the classifier-based quality filters used by
LLM-pretraining pipelines (GPT-3/CCNet-style "does this look like the
reference corpus" logistic scorers): training happens offline on a small
labeled sample; SERVING — the 100 TB pass — is a pure per-row projection:
hash each char trigram into ``CLF_BUCKETS`` buckets, fold the bucket
weights, sigmoid. Here the trained artifact is a deterministic
pseudo-random weight vector (a stand-in with the exact production shape:
a small dense literal broadcast into the expression — no join, no UDF, no
Python in the row path, whole-stage codegen, zero shuffles).

The trigram hash is engine-neutral (codepoint polynomial mod buckets) and
the weight fold is a left fold in both engines, so the DuckDB oracle
reproduces the score bit-for-bit before rounding — the same determinism
contract as ``q_fingerprint``'s per-char fold.

Reference parity note: no text surface in the reference engine
(WindowPublisher.java); north-star scope per BASELINE.json.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reactor_window_like_flink_spark.contract import Registry, round_to
from reactor_window_like_flink_spark.llm.curation import (
    FUNNEL_MAX_TOK,
    FUNNEL_MIN_DIV,
    FUNNEL_MIN_TOK,
    funnel_report,
)
from reactor_window_like_flink_spark.sources.tables import load

REG = Registry()

CLF_BUCKETS = 64
CLF_BIAS = -0.05
# Keep-threshold for the funnel integration: docs scoring below this are
# dropped by the classifier rule. Set near the fixture-corpus median so
# the rule demonstrably does work (the production analog: calibrate the
# cut on a held-out sample to the target keep rate).
CLF_KEEP_MIN = 0.48


def _pseudo_weights(n: int = CLF_BUCKETS, seed: int = 1234567) -> list[float]:
    """Deterministic stand-in for trained weights: a 31-bit LCG mapped to
    [-1, 1], rounded to 4 decimals so the literal embeds exactly in both
    engines. Swapping in real trained weights changes nothing downstream."""
    out, x = [], seed
    for _ in range(n):
        x = (x * 1103515245 + 12345) % (1 << 31)
        out.append(round((x / float(1 << 31)) * 2.0 - 1.0, 4))
    return out


CLF_WEIGHTS = _pseudo_weights()

# Trigram bucket hash: polynomial in the codepoints, mod CLF_BUCKETS.
# Spark folds over a PRE-COMPUTED codepoint array ``_cp`` — indexing the
# array is O(1) per step, whereas the naive substring(_lt, i, 1) form
# re-scans the UTF-8 string for the i-th char boundary on every access,
# making the per-row fold O(chars²) (measured 4.6 s -> 0.62 s at sf0.1,
# bit-identical output). DuckDB keeps the substr form (values, not
# speed, are the oracle's job); ascii/unicode both return the codepoint,
# so the engines agree.
_DUCK_HASH = (
    "(unicode(substr(_lt, i, 1)) * 961"
    " + unicode(substr(_lt, i + 1, 1)) * 31"
    " + unicode(substr(_lt, i + 2, 1))) % {b}"
)


def with_classifier_inputs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the two columns ``classifier_score`` folds over: ``_lt``
    (lowercased text — shared with tokenizing rules so the lower() runs
    once) and ``_cp`` (its codepoint array, the O(1)-indexable form)."""
    return df.withColumn("_lt", F.lower(text_col)).withColumn(
        "_cp", F.expr("transform(split(_lt, ''), ch -> ascii(ch))")
    )


def classifier_score(
    weights: list[float] | None = None, bias: float = CLF_BIAS
) -> F.Column:
    """The serving expression: sigmoid(mean bucket weight + bias) over the
    document's char trigrams (docs with < 3 chars score sigmoid(bias)).
    A pure narrow projection — compose it into any scan or funnel.

    ``weights``/``bias`` default to the pseudo-random stand-in; pass the
    ``q_classifier_train`` output to serve the TRAINED model — the mean
    bucket weight the fold computes IS x·w over the normalized trigram
    histogram the trainer optimizes, so trained weights drop in with no
    other change (tests/test_classifier.py asserts fold == numpy
    sigmoid(X@w) agreement).

    Contract: the frame must carry the ``_lt``/``_cp`` columns added by
    ``with_classifier_inputs``."""
    if weights is None:
        weights = CLF_WEIGHTS
    w = ", ".join(f"{x!r}D" for x in weights)
    h = (
        "(element_at(_cp, i) * 961 + element_at(_cp, i + 1) * 31"
        f" + element_at(_cp, i + 2)) % {CLF_BUCKETS}"
    )
    # Left fold of element_at over the hashed trigram sequence; guard the
    # <3-char case explicitly (Spark's sequence(1, 0) DESCENDS, it is not
    # empty like DuckDB's generate_series).
    mean = (
        "CASE WHEN length(_lt) >= 3 THEN"
        f" aggregate(sequence(1, length(_lt) - 2), cast(0.0 as double),"
        f"  (acc, i) -> acc + element_at(array({w}), ({h}) + 1))"
        " / (length(_lt) - 2) ELSE cast(0.0 as double) END"
    )
    return F.expr(f"1.0 / (1.0 + exp(-({mean} + {bias!r})))")


def _duck_score_sql() -> str:
    """DuckDB mirror of ``classifier_score`` (same left fold order)."""
    w = ", ".join(str(x) for x in CLF_WEIGHTS)
    h = _DUCK_HASH.format(b=CLF_BUCKETS)
    mean = (
        "CASE WHEN length(_lt) >= 3 THEN"
        " list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        f"  list_transform(generate_series(1, length(_lt) - 2),"
        f"   i -> [{w}][({h}) + 1])),"
        "  (acc, x) -> acc + x)"
        " / (length(_lt) - 2) ELSE CAST(0.0 AS DOUBLE) END"
    )
    return f"1.0 / (1.0 + exp(-({mean} + {CLF_BIAS})))"


@REG.add(
    "q_quality_classifier",
    f"""
    WITH lt AS (SELECT doc_id, lower(text) AS _lt FROM documents),
    s AS (
      SELECT doc_id,
             CAST(GREATEST(length(_lt) - 2, 0) AS BIGINT) AS n_grams,
             {_duck_score_sql()} AS score
      FROM lt
    )
    SELECT doc_id, n_grams, (ROUND((score) * 10000, 0) / 10000.0) AS clf_score,
           CASE WHEN score >= {CLF_KEEP_MIN} THEN 'keep' ELSE 'drop' END
             AS clf_label
    FROM s
    """,
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document with the hashed-trigram linear classifier and
    label it keep/drop at the calibrated threshold — the model-based
    quality pass that follows the heuristic ``q_quality_score``.

    Scale shape: one narrow scan, zero shuffles, zero Python — the weight
    vector is a broadcast literal inside a codegen'd fold, so the pass
    runs at scan speed on any corpus size (the per-row cost is O(chars),
    the same as the tokenizers that follow it in the pipeline)."""
    docs = load(spark, sf_dir, "documents")
    score = classifier_score()
    return with_classifier_inputs(docs).select(
        "doc_id",
        F.greatest(F.length("_lt") - 2, F.lit(0)).cast("long").alias("n_grams"),
        round_to(score, 4).alias("clf_score"),
        F.when(score >= CLF_KEEP_MIN, "keep").otherwise("drop").alias("clf_label"),
    )


_CLF_FUNNEL_STAGES = [
    (0, "too_short"),
    (1, "too_long"),
    (2, "low_diversity"),
    (3, "classifier_drop"),
    (4, "kept"),
]


@REG.add(
    "q_classifier_funnel",
    f"""
    WITH d AS (
      SELECT doc_id, lower(text) AS _lt,
             len(string_split(text, ' ')) AS n_tok,
             len(list_distinct(string_split(lower(text), ' '))) * 1.0
               / len(string_split(text, ' ')) AS dv
      FROM documents
    ),
    f AS (
      SELECT CASE WHEN n_tok < {FUNNEL_MIN_TOK} THEN 0
                  WHEN n_tok > {FUNNEL_MAX_TOK} THEN 1
                  WHEN dv < {FUNNEL_MIN_DIV} THEN 2
                  WHEN {_duck_score_sql()} < {CLF_KEEP_MIN} THEN 3
                  ELSE 4 END AS stage_idx
      FROM d
    ),
    c AS (SELECT stage_idx, count(*) AS n FROM f GROUP BY 1),
    s(stage_idx, stage) AS (VALUES
      (0, 'too_short'), (1, 'too_long'), (2, 'low_diversity'),
      (3, 'classifier_drop'), (4, 'kept')),
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
def q_classifier_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``q_filter_funnel`` pipeline with the classifier installed as
    the last drop rule (heuristics first — they're cheaper — then the
    model): first-fail attribution across too_short -> too_long ->
    low_diversity -> classifier_drop -> kept. Same scale shape as
    ``q_filter_funnel``: the per-doc stage is ONE codegen'd CASE (the
    classifier fold included — still zero Python, zero extra scans), the
    groupBy shuffles O(#rules) keys, the cumulative window runs over the
    5-row stage frame."""
    docs = load(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    dv = (
        F.size(F.array_distinct(F.split(F.lower("text"), " "))).cast("double")
        / n_tok
    )
    stage_idx = (
        F.when(n_tok < FUNNEL_MIN_TOK, 0)
        .when(n_tok > FUNNEL_MAX_TOK, 1)
        .when(dv < FUNNEL_MIN_DIV, 2)
        .when(classifier_score() < CLF_KEEP_MIN, 3)
        .otherwise(4)
    )
    return funnel_report(
        spark,
        with_classifier_inputs(docs).select(stage_idx.alias("stage_idx")),
        _CLF_FUNNEL_STAGES,
    )


# ------------------------------------------- distributed training

# Ridge-logistic Newton/IRLS: per pass the executors emit gradient
# (65) + Hessian (65x65) partials; the driver solves the 65-dim Newton
# system. Quadratic convergence makes the iteration count a small
# CONSTANT (12) even though the teacher packs scores tightly around the
# threshold; the L2 term (lam) keeps the separable-data optimum finite
# and unique, so the learned weights are a well-defined deterministic
# artifact rather than a diverging direction.
CLF_TRAIN_BAND = 0.02  # confident-label band in teacher-logit space:
#   docs within +-band of the decision boundary are EXCLUDED from
#   training (the CCNet practice — Wenzek et al., LREC 2020 — of
#   fitting the quality model on confidently-labeled examples; the
#   ambiguous band is exactly where teacher FP noise lives)
CLF_TRAIN_ITERS = 12
CLF_TRAIN_L2 = 1e-4
CLF_N_FEATURES = CLF_BUCKETS + 1  # + bias term (constant 1.0 feature)
# Conditioning: bucket features are a normalized histogram (entries
# ~1/64); the trainer scales them by CLF_BUCKETS so the Newton system
# is well-conditioned. Serving undoes this: see trained_serving_params.
_CLF_FEAT_SCALE = float(CLF_BUCKETS)


def trigram_hashes() -> F.Column:
    """The document's char-trigram bucket sequence as an array<int> —
    the SAME hash the serving fold walks (``classifier_score``), emitted
    as data so the trainer can histogram it. Empty for <3-char docs."""
    h = (
        "(element_at(_cp, i) * 961 + element_at(_cp, i + 1) * 31"
        f" + element_at(_cp, i + 2)) % {CLF_BUCKETS}"
    )
    return F.expr(
        "CASE WHEN length(_lt) >= 3 THEN"
        f" transform(sequence(1, length(_lt) - 2), i -> CAST(({h}) AS INT))"
        " ELSE array() END"
    )


def classifier_training_set(
    docs: DataFrame,
    text_col: str = "text",
    band: float = CLF_TRAIN_BAND,
) -> DataFrame:
    """(doc_id, features array<double>[65], y double, margin double):
    the normalized trigram-bucket histogram + constant bias feature,
    labeled by the TEACHER (the shipped pseudo-weight scorer) and
    FILTERED to the confident band |teacher logit - threshold logit| >=
    ``band`` — the planted ground truth the trainer must recover. The
    retained set is exactly linearly separable in this feature space
    (the label IS the sign of a linear function of the features), so a
    correct trainer provably reaches full training accuracy; swapping
    the teacher label for a real one (human tags, reference-corpus
    membership a la CCNet) changes nothing downstream.

    The trigram walk stays JVM-side (the serving fold's hash, emitted
    as an array); the O(CLF_BUCKETS) bincount and the teacher dot run
    in Arrow batches. One narrow scan, zero shuffles; the band filter
    drops ambiguous docs before anything is persisted."""
    import numpy as np
    import pandas as pd

    base = with_classifier_inputs(docs, text_col).select(
        "doc_id", trigram_hashes().alias("_h")
    )
    wt = [*CLF_WEIGHTS, CLF_BIAS]
    logit_t = math.log(CLF_KEEP_MIN / (1.0 - CLF_KEEP_MIN))

    def featurize(batches):
        w_teach = np.asarray(wt, dtype="float64")
        for pdf in batches:
            feats = []
            for h in pdf["_h"]:
                arr = np.asarray(h, dtype="int64")
                counts = np.bincount(arr, minlength=CLF_BUCKETS).astype(
                    "float64"
                )
                if arr.size:
                    counts /= arr.size
                feats.append(np.append(counts, 1.0))
            x = (
                np.stack(feats)
                if feats
                else np.empty((0, CLF_N_FEATURES))
            )
            margin = x @ w_teach - logit_t
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "features": feats,
                    "y": (margin >= 0).astype("float64"),
                    "margin": margin,
                }
            )

    out = base.mapInPandas(
        featurize,
        "doc_id long, features array<double>, y double, margin double",
    )
    return out.filter(F.abs("margin") >= band)


def train_classifier(
    feats: DataFrame,
    iters: int = CLF_TRAIN_ITERS,
    lam: float = CLF_TRAIN_L2,
) -> list[float]:
    """Distributed ridge-logistic Newton/IRLS: per Arrow batch the
    executors emit the gradient partial Xᵀ(σ(Xw) − y) and the Hessian
    partial Xᵀdiag(p(1−p))X as one (65 + 65² doubles) row; the driver
    sums the O(partitions) partials, adds the L2 term, and solves the
    65-dim Newton system — the distributed-second-order aggregation
    shape (Joulin et al. EACL'17 train this model class; IRLS is the
    GLM-fitting classic). Data never leaves the cluster; the driver
    holds ~4.3k doubles per partition per step, and the per-step
    broadcast is the 65-double weight closure.

    At 100 TB: each iteration is ONE pass over the persisted feature
    frame (materialized before the loop — the iterative lineage rule);
    all-reduce volume O(partitions × 65²) is independent of corpus
    size; 12 Newton steps replace the thousands of first-order steps
    the teacher's razor-thin score margins would force on plain GD.
    Iteration count and summation structure match the sequential
    trainer's, so distributed == sequential to float-summation error
    (asserted at 1e-6 in tests/test_classifier.py).

    Returns the 65 weights in the SCALED feature space; feed
    ``trained_serving_params`` to serve them through the fold."""
    import numpy as np
    import pandas as pd

    feats = feats.select("features", "y").persist()
    n_total = feats.count()  # materializes the feature pass
    if n_total == 0:
        feats.unpersist()
        return [0.0] * CLF_N_FEATURES

    # Scale-adaptive task sizing for the Newton passes (r16, guide §4):
    # every iteration is one Arrow-Python job over the persisted frame,
    # so its cost floor is (partitions × Python-task launch), not the
    # trivial 65-dim matmuls. Derive the partial-aggregation fan-in from
    # the measured row count — ~100k rows per task keeps each partial a
    # single well-vectorized matmul — instead of inheriting the scan's
    # partitioning (32 near-empty Python tasks per pass at fixture
    # scale; 12 passes × 31 wasted worker launches). coalesce() is a
    # narrow read of the cached blocks (no shuffle, no second persist)
    # and is a no-op when the data is big enough to want every
    # partition (coalesce never increases the count).
    ideal = max(1, min(int(feats.rdd.getNumPartitions()), (n_total + 99_999) // 100_000))
    work = feats.coalesce(ideal)

    w = np.zeros(CLF_N_FEATURES, dtype="float64")
    eye = np.eye(CLF_N_FEATURES, dtype="float64")
    try:
        for _ in range(iters):
            w_now = w.copy()

            def partials(batches, w_now=w_now):
                for pdf in batches:
                    x = np.stack(pdf["features"].to_numpy())
                    x[:, :CLF_BUCKETS] *= _CLF_FEAT_SCALE
                    y = pdf["y"].to_numpy(dtype="float64")
                    p = 1.0 / (1.0 + np.exp(-(x @ w_now)))
                    g = x.T @ (p - y)
                    h = (x.T * (p * (1.0 - p))) @ x
                    yield pd.DataFrame(
                        {"g": [g.tolist()], "h": [h.ravel().tolist()]}
                    )

            rows = work.mapInPandas(
                partials, "g array<double>, h array<double>"
            ).collect()
            grad = np.zeros(CLF_N_FEATURES, dtype="float64")
            hess = np.zeros(
                (CLF_N_FEATURES, CLF_N_FEATURES), dtype="float64"
            )
            for r in rows:  # O(partitions) rows, summed in plan order
                grad += np.asarray(r["g"], dtype="float64")
                hess += np.asarray(r["h"], dtype="float64").reshape(
                    CLF_N_FEATURES, CLF_N_FEATURES
                )
            grad = grad / n_total + lam * w
            hess = hess / n_total + lam * eye
            w -= np.linalg.solve(hess, grad)
    finally:
        feats.unpersist()
    return [float(x) for x in w]


def trained_serving_params(w: list[float]) -> tuple[list[float], float]:
    """Map trained (scaled-space) weights to ``classifier_score``
    parameters: the fold computes mean bucket weight = x_unscaled · w,
    so bucket weights pick up the training-time conditioning factor and
    the bias passes through. ``classifier_score(*params)`` then serves
    the trained model as the same zero-shuffle codegen fold as the
    shipped one."""
    return [x * _CLF_FEAT_SCALE for x in w[:CLF_BUCKETS]], w[CLF_BUCKETS]


@REG.add("q_classifier_train")  # rows-only: 12 rounds of distributed
# Newton re-aggregation have no SQL mirror; pytest asserts weight
# agreement with a sequential numpy trainer at 1e-6, full training
# accuracy on the confident band, and serving-fold round-trip
# (tests/test_classifier.py).
def q_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN the fastText-style quality classifier on the corpus — the
    other half of ``q_quality_classifier`` (which only scores with
    fixed weights): distributed ridge-logistic Newton/IRLS over hashed
    char-trigram histogram features, labels planted by the shipped
    teacher scorer on the confident band (``classifier_training_set``).
    Emits one row per SERVING coefficient (feature_idx {0..63} = bucket
    weights, 64 = bias), already in ``classifier_score(weights, bias)``
    parameterization — the artifact a curation team materializes and
    feeds straight back into the zero-shuffle 100 TB scoring pass."""
    docs = load(spark, sf_dir, "documents")
    w = train_classifier(classifier_training_set(docs))
    weights, bias = trained_serving_params(w)
    return spark.createDataFrame(
        [(i, round(x, 8)) for i, x in enumerate([*weights, bias])],
        "feature_idx int, weight double",
    )
