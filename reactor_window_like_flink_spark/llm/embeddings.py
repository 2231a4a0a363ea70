"""Embedding-space transforms: distributed PCA whitening.

Whitening (center → rotate onto principal axes → scale to unit
variance) is the standard embedding post-process before similarity
work (Su et al., "Whitening Sentence Representations for Better
Semantics and Faster Retrieval", 2021; the classic ZCA/PCA whitening of
Bell & Sejnowski): anisotropic encoder output makes cosine scores
saturate, and whitened vectors make the dot product an honest metric.
It is also the dimensionality-reduction step (keep the top-d
components) a 100 TB embedding corpus runs before ANN indexing.

Scale design — the moments-then-project shape (the same distributed
second-order aggregation as ``classifier.train_classifier``):

* **Moments in one pass**: executors emit per-Arrow-batch partials
  (count, Σx, Σxxᵀ — ``1 + dim + dim²`` doubles per batch); the driver
  sums O(partitions) rows and eigendecomposes the dim×dim covariance.
  Raw vectors never shuffle; the all-reduce volume is independent of
  corpus size.
* **Projection is a second narrow pass**: (x − μ) Vᵈ diag(1/√λ) as one
  numpy matmul per batch under broadcast (μ, V, λ) — no shuffle, no
  join.
* **Deterministic**: no sampling, no RNG; ``numpy.linalg.eigh`` on the
  exact covariance, eigenvector sign pinned (largest-|coordinate|
  entry positive) so distributed == sequential == re-run bit-stable up
  to float-summation error (asserted at 1e-6 in
  tests/test_embeddings.py).

Reference parity note: the reference engine (WindowPublisher.java) has
no vector surface; north-star scope per BASELINE.json.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from reactor_window_like_flink_spark.contract import Registry, round_to
from reactor_window_like_flink_spark.llm.similarity import _dot, _norm
from reactor_window_like_flink_spark.sources.tables import load

REG = Registry()

PCA_DIM = 16  # components kept by the registered key (of the 64-dim input)
PCA_EPS = 1e-9  # variance floor: degenerate axes scale by 1/sqrt(eps)


def embedding_moments(vectors: DataFrame, col: str = "embedding"):
    """One distributed pass → (n, mean, covariance) of the embedding
    column. Per-batch partials are (count, Σx, Σxxᵀ); the driver sums
    in plan order and forms the unbiased covariance."""

    def partials(batches):
        for pdf in batches:
            x = np.asarray(pdf[col].tolist(), dtype="float64")
            if not len(x):
                continue
            yield pd.DataFrame(
                {
                    "n": [len(x)],
                    "s": [x.sum(0).tolist()],
                    "ss": [(x.T @ x).ravel().tolist()],
                }
            )

    rows = (
        vectors.select(col)
        .mapInPandas(partials, "n long, s array<double>, ss array<double>")
        .collect()
    )
    if not rows:
        return 0, None, None
    dim = len(rows[0]["s"])
    n = 0
    s = np.zeros(dim)
    ss = np.zeros((dim, dim))
    for r in rows:  # O(partitions) rows, summed in plan order
        n += r["n"]
        s += np.asarray(r["s"])
        ss += np.asarray(r["ss"]).reshape(dim, dim)
    mean = s / n
    cov = ss / n - np.outer(mean, mean)
    return n, mean, cov


def pca_whitening_params(vectors: DataFrame, d: int = PCA_DIM, col: str = "embedding"):
    """Fit the whitening transform: top-``d`` eigenpairs of the
    covariance (descending eigenvalue), signs pinned so each
    eigenvector's largest-|coordinate| entry is positive (eigh's sign
    is otherwise arbitrary — the determinism contract needs it fixed).
    Returns (n, mean, components (dim×d), eigenvalues (d),
    explained_variance_ratio (d))."""
    n, mean, cov = embedding_moments(vectors, col)
    if n == 0:
        return 0, None, None, None, None
    w, v = np.linalg.eigh(cov)  # ascending
    order = np.argsort(w)[::-1][:d]
    lam = w[order]
    comp = v[:, order]
    for j in range(comp.shape[1]):
        i = int(np.abs(comp[:, j]).argmax())
        if comp[i, j] < 0:
            comp[:, j] = -comp[:, j]
    ratio = lam / max(w.sum(), PCA_EPS)
    return n, mean, comp, lam, ratio


def whiten(
    vectors: DataFrame,
    mean,
    components,
    eigenvalues,
    col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project + whiten: ``(x − μ) V diag(1/√(λ + eps))`` as one numpy
    matmul per Arrow batch under the broadcast parameters. Narrow pass,
    zero shuffles."""
    mu = np.asarray(mean, dtype="float64")
    proj = np.asarray(components, dtype="float64") / np.sqrt(
        np.asarray(eigenvalues, dtype="float64") + PCA_EPS
    )

    @pandas_udf("array<double>")
    def project(c: pd.Series) -> pd.Series:
        x = np.asarray(c.tolist(), dtype="float64")
        y = (x - mu) @ proj
        return pd.Series(list(y))

    return vectors.withColumn(out_col, project(col))


@REG.add("q_embed_pca")  # rows-only: eigendecomposition has no SQL
# mirror; pytest asserts distributed == numpy-sequential moments and
# projection at 1e-6, identity covariance of the whitened output, and
# descending explained variance (tests/test_embeddings.py).
def q_embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA-whiten the embeddings table to its top PCA_DIM components:
    (vec_id, label, pca, var_ratio) where ``pca`` is the centered,
    rotated, unit-variance projection and ``var_ratio`` the kept
    explained-variance fraction (an audit scalar, constant per run) —
    the embedding normalization + dimensionality-reduction pass a
    curation pipeline runs before ANN indexing and semantic dedup.
    Whitened output feeds the existing similarity family unchanged
    (cosine on whitened vectors = the Mahalanobis-corrected metric).

    Contract shape: ``pca`` is emitted as a comma-joined STRING of the
    round-6 components, not an ``array<double>`` — the driver's
    canonicalizer sorts rows pandas-side and an array cell is
    unhashable there (the r12 harness error left this key with no
    driver record at all). The library path (``whiten``) still returns
    the true array column for downstream similarity/ANN use."""
    from pyspark.sql import functions as F

    emb = load(spark, sf_dir, "embeddings")
    n, mean, comp, lam, ratio = pca_whitening_params(emb)
    if n == 0:
        return emb.select(
            "vec_id",
            "label",
            F.lit("").alias("pca"),
            F.lit(0.0).alias("var_ratio"),
        ).limit(0)
    out = whiten(emb, mean, comp, lam)
    return out.select(
        "vec_id",
        "label",
        F.expr(
            "concat_ws(',', transform(pca,"
            " x -> CAST(round(x, 6) AS STRING)))"
        ).alias("pca"),
        F.lit(round(float(ratio.sum()), 6)).alias("var_ratio"),
    )


def _dot_unrolled(col_a: str, col_b: str, dim: int) -> "F.Column":
    """Fixed-dim dot product as an explicit left-associated sum —
    bit-identical to the sequential ``aggregate`` fold (0.0 + x0 == x0
    in IEEE, and ``a + b + c`` parses ((a+b)+c), the fold's order) but
    whole-stage-codegen'd instead of interpreted per-row lambda calls.
    Higher-order functions are CodegenFallback in Spark, so the fold
    form pays a per-element interpreter dispatch; at a known dim the
    unrolled expression compiles into the scan's generated code."""
    terms = " + ".join(
        f"(CAST({col_a}[{i}] AS DOUBLE) * CAST({col_b}[{i}] AS DOUBLE))"
        for i in range(dim)
    )
    return F.expr(terms)


def _norm_unrolled(col: str, dim: int) -> "F.Column":
    return F.sqrt(_dot_unrolled(col, col, dim))


@REG.add(
    "q_cluster_profile",
    """
    WITH comp0 AS (
      SELECT label, embedding,
             unnest(generate_series(1, len(embedding))) AS i
      FROM embeddings
    ),
    comp AS (
      SELECT label, i, CAST(embedding[i] AS DOUBLE) AS c FROM comp0
    ),
    cent AS (
      SELECT label, i, (ROUND((AVG(c)) * 1000000, 0) / 1000000.0) AS m FROM comp GROUP BY label, i
    ),
    carr AS (
      SELECT label, list(m ORDER BY i) AS centroid,
             (ROUND((sqrt(list_reduce(list_prepend(0.0,
               list_transform(list(m ORDER BY i), x -> x * x)),
               (a, b) -> a + b))) * 1000000, 0) / 1000000.0) AS centroid_norm
      FROM cent GROUP BY label
    ),
    scored AS (
      SELECT e.label, c.centroid_norm,
             list_reduce(list_prepend(0.0, list_transform(
               generate_series(1, len(e.embedding)),
               i -> CAST(e.embedding[i] AS DOUBLE) * c.centroid[i])),
               (x, y) -> x + y)
             / (sqrt(list_reduce(list_prepend(0.0,
                  list_transform(e.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                  (a, b) -> a + b))
                * sqrt(list_reduce(list_prepend(0.0,
                    list_transform(c.centroid, x -> x * x)),
                    (a, b) -> a + b))) AS cos
      FROM embeddings e JOIN carr c USING (label)
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n,
           centroid_norm,
           (ROUND((AVG(cos)) * 10000, 0) / 10000.0) AS mean_cos,
           (ROUND((MIN(cos)) * 10000, 0) / 10000.0) AS min_cos
    FROM scored
    GROUP BY label, centroid_norm
    """,
)
def q_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label cluster profile of the embedding corpus: size, centroid
    norm, and the mean/min cosine of members to their label centroid —
    the cohesion audit a curation team reads before trusting labels as
    topics (a low mean-cos label is a grab-bag; a tiny centroid norm
    means members cancel — no common direction), and the quality gate
    for cluster-balanced sampling (q_sample_cluster_balanced) and
    SemDeDup cluster pruning.

    Scale shape: centroids via per-(label, dim) component aggregation —
    posexplode is an in-row fan-out (rows × dim, no join) and the
    aggregate map-side combines to O(labels × dim); the assembled
    O(labels) centroid table broadcasts back onto ONE scoring scan
    (per-row cosine = fixed-order JVM fold). At 100 TB: two narrow
    passes over the vectors, shuffles bounded by labels × dim.
    Determinism: centroid components round(6) BEFORE scoring in both
    engines; all folds run in index order; min is order-free."""
    emb = load(spark, sf_dir, "embeddings")
    # dim probe must be corpus-wide, not first-row: on a mixed-dim
    # embeddings table an unrolled dot sized from one arbitrary row
    # would silently TRUNCATE longer vectors (the fold form sums all
    # elements), changing cosines with no error (r13 ADVICE). One
    # min/max aggregate over the int size column; unroll only when
    # every row agrees, else take the HOF-fold path.
    sizes = emb.select(
        F.min(F.size("embedding")).alias("lo"),
        F.max(F.size("embedding")).alias("hi"),
    ).first()
    uniform = sizes is not None and sizes["lo"] == sizes["hi"]
    dim = int(sizes["hi"]) if uniform and sizes["hi"] is not None else 0
    comp = emb.select(
        "label", F.posexplode("embedding").alias("i", "c")
    )
    cent = comp.groupBy("label", "i").agg(
        round_to(F.avg(F.col("c").cast("double")), 6).alias("m")
    )
    carr = (
        cent.groupBy("label")
        .agg(
            F.array_sort(F.collect_list(F.struct("i", "m"))).alias("sm")
        )
        .select(
            "label",
            F.expr("transform(sm, s -> s.m)").alias("centroid"),
        )
        .withColumn("centroid_norm", round_to(_norm("centroid"), 6))
        .drop("sm")
    )
    # fixed-dim unrolled cosine: same IEEE add order as the fold the
    # oracle runs, but inside whole-stage codegen (see _dot_unrolled).
    # dim == 0 means the table is empty OR mixed-dim — the unrolled
    # form would be empty/truncating respectively, so fall back to the
    # fold form, which sums every element regardless of length.
    if dim > 0:
        cos = _dot_unrolled("embedding", "centroid", dim) / (
            _norm_unrolled("embedding", dim)
            * _norm_unrolled("centroid", dim)
        )
    else:
        cos = _dot("embedding", "centroid") / (
            _norm("embedding") * _norm("centroid")
        )
    scored = emb.join(F.broadcast(carr), "label").select(
        "label",
        "centroid_norm",
        cos.alias("cos"),
    )
    return scored.groupBy("label", "centroid_norm").agg(
        F.count("*").cast("long").alias("n"),
        round_to(F.avg("cos"), 4).alias("mean_cos"),
        round_to(F.min("cos"), 4).alias("min_cos"),
    )
