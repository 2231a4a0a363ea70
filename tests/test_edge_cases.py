"""Edge-case documents the fixture tables don't contain: short docs,
repeated tokens, unicode, whitespace quirks — run through the text/dedup
operators via a synthetic documents.parquet."""

from __future__ import annotations

from _round import rhalf

import pytest

import __spark_entry__ as entry_mod

EDGE_DOCS = [
    # (doc_id, text, lang, source, n_chars)
    (0, "word", "en", "s0", 4),  # single token (< shingle width)
    (1, "two words", "en", "s0", 9),  # exactly bigram width
    (2, "a a a a a a", "en", "s0", 11),  # all-repeated tokens
    (3, "the quick brown fox jumps over the lazy dog", "en", "s0", 43),
    (4, "the quick brown fox jumps over the lazy cat", "en", "s0", 43),
    (5, "naive cafe resume uber strasse", "de", "s1", 30),  # ascii-folded
    (6, "x y z " * 30 + "end", "fr", "s2", 183),  # long, tiny vocab
]


@pytest.fixture(scope="module")
def edge_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("edge")
    df = spark.createDataFrame(
        EDGE_DOCS, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def test_text_stats_edges(spark, edge_dir):
    rows = {
        r["doc_id"]: r
        for r in entry_mod.queries()["q_text_stats"](spark, edge_dir).collect()
    }
    assert rows[0]["n_tokens"] == 1 and rows[0]["n_uniq_tokens"] == 1
    assert rows[2]["n_tokens"] == 6 and rows[2]["n_uniq_tokens"] == 1
    assert rows[3]["n_tokens"] == 9


def test_fingerprint_deterministic_and_distinct(spark, edge_dir):
    rows = {
        r["doc_id"]: r["fingerprint"]
        for r in entry_mod.queries()["q_fingerprint"](spark, edge_dir).collect()
    }
    # doc 3 and 4 differ only in the last word — distinct fingerprints
    assert rows[3] != rows[4]
    # python recompute of the same recurrence
    fp = 0
    for ch in "word":
        fp = (fp * 31 + ord(ch)) % 1_000_000_007
    assert rows[0] == fp


def test_fingerprint_fast_agrees_on_duplicate_detection(spark, sf_dir):
    """The xxhash64 production path and the oracle-exact polynomial fold
    must induce the same duplicate partition of the corpus: texts equal
    iff fingerprints equal, under either hash."""
    slow = {
        r["doc_id"]: r["fingerprint"]
        for r in entry_mod.queries()["q_fingerprint"](spark, sf_dir).collect()
    }
    fast = {
        r["doc_id"]: r["fingerprint"]
        for r in entry_mod.queries()["q_fingerprint_fast"](spark, sf_dir).collect()
    }
    assert slow.keys() == fast.keys()
    ids = sorted(slow)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            assert (slow[a] == slow[b]) == (fast[a] == fast[b])


def test_shingles_below_width_fall_back_to_whole_doc(spark, edge_dir):
    """Docs shorter than the shingle width still dedup (whole-doc shingle),
    and the all-repeated-token doc yields a single distinct shingle."""
    out = entry_mod.queries()["q_dedup_near"](spark, edge_dir).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in out}
    # docs 3/4 share 6 of 8 distinct trigrams (J = 6/8); must be found
    assert pairs.get((3, 4)) == pytest.approx(0.75)
    # single-token and repeated-token docs must not crash or self-pair
    assert all(a < b for a, b in pairs)


def test_ngram_jaccard_edges(spark, edge_dir):
    out = entry_mod.queries()["q_dedup_ngram_jaccard"](spark, edge_dir).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in out}
    # docs 3/4: bigrams 7 of 9 distinct shared -> J = 7/11... compute:
    # A = 8 bigrams distinct, B = 8, shared 7 -> J = 7/9
    assert pairs.get((3, 4)) == pytest.approx(rhalf(7 / 9, 4))


def test_quality_and_langid_do_not_crash_on_edges(spark, edge_dir):
    q = entry_mod.queries()
    assert q["q_quality_score"](spark, edge_dir).count() == len(EDGE_DOCS)
    lang = {
        r["doc_id"]: r["lang_pred"]
        for r in q["q_lang_id"](spark, edge_dir).collect()
    }
    assert lang[3] == "en"  # 'the' x2
    assert lang[0] == "unknown"  # no markers


ROUND5_KEYS = [
    "q_bm25_topterms",
    "q_inverted_index",
    "q_bigram_pmi",
    "q_zipf_slope",
    "q_token_entropy",
    "q_heavy_hitters",
    "q_anomaly_mad",
    "q_corr_matrix",
    "q_winsorize",
    "q_skew_profile",
    "q_embed_norm_profile",
    "q_source_drift",
    "q_dedup_chunks",
    "q_ngram_novelty",
    "q_curation_pipeline",
    "q_resample_ffill",
    "q_scd2_runs",
    "q_join_asof_tolerance",
]


@pytest.fixture(scope="module")
def empty_dir(spark, tmp_path_factory):
    """Every fixture table, schema-correct but zero rows — the classic
    ANSI/empty-relation crash source (aggregates returning NULL, windows
    over nothing, divisions of empty sums)."""
    d = tmp_path_factory.mktemp("empty")
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        df = spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet").limit(0)
        df.coalesce(1).write.mode("overwrite").parquet(str(d / f"{t}.parquet"))
    return str(d)


def test_round5_keys_survive_empty_tables(spark, empty_dir):
    qs = entry_mod.queries()
    for key in ROUND5_KEYS:
        rows = qs[key](spark, empty_dir).collect()  # must not raise
        if key == "q_corr_matrix":
            # global aggregate: emits its C(4,2) rows with NULL corr
            assert len(rows) == 6
            assert all(r["pearson_r"] is None for r in rows)
        elif key == "q_embed_norm_profile":
            # ungrouped summary in BOTH engines: one row, zero counts
            assert len(rows) == 1 and rows[0]["n_vecs"] == 0
        else:
            assert rows == [], key


def test_round7_keys_survive_empty_tables(spark, empty_dir):
    qs = entry_mod.queries()
    for key in (
        "q_dedup_containment",
        "q_bigram_logprob",
        "q_join_bloom",
        "q_tpch_q18_shape",
        "q_similarity_join",
        "q_similarity_join_fast",
        "q_token_budget",
    ):
        assert qs[key](spark, empty_dir).collect() == [], key


# The one row both engines emit on all-empty tables, pinned exactly
# (the DuckDB oracle's row for each key).
EMPTY_ROWS = {
    "q_triangle_count": (0, 0, 0, 0, 0.0),
    "q_degree_assortativity": (0, None, None),
}


def test_round11_keys_survive_empty_tables(spark, empty_dir):
    qs = entry_mod.queries()
    for key in (
        "q_pagerank",
        "q_triangle_count",
        "q_frequent_itemsets",
        "q_frequent_sequences",
        "q_association_rules",
        "q_ewma_daily",
        "q_chi2_contingency",
        "q_knn_graph_auto",
        "q_dedup_embedding_auto",
    ):
        rows = qs[key](spark, empty_dir).collect()  # must not raise
        if key in EMPTY_ROWS:
            assert [tuple(r) for r in rows] == [EMPTY_ROWS[key]], key
        elif key == "q_chi2_contingency":
            # global one-row summary in both engines: the empty input
            # yields one row of zero counts / NULL statistics (ANSI
            # empty-aggregate), not an empty frame.
            assert len(rows) <= 1, key
        else:
            assert rows == [], key


def test_incremental_near_admission_edges(spark):
    """Index-free near-admission on degenerate inputs: empty batch ->
    empty output; empty corpus -> everything admitted; sub-shingle-width
    docs fall back to the whole-text shingle (a single-token doc equals
    its corpus copy at Jaccard 1.0)."""
    from reactor_window_like_flink_spark.llm.curation import (
        incremental_dedup_near,
    )

    schema = "doc_id long, text string, lang string, source string"
    empty = spark.createDataFrame([], schema)
    corpus = spark.createDataFrame(
        [
            (100, "word", "en", "s1"),
            (101, "the quick brown fox jumps over the lazy dog", "en", "s1"),
        ],
        schema,
    )
    batch = spark.createDataFrame(
        [
            (1, "word", "en", "s0"),  # single token == corpus 100
            (2, "utterly unrelated fresh content here", "en", "s0"),
        ],
        schema,
    )

    # empty batch: no rows, schema intact
    out = incremental_dedup_near(empty, corpus)
    assert out.columns == ["doc_id", "status", "dup_of", "jaccard"]
    assert out.count() == 0

    # empty corpus: all admitted
    rows = {
        r["doc_id"]: r for r in incremental_dedup_near(batch, empty).collect()
    }
    assert {r["status"] for r in rows.values()} == {"admitted"}

    # single-token doc matches its corpus copy via the whole-text shingle
    rows = {
        r["doc_id"]: r for r in incremental_dedup_near(batch, corpus).collect()
    }
    assert rows[1]["status"] == "near_dup"
    assert rows[1]["dup_of"] == 100 and rows[1]["jaccard"] == 1.0
    assert rows[2]["status"] == "admitted" and rows[2]["dup_of"] is None


ROUND12_EMPTY_EXPECT = {
    # key -> expected row count on all-empty tables (None = just no crash,
    # global-aggregate keys emit their ANSI one-row empty-sum shape)
    "q_tpch_q21_shape": 0,
    "q_tpch_q17_shape": 1,
    "q_tpch_q22_shape": 0,
    "q_bm25_indexed": 0,
    "q_holt_trend": 0,
    "q_dow_seasonal_anomaly": 0,
    "q_sample_k_per_group": 0,
    "q_kcore": 0,
    "q_quantile_rollup_kll": 0,
    "q_communities_lpa": 0,
    "q_abtest_ztest": 1,
    "q_anova_f": 1,
    "q_mannwhitney_u": 1,
    "q_ks_test": 0,
    "q_tpch_q4_shape": 0,
    "q_tpch_q20_shape": 0,
    "q_target_encoding": 0,
    "q_feature_scale": 0,
    "q_rrf_fusion": 0,
    "q_term_jaccard": 0,
    "q_autocorr": 0,
    "q_gini_source": 1,
    "q_dedup_canonical": 0,
    "q_robust_scale": 0,
    "q_bootstrap_ci": 1,
    "q_tpch_q15_shape": 0,
    "q_tpch_q2_shape": 0,
    "q_target_encoding_oof": 0,
    "q_cluster_profile": 0,
    "q_tpch_q13_shape": 0,
    "q_bootstrap_ci_fast": 1,
    "q_cuped_adjust": 0,
    "q_degree_assortativity": 1,
    "q_fdr_bh": 0,
    "q_seasonal_decompose": 0,
    "q_tpch_q16_shape": 0,
    "q_mutual_info": 0,
    "q_tpch_q8_shape": 0,
    "q_welch_ttest": 0,
}


def test_round12_keys_survive_empty_tables(spark, empty_dir):
    qs = entry_mod.queries()
    for key, want in ROUND12_EMPTY_EXPECT.items():
        rows = qs[key](spark, empty_dir).collect()  # must not raise
        if key in EMPTY_ROWS:
            assert [tuple(r) for r in rows] == [EMPTY_ROWS[key]], key
        if want is not None:
            assert len(rows) == want, key


def test_join_small_matches_plain_join(spark):
    """``contract.join_small`` gives a plain inner join's rows on a null
    key (never matches), duplicate keys on both sides (their product)
    and an empty side (no rows)."""
    from pyspark.sql import functions as F

    from reactor_window_like_flink_spark.contract import join_small

    left = spark.createDataFrame(
        [(None, "l0"), (1, "l1"), (1, "l2"), (2, "l3"), (3, "l4")], "lk int, lv string"
    )
    right = spark.createDataFrame(
        [(None, "r0"), (1, "r1"), (1, "r2"), (2, "r3"), (4, "r4")], "rk int, rv string"
    )
    empty = right.limit(0)
    on = F.col("lk") == F.col("rk")
    for a, b in ((left, right), (left, empty), (empty.toDF("lk", "lv"), right)):
        got = sorted(join_small(a, b, on).collect())
        assert got == sorted(a.join(b, on).collect())
    rows = sorted(join_small(left, right, on).collect())
    assert [(r.lv, r.rv) for r in rows] == [
        ("l1", "r1"), ("l1", "r2"), ("l2", "r1"), ("l2", "r2"), ("l3", "r3"),
    ]
