"""Unit tests for the retrieval-indexing (BM25, inverted index, PMI,
Zipf) and robust-profiling (MAD, PSI, chunk-dedup, correlation) operators
on handcrafted fixtures; the sf0.01 oracle differential covers the
registered forms end-to-end."""

from __future__ import annotations

from _round import rhalf

import math
from unittest import mock

import __spark_entry__ as entry_mod
from reactor_window_like_flink_spark.llm import artifacts


def _fresh_memos():
    """Artifact memos key on (applicationId, sf_dir) and can't see a
    patched ``load``: run fixture queries against empty memos so they
    never reuse an artifact built from other data."""
    return mock.patch.object(artifacts, "MEMOS", {})


def _patched(module_names):
    import importlib

    mods = []
    for m in module_names:
        for base in ("llm", "operators"):
            try:
                mods.append(
                    importlib.import_module(
                        f"reactor_window_like_flink_spark.{base}.{m}"
                    )
                )
                break
            except ModuleNotFoundError:
                continue
        else:
            raise ModuleNotFoundError(m)
    return mods


def _with_table(spark, rows, schema, key, modules):
    """Run a registered query against a fixture frame standing in for its
    input table (patch `load` in every module the pipeline touches)."""
    df = spark.createDataFrame(rows, schema)
    mods = _patched(modules)
    origs = [m.load for m in mods]
    for m in mods:
        m.load = lambda s, d, t: df
    try:
        with _fresh_memos():
            return entry_mod.queries()[key](spark, "unused").collect()
    finally:
        for m, o in zip(mods, origs):
            m.load = o


DOC_SCHEMA = "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"


def _docs(rows):
    return [(i, t, "en", "src0", len(t)) for i, t in rows]


def test_bm25_rare_term_outranks_common(spark):
    rows = _docs(
        [
            (1, "rare rare common pad"),
            (2, "common pad other a"),
            (3, "common pad other b"),
        ]
    )
    out = _with_table(spark, rows, DOC_SCHEMA, "q_bm25_topterms", ["retrieval"])
    doc1 = sorted((r for r in out if r["doc_id"] == 1), key=lambda r: r["rank"])
    assert doc1[0]["term"] == "rare"
    # idf is the Lucene non-negative form: even the everywhere-term scores >= 0
    assert all(r["bm25"] >= 0 for r in out)


def test_bm25_length_normalization(spark):
    # same tf for "hit" in both docs; the longer doc must score lower.
    rows = _docs(
        [
            (1, "hit pad"),
            (2, "hit " + " ".join(["pad"] * 30)),
        ]
    )
    out = _with_table(spark, rows, DOC_SCHEMA, "q_bm25_topterms", ["retrieval"])
    score = {
        (r["doc_id"], r["term"]): r["bm25"]
        for r in out
    }
    assert score[(1, "hit")] > score[(2, "hit")]


def test_inverted_index_postings_sorted_and_hapax_dropped(spark):
    rows = _docs([(3, "a b"), (1, "a b a"), (2, "a solo")])
    out = _with_table(spark, rows, DOC_SCHEMA, "q_inverted_index", ["retrieval"])
    by_term = {r["term"]: r for r in out}
    assert "solo" not in by_term  # df=1 dropped
    # postings are CSV-encoded (numeric sort, then stringify) so the
    # driver's canonicalizer can sort the column
    assert by_term["a"]["postings"] == "1,2,3"
    assert by_term["a"]["total_tf"] == 4
    assert by_term["b"]["df"] == 2


def test_bigram_pmi_planted_collocation_tops(spark):
    # "new york" always adjacent; fillers independent. PMI(new york) high.
    pair_doc = "new york " + "x y z w " * 3
    rows = _docs([(i, pair_doc) for i in range(8)])
    out = _with_table(spark, rows, DOC_SCHEMA, "q_bigram_pmi", ["retrieval"])
    assert out, "planted collocation must clear the min-pair threshold"
    top = out[0]
    # ordering contract: pmi desc, pair asc
    assert top["pmi"] == max(r["pmi"] for r in out)
    assert ("new york" in {r["pair"] for r in out})


def test_zipf_slope_flat_for_uniform_and_negative_for_skewed(spark):
    uniform = _docs([(1, ("a b c d e f g h " * 4).strip())])
    out_u = _with_table(spark, uniform, DOC_SCHEMA, "q_zipf_slope", ["retrieval"])
    assert abs(out_u[0]["zipf_slope"]) < 1e-9  # equal freqs: slope 0

    skewed = _docs([(1, "a a a a a a a a b b b b c c d")])
    out_s = _with_table(spark, skewed, DOC_SCHEMA, "q_zipf_slope", ["retrieval"])
    assert out_s[0]["zipf_slope"] < -0.5
    assert out_s[0]["r2"] > 0.9


EVENT_SCHEMA = (
    "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
    " value DOUBLE, props STRING"
)


def test_mad_flags_extreme_row_zscore_masking_case(spark):
    # One absurd row inflates stddev enough that the plain z-score stays
    # under its cutoff for a second, clearly-wrong row; MAD still flags
    # both. This is the robustness property the operator exists for.
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    base = [float(v) for v in (10, 11, 9, 10, 12, 8, 10, 11, 9, 10)]
    values = base + [1000.0, 50.0]
    rows = [
        (i, t0, 1, "click", v, "{}") for i, v in enumerate(values)
    ]
    out = _with_table(spark, rows, EVENT_SCHEMA, "q_anomaly_mad", ["profiling"])
    flagged = {r["event_id"] for r in out}
    assert 10 in flagged and 11 in flagged
    # sanity: the inliers stay unflagged
    assert all(i not in flagged for i in range(10))


def test_mad_zero_mad_group_dropped(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, t0, 1, "const", 5.0, "{}") for i in range(9)] + [
        (9, t0, 1, "const", 99.0, "{}")
    ]
    # median=5, MAD=0 -> group dropped entirely (no div-by-zero, no rows)
    out = _with_table(spark, rows, EVENT_SCHEMA, "q_anomaly_mad", ["profiling"])
    assert out == []


def test_source_drift_identical_sources_zero_psi(spark):
    rows = []
    for s in ("srcA", "srcB"):
        rows += [(len(rows) + i, "t", "en", s, 100 + 50 * (i % 3)) for i in range(30)]
    out = _with_table(spark, rows, DOC_SCHEMA, "q_source_drift", ["curation"])
    assert {r["source"] for r in out} == {"srcA", "srcB"}
    for r in out:
        assert abs(r["psi"]) < 1e-6  # same histogram -> no drift
        assert r["n_docs"] == 30


def test_source_drift_shifted_source_positive_psi(spark):
    rows = [(i, "t", "en", "short", 60) for i in range(30)]
    rows += [(100 + i, "t", "en", "long", 560) for i in range(30)]
    out = _with_table(spark, rows, DOC_SCHEMA, "q_source_drift", ["curation"])
    psi = {r["source"]: r["psi"] for r in out}
    assert psi["short"] > 0.2 and psi["long"] > 0.2


def test_dedup_chunks_finds_cross_doc_full_window_only(spark):
    from reactor_window_like_flink_spark.llm.sampling import CHUNK_TOKENS

    shared = " ".join(f"w{i}" for i in range(CHUNK_TOKENS))
    rows = _docs(
        [
            (1, shared + " tail1 unique1"),
            (2, shared + " tail2 unique2"),
            (3, "completely different short text"),
        ]
    )
    # chunking runs in sampling.py; the dedup aggregate in curation.py
    out = _with_table(
        spark, rows, DOC_SCHEMA, "q_dedup_chunks", ["sampling", "curation"]
    )
    assert len(out) == 1
    r = out[0]
    assert r["n_docs"] == 2 and r["keep_doc_id"] == 1
    # the short doc's sub-64-token window never pairs up
    assert r["n_occurrences"] == 2


def test_corr_matrix_exact_on_linear_columns(spark, sf_dir):
    out = entry_mod.queries()["q_corr_matrix"](spark, sf_dir).collect()
    assert len(out) == 6  # C(4,2) pairs
    for r in out:
        assert -1.0 <= r["pearson_r"] <= 1.0
    pairs = {(r["col_x"], r["col_y"]) for r in out}
    assert ("l_quantity", "l_extendedprice") in pairs


def test_token_entropy_uniform_and_degenerate(spark):
    rows = [
        (1, "a b c d", "en", "uniform", 7),
        (2, "x x x x x", "en", "constant", 9),
    ]
    out = _with_table(spark, rows, DOC_SCHEMA, "q_token_entropy", ["retrieval"])
    by = {r["source"]: r for r in out}
    # 4 equally-likely tokens: H = ln 4, normalized exactly 1
    assert abs(by["uniform"]["entropy"] - rhalf(math.log(4), 4)) < 1e-9
    assert by["uniform"]["norm_entropy"] == 1.0
    # single repeated token: H = 0; H/ln(1) undefined -> NULL
    assert by["constant"]["entropy"] == 0.0
    assert by["constant"]["norm_entropy"] is None


def test_ngram_novelty_unique_vs_duplicated(spark):
    rows = _docs(
        [
            (1, "the quick brown fox jumps over fences"),
            (2, "shared template text goes right here"),
            (3, "shared template text goes right here"),
        ]
    )
    out = _with_table(
        spark, rows, DOC_SCHEMA, "q_ngram_novelty", ["dedup", "curation"]
    )
    by = {r["doc_id"]: r for r in out}
    assert by[1]["novelty"] == 1.0  # no trigram shared with any other doc
    assert by[2]["novelty"] == 0.0 and by[3]["novelty"] == 0.0
    assert by[1]["n_trigrams"] == 5  # 7 tokens -> 5 trigrams


def test_winsorize_clip_counts_and_mean_shift(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    values = [float(v) for v in range(1, 101)]  # 1..100
    rows = [(i, t0, 1, "buy", v, "{}") for i, v in enumerate(values)]
    out = _with_table(spark, rows, EVENT_SCHEMA, "q_winsorize", ["profiling"])
    assert len(out) == 1
    r = out[0]
    # DISCRETE (nearest-rank) percentiles since r15 — SQL-standard
    # percentile_disc: first value with cume_dist >= p. For 1..100:
    # p01 -> 1st value = 1.0, p99 -> 99th value = 99.0. (Interpolated
    # thresholds diverged between engines by an ulp at sf1 tie density;
    # disc thresholds are data values, bit-identical by construction.)
    assert r["p01"] == 1.0 and r["p99"] == 99.0
    # nothing sits strictly below 1.0; only 100.0 sits above 99.0
    assert r["n_clipped_lo"] == 0 and r["n_clipped_hi"] == 1
    assert r["mean_raw"] == 50.5
    # clipping pulls only 100 -> 99: mean shifts by exactly -0.01
    assert abs(r["mean_winsor"] - 50.49) < 1e-9


def test_skew_profile_gini_hand_computed(spark, sf_dir):
    out = {
        r["key_col"]: r
        for r in entry_mod.queries()["q_skew_profile"](spark, sf_dir).collect()
    }
    ev = out["events.user_id"]
    li = out["lineitem.l_orderkey"]
    assert ev["n_rows"] == 1000 and li["n_rows"] == 6000
    for r in (ev, li):
        assert 0.0 <= r["gini"] <= 1.0
        assert r["max_share"] * r["n_keys"] >= 1.0 - 1e-9  # max >= mean share
        assert r["p99_over_p50"] >= 1.0


def test_skew_metrics_known_distribution(spark):
    from reactor_window_like_flink_spark.llm.profiling import skew_metrics

    # sizes [1, 3]: gini = (2*(1*1 + 2*3) - 3*4) / (2*4) = 0.25
    rows = [(1, "a"), (2, "b"), (3, "b"), (4, "b")]
    df = spark.createDataFrame(rows, "id LONG, k STRING")
    r = skew_metrics(df, "k", "t").collect()[0]
    assert r["gini"] == 0.25 and r["max_share"] == 0.75 and r["n_keys"] == 2

    # equal sizes -> gini 0
    rows_eq = [(i, str(i % 4)) for i in range(16)]
    df_eq = spark.createDataFrame(rows_eq, "id LONG, k STRING")
    assert skew_metrics(df_eq, "k", "t").collect()[0]["gini"] == 0.0


def test_resample_ffill_gap_filling(spark):
    import datetime as dt

    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    rows = [
        # user 1: events at 00:30 (v=1.0) and 03:10 (v=9.0); hours 1,2 are gaps
        (1, t(0, 30), 1, "m", 1.0, "{}"),
        (2, t(3, 10), 1, "m", 9.0, "{}"),
        # user 2: two events in the same hour -> latest wins, single row
        (3, t(5, 0), 2, "m", 3.0, "{}"),
        (4, t(5, 45), 2, "m", 4.0, "{}"),
    ]
    out = _with_table(
        spark, rows, EVENT_SCHEMA, "q_resample_ffill", ["analytics"]
    )
    u1 = sorted((r for r in out if r["user_id"] == 1), key=lambda r: r["hour_ts"])
    assert [r["value"] for r in u1] == [1.0, 1.0, 1.0, 9.0]
    assert [r["observed"] for r in u1] == [1, 0, 0, 1]
    u2 = [r for r in out if r["user_id"] == 2]
    assert len(u2) == 1 and u2[0]["value"] == 4.0


def test_heavy_hitters_exact_despite_bounded_sketch(spark):
    # 600 distinct rare terms (1 occurrence each) far exceed the MG
    # capacity; the two heavy terms must still surface with EXACT counts.
    common = ("hot " * 300 + "warm " * 150).strip()
    rare = " ".join(f"r{i}" for i in range(600))
    rows = _docs([(1, common), (2, rare)])
    out = _with_table(spark, rows, DOC_SCHEMA, "q_heavy_hitters", ["retrieval"])
    by = {r["term"]: r for r in out}
    n = 300 + 150 + 600
    assert by["hot"]["cnt"] == 300 and by["warm"]["cnt"] == 150
    # threshold n/200 = 5.25: no rare term (count 1) may appear
    assert set(by) == {"hot", "warm"}
    assert abs(by["hot"]["share"] - rhalf(300 / n, 4)) < 1e-12


def test_misra_gries_partial_superset_guarantee(spark):
    import pandas as pd

    from reactor_window_like_flink_spark.llm.retrieval import (
        HH_THRESHOLD_DENOM,
        _misra_gries_partial,
    )

    # adversarial stream: heavy item interleaved with a churn of uniques
    stream = []
    for i in range(5000):
        stream.append("heavy" if i % 3 == 0 else f"u{i}")
    (cand,) = _misra_gries_partial(iter([pd.DataFrame({"term": stream})]))
    # 'heavy' has count ~1667 > n/HH_THRESHOLD_DENOM = 25 -> must survive
    assert "heavy" in set(cand["term"])


def test_scd2_runs_collapse_consecutive_types(spark):
    import datetime as dt

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        (1, t(0), 1, "view", 0.0, "{}"),
        (2, t(1), 1, "view", 0.0, "{}"),
        (3, t(2), 1, "click", 0.0, "{}"),
        (4, t(3), 1, "view", 0.0, "{}"),  # back to view -> NEW run
        (5, t(0), 2, "buy", 0.0, "{}"),
    ]
    out = _with_table(spark, rows, EVENT_SCHEMA, "q_scd2_runs", ["analytics"])
    u1 = sorted((r for r in out if r["user_id"] == 1), key=lambda r: r["run_idx"])
    assert [(r["event_type"], r["n_events"]) for r in u1] == [
        ("view", 2),
        ("click", 1),
        ("view", 1),
    ]
    assert u1[0]["valid_from_us"] < u1[0]["last_seen_us"]  # 2-event run spans
    assert len([r for r in out if r["user_id"] == 2]) == 1


def test_asof_tolerance_fresh_stale_and_missing(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 10, 12, 0)
    rows = [
        # user 1: click 10 min before purchase -> fresh
        (1, t0 - dt.timedelta(minutes=10), 1, "click", 0.0, "{}"),
        (2, t0, 1, "purchase", 0.0, "{}"),
        # user 2: click 3 days before purchase -> stale (NULL, fresh=0)
        (3, t0 - dt.timedelta(days=3), 2, "click", 0.0, "{}"),
        (4, t0, 2, "purchase", 0.0, "{}"),
        # user 3: no click at all
        (5, t0, 3, "purchase", 0.0, "{}"),
    ]
    out = _with_table(
        spark, rows, EVENT_SCHEMA, "q_join_asof_tolerance", ["relational"]
    )
    by = {r["user_id"]: r for r in out}
    assert by[1]["fresh"] == 1 and by[1]["click_us"] is not None
    assert by[1]["purchase_us"] - by[1]["click_us"] == 600 * 1_000_000
    assert by[2]["fresh"] == 0 and by[2]["click_us"] is None
    assert by[3]["fresh"] == 0 and by[3]["click_us"] is None


def test_curation_pipeline_gate_dedup_and_split_partition(spark):
    long_enough = "x " * 80  # 160 chars, inside [100, 500]
    rows = [
        (1, long_enough + "a", "en", "s0", 161),
        (2, long_enough + "a", "en", "s1", 161),  # exact dup -> collapsed
        (3, long_enough + "b", "de", "s0", 161),
        (4, "too short", "en", "s0", 9),          # gated out
    ]
    out = _with_table(
        spark,
        [(i, t, l, s, n) for i, t, l, s, n in rows],
        DOC_SCHEMA,
        "q_curation_pipeline",
        ["curation"],
    )
    # 2 winners total (doc 1 beats doc 2; doc 3; doc 4 gated)
    assert sum(r["n_docs"] for r in out) == 2
    langs = {r["lang"] for r in out}
    assert langs == {"en", "de"}
    for r in out:
        assert r["split"] in {"train", "val", "test"}
        assert r["total_chars"] == 161 * r["n_docs"]


def test_embed_norm_profile_zero_and_band_counts(spark):
    rows = [
        (1, [3.0, 4.0], 0),     # norm 5 -> out of band
        (2, [0.0, 0.0], 0),     # zero vector (also out of band)
        (3, [0.6, 0.8], 1),     # norm 1 -> in band
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT")
    import reactor_window_like_flink_spark.llm.profiling as prof

    orig = prof.load
    prof.load = lambda s, d, t: df
    try:
        out = entry_mod.queries()["q_embed_norm_profile"](spark, "unused").collect()
    finally:
        prof.load = orig
    r = out[0]
    assert r["n_vecs"] == 3 and r["min_dim"] == 2 and r["max_dim"] == 2
    assert r["n_zero"] == 1
    assert r["n_out_of_band"] == 2
    assert r["p50_norm"] == 1.0


def _bpe_reference(texts, n_merges):
    """Sequential Sennrich BPE with the operator's exact contracts:
    freq-weighted adjacent pairs (overlaps count), argmax tie-break
    (freq desc, left asc, right asc), greedy left-to-right application,
    stop when best joint freq < 2."""
    from collections import Counter

    vocab = Counter()
    for t in texts:
        for w in t.lower().split(" "):
            if w:
                vocab[w] += 1
    words = {w: list(w) + ["</w>"] for w in vocab}
    merges = []
    for rank in range(n_merges):
        pairs = Counter()
        for w, sym in words.items():
            for i in range(len(sym) - 1):
                pairs[(sym[i], sym[i + 1])] += vocab[w]
        if not pairs:
            break
        (l, r), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < 2:
            break
        merges.append((rank, l, r, c))
        for w, sym in words.items():
            res, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == l and sym[i + 1] == r:
                    res.append(l + r)
                    i += 2
                else:
                    res.append(sym[i])
                    i += 1
            words[w] = res
    return merges


def test_bpe_merges_match_sequential_reference(spark):
    texts = [
        "low lower lowest low low",
        "new newer newest new",
        "aaaa aaaa aa",  # overlapping identical pairs
        "tie tye",       # tie-break exercise
    ]
    rows = _docs([(i, t) for i, t in enumerate(texts)])
    out = _with_table(spark, rows, DOC_SCHEMA, "q_bpe_merges", ["bpe"])
    got = [(r["rank"], r["left"], r["right"], r["joint_freq"]) for r in out]
    got.sort()
    want = _bpe_reference(texts, 16)
    assert got == want
    assert len(got) >= 8  # the corpus supports a real merge sequence


def test_bpe_merges_deterministic_across_runs(spark):
    rows = _docs([(1, "repeat repeat repeatable repeating")])
    a = _with_table(spark, rows, DOC_SCHEMA, "q_bpe_merges", ["bpe"])
    b = _with_table(spark, rows, DOC_SCHEMA, "q_bpe_merges", ["bpe"])
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_bpe_encode_matches_reference_and_compresses(spark):
    texts = [
        "low lower lowest low low",
        "new newer newest new",
        "low new lower newer",
    ]
    rows = _docs([(i, t) for i, t in enumerate(texts)])

    import reactor_window_like_flink_spark.llm.bpe as bpe

    orig_load = bpe.load
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    bpe.load = lambda s, d, t: df
    try:
        with _fresh_memos():
            out = entry_mod.queries()["q_bpe_encode"](spark, "unused").collect()
    finally:
        bpe.load = orig_load

    merges = _bpe_reference(texts, 16)
    ranked = {(l, r): rank for rank, l, r, _ in merges}

    def ref_encode_len(w):
        from reactor_window_like_flink_spark.llm.bpe import encode_word

        return len(encode_word(list(w) + ["</w>"], ranked))

    by_doc = {r["doc_id"]: r for r in out}
    for i, t in enumerate(texts):
        words = [w for w in t.lower().split(" ") if w]
        want_bpe = sum(ref_encode_len(w) for w in words)
        r = by_doc[i]
        assert r["n_tokens_ws"] == len(words)
        assert r["n_tokens_bpe"] == want_bpe
        # merges learned on this corpus must beat character fallback
        assert r["n_tokens_bpe"] < sum(len(w) + 1 for w in words)


def test_bpe_distributed_and_driver_paths_identical(spark):
    """The size-dispatched merge loop is an optimization, not a
    semantics change: forcing the distributed path (driver_vocab_max=0)
    must produce the same merges as the driver fast path."""
    from reactor_window_like_flink_spark.llm.bpe import learn_bpe_merges

    texts = ["low lower lowest low low", "new newer newest new", "aaaa aa"]
    df = spark.createDataFrame(_docs([(i, t) for i, t in enumerate(texts)]), DOC_SCHEMA)
    fast = learn_bpe_merges(spark, df, 12)
    dist = learn_bpe_merges(spark, df, 12, driver_vocab_max=0)
    assert fast == dist
    assert fast == _bpe_reference(texts, 12)


def test_bpe_driver_gate_both_sides_identical(spark, monkeypatch):
    """The driver gate at its edge: a vocabulary of exactly
    ``driver_vocab_max`` rows learns on the driver, one row more falls
    back to the distributed loop; both give the same merges."""
    from reactor_window_like_flink_spark.llm import bpe

    texts = ["low lower lowest low low", "new newer newest new", "aaaa aa"]
    df = spark.createDataFrame(_docs([(i, t) for i, t in enumerate(texts)]), DOC_SCHEMA)
    n_vocab = bpe._word_vocab(df).count()
    sequential_calls = []
    learn = bpe._learn_sequential
    monkeypatch.setattr(
        bpe,
        "_learn_sequential",
        lambda *a: sequential_calls.append(1) or learn(*a),
    )
    at = bpe.learn_bpe_merges(spark, df, 12, driver_vocab_max=n_vocab)
    assert sequential_calls == [1]
    over = bpe.learn_bpe_merges(spark, df, 12, driver_vocab_max=n_vocab - 1)
    assert sequential_calls == [1]
    assert at == over == _bpe_reference(texts, 12)


def test_quantile_approx_within_tolerance_of_exact(spark, sf_dir):
    exact = {
        r["event_type"]: (r["p50"], r["p95"])
        for r in entry_mod.queries()["q_agg_quantile"](spark, sf_dir).collect()
    }
    approx = {
        r["event_type"]: (r["p50"], r["p95"])
        for r in entry_mod.queries()["q_agg_quantile_approx"](
            spark, sf_dir
        ).collect()
    }
    assert exact.keys() == approx.keys()
    for t in exact:
        for e, a in zip(exact[t], approx[t]):
            # accuracy 10000 on ~200-row groups: near-exact
            assert abs(e - a) <= max(0.05 * abs(e), 0.5), (t, e, a)


def test_join_salted_is_salt_invariant(spark, sf_dir):
    """The salted plan must produce exactly the plain join's result —
    the correctness contract that makes salting deployable."""
    import reactor_window_like_flink_spark.operators.relational as rel
    from reactor_window_like_flink_spark.sources.tables import load as rload
    from pyspark.sql import functions as F

    salted = {
        tuple(r)
        for r in entry_mod.queries()["q_join_salted"](spark, sf_dir).collect()
    }
    ev = rload(spark, sf_dir, "events")
    cu = rload(spark, sf_dir, "customer")
    plain = {
        tuple(r)
        for r in ev.join(cu, ev.user_id == cu.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .collect()
    }
    assert salted == plain


def test_winsorize_matches_numpy_model(spark):
    import datetime as dt

    import numpy as np

    rng = np.random.default_rng(3)
    values = np.round(rng.exponential(100.0, size=300), 3)  # heavy tail
    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, t0, 1, "pay", float(v), "{}") for i, v in enumerate(values)]
    out = _with_table(spark, rows, EVENT_SCHEMA, "q_winsorize", ["profiling"])
    r = out[0]
    # disc convention since r15: SQL-standard percentile_disc = first
    # value with cume_dist >= p = numpy's inverted_cdf method
    p01, p99 = np.percentile(values, [1, 99], method="inverted_cdf")
    assert abs(r["p01"] - rhalf(float(p01), 4)) < 1e-9
    assert abs(r["p99"] - rhalf(float(p99), 4)) < 1e-9
    assert r["n_clipped_lo"] == int((values < p01).sum())
    assert r["n_clipped_hi"] == int((values > p99).sum())
    wins = np.clip(values, p01, p99)
    assert abs(r["mean_winsor"] - rhalf(float(wins.mean()), 4)) < 1e-3


def test_bpe_memo_shares_one_training_pass(spark):
    """q_bpe_merges and q_bpe_encode in one session must train ONCE
    (merges_for memo), and the memo key must be the applicationId —
    id(spark) is unsafe because CPython reuses ids after GC, which could
    hand a new session a stale merge table."""
    import reactor_window_like_flink_spark.llm.bpe as bpe

    rows = _docs([(1, "low lower lowest low low"), (2, "new newer newest new")])
    df = spark.createDataFrame(rows, DOC_SCHEMA)

    calls = {"n": 0}
    orig_learn, orig_load = bpe.learn_bpe_merges, bpe.load
    bpe.load = lambda s, d, t: df

    def counting_learn(*a, **kw):
        calls["n"] += 1
        return orig_learn(*a, **kw)

    bpe.learn_bpe_merges = counting_learn
    try:
        with _fresh_memos() as memos:
            entry_mod.queries()["q_bpe_merges"](spark, "unused").collect()
            entry_mod.queries()["q_bpe_encode"](spark, "unused").collect()
        assert calls["n"] == 1, "both BPE keys must share one training pass"
        (key,) = memos["bpe_merges"].keys()
        assert key[0] == spark.sparkContext.applicationId
        assert key[1] == "unused"
    finally:
        bpe.learn_bpe_merges = orig_learn
        bpe.load = orig_load


def test_inverted_index_tiered_bounds_rows_and_reconstructs(spark):
    """Tiered index: a deliberately hot term must split into fixed-width
    doc_id-range segment rows with HARD-bounded payloads; concatenating
    segments in segment_id order must reconstruct the flat build's
    sorted postings exactly; cold terms keep the one-row layout."""
    from reactor_window_like_flink_spark.llm.retrieval import (
        build_inverted_index_tiered,
    )

    # "hot" in every doc (df=60), "warm" in 7 docs, "solo" hapax.
    rows = []
    for i in range(60):
        text = "hot" + (" hot" if i % 3 == 0 else "")  # tf varies
        if i % 9 == 0:
            text += " warm"
        if i == 5:
            text += " solo"
        rows.append((i, text, "en", "src0", len(text)))
    docs = spark.createDataFrame(rows, DOC_SCHEMA)

    out = build_inverted_index_tiered(
        docs, min_df=2, hot_df=20, segment_width=16
    ).collect()

    by_term: dict = {}
    for r in out:
        by_term.setdefault(r["term"], []).append(r)

    assert "solo" not in by_term  # hapax dropped
    # cold tier: one row, segment_id = -1
    (warm,) = by_term["warm"]
    assert warm["segment_id"] == -1
    assert warm["seg_df"] == warm["df"] == 7
    assert warm["postings"] == [i for i in range(60) if i % 9 == 0]

    # hot tier: ceil(60/16) = 4 range segments, payloads <= width
    hot = sorted(by_term["hot"], key=lambda r: r["segment_id"])
    assert [r["segment_id"] for r in hot] == [0, 1, 2, 3]
    assert all(len(r["postings"]) <= 16 for r in hot)
    assert all(r["df"] == 60 for r in hot)
    assert sum(r["seg_df"] for r in hot) == 60
    # per-segment tf sums to the corpus tf: 60 + 20 extra from i%3==0
    assert sum(r["seg_tf"] for r in hot) == 80
    # reconstruction: concat in segment order == globally sorted postings
    recon = [d for r in hot for d in r["postings"]]
    assert recon == list(range(60))
    # each segment's postings stay inside its doc_id range
    for r in hot:
        lo = r["segment_id"] * 16
        assert all(lo <= d < lo + 16 for d in r["postings"])


# --- BM25 query scoring (q_bm25_query) ---

def test_bm25_query_topk_plan_and_invariants(spark, sf_dir):
    from reactor_window_like_flink_spark.llm.retrieval import (
        BM25_QUERY_TERMS,
        BM25_QUERY_TOP_K,
        q_bm25_query,
    )

    df = q_bm25_query(spark, sf_dir)
    rows = df.collect()
    assert 0 < len(rows) <= BM25_QUERY_TOP_K
    # ranks contiguous from 1, ordered by (bm25 desc, doc_id)
    for i, r in enumerate(rows_sorted := sorted(rows, key=lambda r: r["rank"])):
        assert r["rank"] == i + 1
        assert 0 < r["n_hits"] <= len(BM25_QUERY_TERMS)
        assert r["bm25"] > 0
    for a, b in zip(rows_sorted, rows_sorted[1:]):
        assert (a["bm25"], -a["doc_id"]) >= (b["bm25"], -b["doc_id"])
    # the top-k must be a distributed TakeOrderedAndProject, not a
    # global sort or a corpus-wide rank window
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


# --- count-min sketch rollup (q_cms_rollup) ---

def test_cms_rollup_one_sided_and_merge_property(spark, sf_dir):
    from pyspark.sql import functions as F

    from reactor_window_like_flink_spark.llm.retrieval import (
        CMS_DEPTH,
        CMS_PROBE_TERMS,
        _cms_bucket_sql,
        q_cms_rollup,
    )
    from reactor_window_like_flink_spark.llm.text import _tokens
    from reactor_window_like_flink_spark.sources.tables import load

    rows = q_cms_rollup(spark, sf_dir).collect()
    assert {r["term"] for r in rows} == set(CMS_PROBE_TERMS)
    for r in rows:
        # CMS never undercounts, and the estimate min-over-depth is tight
        # enough to be finite
        assert r["overcount"] >= 0
        assert r["cms_est"] == r["exact"] + r["overcount"]

    # merge property: summing per-source sketches == one corpus-wide
    # sketch (counter addition is exact, the re-aggregation contract)
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(_tokens()).alias("term"))
    depth = F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("d")
    bucket = F.expr(_cms_bucket_sql("term", "d", "spark")).alias("bucket")
    per_source_merged = (
        tok.select("source", "term", depth)
        .select("source", "d", bucket)
        .groupBy("source", "d", "bucket")
        .agg(F.count("*").alias("cnt"))
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    direct = (
        tok.select("term", depth)
        .select("d", bucket)
        .groupBy("d", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    a = {(r["d"], r["bucket"]): r["cnt"] for r in per_source_merged.collect()}
    b = {(r["d"], r["bucket"]): r["cnt"] for r in direct.collect()}
    assert a == b


def test_rrf_fusion_consistent_with_arm_keys(spark, sf_dir):
    """The fused ranking recomputes from the two arm keys' own outputs:
    every fused row's per-arm rank matches the arm's independent top
    list, and rrf equals the closed-form reciprocal sum."""
    import __spark_entry__ as entry_mod
    from reactor_window_like_flink_spark.llm.retrieval import (
        RRF_ARM_K,
        RRF_K,
        RRF_TOP_K,
    )
    from reactor_window_like_flink_spark.llm.similarity import QUERY_VEC_ID

    qs = entry_mod.queries()
    fused = qs["q_rrf_fusion"](spark, sf_dir).collect()
    assert 0 < len(fused) <= RRF_TOP_K

    # independent arm rankings (probe doc excluded, as in the fusion)
    bm25 = [
        r
        for r in qs["q_bm25_query"](spark, sf_dir).collect()
        if r["doc_id"] != QUERY_VEC_ID
    ]
    lex_rank = {r["doc_id"]: i + 1 for i, r in enumerate(bm25)}
    cos = qs["q_similarity_cosine"](spark, sf_dir).collect()
    sem_rank = {r["vec_id"]: i + 1 for i, r in enumerate(cos)}

    for row in fused:
        if row["r_lex"] is not None and row["doc_id"] in lex_rank:
            assert row["r_lex"] == lex_rank[row["doc_id"]]
        if row["r_sem"] is not None and row["doc_id"] in sem_rank:
            assert row["r_sem"] == sem_rank[row["doc_id"]]
        want = 0.0
        if row["r_lex"] is not None:
            assert 1 <= row["r_lex"] <= RRF_ARM_K
            want += 1.0 / (RRF_K + row["r_lex"])
        if row["r_sem"] is not None:
            assert 1 <= row["r_sem"] <= RRF_ARM_K
            want += 1.0 / (RRF_K + row["r_sem"])
        assert abs(row["rrf"] - want) <= 1e-6
    # fused order is by rrf desc with doc_id tie-break
    keys = [(-r["rrf"], r["doc_id"]) for r in fused]
    assert keys == sorted(keys)


def test_term_jaccard_closed_form(spark, sf_dir):
    """Every reported pair recomputes from the collected doc-term sets,
    and the min-common floor plus top-k ordering hold."""
    import __spark_entry__ as entry_mod
    from reactor_window_like_flink_spark.llm.retrieval import (
        TERM_JACCARD_MIN_COMMON,
        TERM_JACCARD_TOP_K,
    )
    from reactor_window_like_flink_spark.sources.tables import load

    docsets: dict[str, set[int]] = {}
    for r in load(spark, sf_dir, "documents").select("doc_id", "text").collect():
        for t in set(r["text"].lower().split(" ")):
            docsets.setdefault(t, set()).add(r["doc_id"])
    rows = entry_mod.queries()["q_term_jaccard"](spark, sf_dir).collect()
    assert 0 < len(rows) <= TERM_JACCARD_TOP_K
    for r in rows:
        common = len(docsets[r["term_a"]] & docsets[r["term_b"]])
        assert r["term_a"] < r["term_b"]
        assert r["common"] == common >= TERM_JACCARD_MIN_COMMON
        assert r["df_a"] == len(docsets[r["term_a"]])
        assert r["df_b"] == len(docsets[r["term_b"]])
        want = common / (r["df_a"] + r["df_b"] - common)
        assert abs(r["jaccard"] - rhalf(want, 6)) <= 1e-6
    keys = [(-r["jaccard"], r["term_a"], r["term_b"]) for r in rows]
    assert keys == sorted(keys)


def test_mutual_info_closed_form(spark, sf_dir):
    """Every reported term's MI recomputes from the collected doc-term
    presence table (2 x |sources| contingency, zero cells -> 0)."""
    import math

    import __spark_entry__ as entry_mod
    from reactor_window_like_flink_spark.llm.retrieval import MI_TOP_K
    from reactor_window_like_flink_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    ).collect()
    n = len(docs)
    n_s: dict[str, int] = {}
    present: dict[str, dict[str, int]] = {}
    df: dict[str, int] = {}
    for r in docs:
        n_s[r["source"]] = n_s.get(r["source"], 0) + 1
        for t in set(r["text"].lower().split(" ")):
            df[t] = df.get(t, 0) + 1
            d = present.setdefault(t, {})
            d[r["source"]] = d.get(r["source"], 0) + 1
    rows = entry_mod.queries()["q_mutual_info"](spark, sf_dir).collect()
    assert 0 < len(rows) <= MI_TOP_K
    for r in rows:
        t = r["term"]
        assert r["df"] == df[t]
        mi = 0.0
        for s, ns in n_s.items():
            nts = present[t].get(s, 0)
            if nts > 0:
                mi += (nts / n) * math.log(
                    (nts / n) / ((df[t] / n) * (ns / n))
                )
            if (ns - nts) > 0 and (n - df[t]) > 0:
                mi += ((ns - nts) / n) * math.log(
                    ((ns - nts) / n) / (((n - df[t]) / n) * (ns / n))
                )
        assert abs(r["mi"] - rhalf(mi, 6)) <= 1e-5
    vals = [(-r["mi"], r["term"]) for r in rows]
    assert vals == sorted(vals)
    assert all(r["mi"] >= 0 for r in rows)  # MI is non-negative
