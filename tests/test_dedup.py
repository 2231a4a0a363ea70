"""Dedup operators vs pure-Python brute force at sf0.001 — the ground
truth the probabilistic (rows-only) keys can't get from the SQL oracle."""

from __future__ import annotations

from _round import rhalf

import duckdb
import pytest

import __spark_entry__ as entry_mod
from reactor_window_like_flink_spark.llm.dedup import (
    HAMMING_THRESHOLD,
    JACCARD_THRESHOLD,
)


@pytest.fixture(scope="module")
def docs(sf_dir):
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT doc_id, lower(text) AS text, lang FROM "
        f"'{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    con.close()
    return rows


def _shingle_set(text: str, n: int) -> frozenset[str]:
    toks = text.split(" ")
    if len(toks) < n:
        return frozenset({" ".join(toks)})
    return frozenset(
        " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
    )


def _jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def test_dedup_exact_counts(spark, sf_dir, docs):
    out = entry_mod.queries()["q_dedup_exact"](spark, sf_dir).collect()
    texts = [t for _, t, _ in docs]
    assert len(out) == len(set(texts))
    assert sum(r["n_copies"] for r in out) == len(texts)


def test_minhash_lsh_finds_true_near_dups(spark, sf_dir, docs):
    """LSH output ⊆ ground truth (exact confirm guarantees no false
    positives) and recall is high (b=16, r=2 → P(miss at j=0.5) < 1%)."""
    truth = set()
    sets = {d: _shingle_set(t, 3) for d, t, _ in docs}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if rhalf(_jaccard(sets[a], sets[b]), 4) >= JACCARD_THRESHOLD:
                truth.add((a, b))
    found = {
        (r["doc_a"], r["doc_b"])
        for r in entry_mod.queries()["q_dedup_near"](spark, sf_dir).collect()
    }
    assert found <= truth  # exact-confirm: no false positives
    if truth:
        assert len(found) / len(truth) >= 0.9  # LSH recall


def test_ngram_jaccard_matches_brute_force(spark, sf_dir, docs):
    truth = {}
    sets = {d: (_shingle_set(t, 2), lang) for d, t, lang in docs}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if sets[a][1] != sets[b][1]:
                continue
            j = rhalf(_jaccard(sets[a][0], sets[b][0]), 4)
            if j >= 0.1:
                truth[(a, b)] = j
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in entry_mod.queries()["q_dedup_ngram_jaccard"](
            spark, sf_dir
        ).collect()
    }
    assert got == truth


def test_ngram_jaccard_arrow_kernel_bit_identical(spark, sf_dir):
    """The vectorized-lexsort Arrow confirm kernel and the array_intersect
    form are BIT-identical (not just pair-set-equal): intersection of
    int64 hash sets has no float ambiguity, the kernel emits integer
    counts only, and division+round stay in the same JVM expressions —
    which is why both keys share one DuckDB oracle. (The measured kernel
    choice — JVM intrinsic wins for variable-length set ops — is
    documented on q_dedup_ngram_jaccard_arrow.)"""
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in entry_mod.queries()["q_dedup_ngram_jaccard"](
            spark, sf_dir
        ).collect()
    }
    arrow = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in entry_mod.queries()["q_dedup_ngram_jaccard_arrow"](
            spark, sf_dir
        ).collect()
    }
    assert arrow == exact


def test_simhash_pairs_are_close(spark, sf_dir):
    """Every reported pair respects the Hamming bound; symmetry of the
    pigeonhole join (a<b) means no duplicates or self-pairs."""
    rows = entry_mod.queries()["q_dedup_simhash"](spark, sf_dir).collect()
    seen = set()
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert 0 <= r["hamming"] <= HAMMING_THRESHOLD
        assert (r["doc_a"], r["doc_b"]) not in seen
        seen.add((r["doc_a"], r["doc_b"]))


def test_embedding_pairs_vs_brute_force(spark, sf_dir):
    """Exact-cosine confirm → no false positives vs the all-pairs truth;
    the reported set equals the deterministic LSH expectation (same
    hyperplanes, same bucket collision rule) computed independently in
    numpy."""
    import numpy as np

    from reactor_window_like_flink_spark.llm.dedup import (
        EMB_COSINE_THRESHOLD,
        EMB_LSH_BANDS,
        EMB_LSH_BITS,
        _emb_hyperplanes,
    )

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT vec_id, embedding FROM "
        f"'{sf_dir}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    con.close()
    ids = np.array([r[0] for r in rows])
    emb = np.array([r[1] for r in rows], dtype="float64")
    nrm = np.linalg.norm(emb, axis=1)
    bits = (emb @ np.array(_emb_hyperplanes()).T) > 0
    buckets = np.zeros((len(ids), EMB_LSH_BANDS), dtype=int)
    for j in range(EMB_LSH_BANDS):
        for lane in range(EMB_LSH_BITS):
            buckets[:, j] |= bits[:, j * EMB_LSH_BITS + lane].astype(int) << lane

    all_truth, lsh_truth = set(), set()
    for i in range(len(ids)):
        for k in range(i + 1, len(ids)):
            cos = float(emb[i] @ emb[k]) / (nrm[i] * nrm[k])
            if cos >= EMB_COSINE_THRESHOLD:
                pair = (min(ids[i], ids[k]), max(ids[i], ids[k]))
                all_truth.add(pair)
                if (buckets[i] == buckets[k]).any():
                    lsh_truth.add(pair)
    found = {
        (r["vec_a"], r["vec_b"])
        for r in entry_mod.queries()["q_dedup_embedding"](spark, sf_dir).collect()
    }
    assert found == lsh_truth
    assert found <= all_truth
    assert len(found) / len(all_truth) >= 0.5  # banded recall on the fixture


def test_embedding_fast_kernel_matches_exact_form(spark, sf_dir):
    """The Arrow/numpy production kernel and the oracle-exact HOF form
    make identical keep/drop decisions on the fixture (margins far exceed
    float-summation error), with cosines equal to ~1e-9. Uses the
    fixture-pinned registered key — the bare function's bits=None
    default is the auto_lsh_bits production sizing, a different
    candidate universe."""
    exact = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in entry_mod.queries()["q_dedup_embedding"](spark, sf_dir).collect()
    }
    fast = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in entry_mod.queries()["q_dedup_embedding_fast"](
            spark, sf_dir
        ).collect()
    }
    assert fast.keys() == exact.keys()
    assert all(abs(fast[k] - exact[k]) <= 1e-4 for k in exact)


def test_simhash_token_cap_prevents_lane_overflow(spark):
    """A beyond-cap document must produce a correct (truncated) signature,
    not an overflow. 70,000 copies of one token drive its per-bit
    ones-counts past both packed-sum bounds (signed-64 at 32,767, lane
    carry at 65,536) — without the ``slice`` cap the aggregate throws
    ARITHMETIC_OVERFLOW under ANSI mode (this test found that: the real
    bound is the SIGNED packed sum, not the 16-bit lane) — while with the
    cap the vote is unanimous over the truncated prefix and the signature
    equals ``xxhash64(token)`` bit-for-bit."""
    from pyspark.sql import functions as F

    from reactor_window_like_flink_spark.llm.dedup import (
        SIMHASH_MAX_TOKENS,
        simhash_signatures,
    )

    mask = 0xFFFFFFFFFFFFFFFF
    oversized = ["dup"] * 70_000
    assert 70_000 > SIMHASH_MAX_TOKENS
    df = spark.createDataFrame(
        [(1, oversized), (2, ["alpha", "beta", "gamma"])],
        "doc_id long, toks array<string>",
    )
    sigs = {
        r["doc_id"]: r["simhash"] & mask
        for r in simhash_signatures(df).collect()
    }
    tok_hash = (
        spark.range(1)
        .select(F.xxhash64(F.lit("dup")).alias("h"))
        .collect()[0]["h"]
        & mask
    )
    assert sigs[1] == tok_hash
    # the small doc is a sanity check that the cap is a no-op below it:
    # recompute its majority vote from the same Spark token hashes
    hrows = spark.createDataFrame(
        [("alpha",), ("beta",), ("gamma",)], "tok string"
    ).select("tok", F.xxhash64("tok").alias("h")).collect()
    ones = [0] * 64
    for r in hrows:
        h = r["h"] & mask
        for b in range(64):
            ones[b] += (h >> b) & 1
    want = sum(1 << b for b in range(64) if 2 * ones[b] > 3) & mask
    assert sigs[2] == want


def test_simhash_pairs_match_python_vote_model(spark, sf_dir):
    """The packed-lane signature aggregate equals the definitional
    bit-vote model: recompute every signature in Python from the same
    exploded token hashes (majority vote per bit, ties -> 0) and compare
    the full pair set at the Hamming threshold — locks the 16-lane
    shift/mask arithmetic against regressions."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from reactor_window_like_flink_spark.llm.dedup import _tokenized

    ex = (
        _tokenized(spark, sf_dir)
        .select("doc_id", F.explode("toks").alias("tok"))
        .select("doc_id", F.xxhash64("tok").alias("h"))
        .collect()
    )
    ones = defaultdict(lambda: [0] * 64)
    n_toks = defaultdict(int)
    for r in ex:
        n_toks[r.doc_id] += 1
        h = r.h & 0xFFFFFFFFFFFFFFFF
        for b in range(64):
            ones[r.doc_id][b] += (h >> b) & 1
    sigs = {
        d: sum(1 << b for b in range(64) if 2 * c[b] > n_toks[d])
        for d, c in ones.items()
    }
    ids = sorted(sigs)
    truth = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ham = bin(sigs[a] ^ sigs[b]).count("1")
            if ham <= HAMMING_THRESHOLD:
                truth.add((a, b, ham))
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in entry_mod.queries()["q_dedup_simhash"](spark, sf_dir).collect()
    }
    assert got == truth


def test_containment_matches_brute_force(spark, sf_dir, docs):
    """Exact containment pairs equal the all-pairs ground truth — the
    prefix-filter candidate generation (A's rarest floor((1-t)|A|)+1
    shingles joined against full posting lists, both directions) is
    lossless."""
    from reactor_window_like_flink_spark.llm.dedup import (
        CONTAINMENT_THRESHOLD,
    )

    truth = {}
    sets = {d: (_shingle_set(t, 2), lang) for d, t, lang in docs}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if sets[a][1] != sets[b][1]:
                continue
            inter = len(sets[a][0] & sets[b][0])
            ca = inter / len(sets[a][0])
            cb = inter / len(sets[b][0])
            if max(ca, cb) >= CONTAINMENT_THRESHOLD:
                truth[(a, b)] = (rhalf(ca, 4), rhalf(cb, 4))
    got = {
        (r["doc_a"], r["doc_b"]): (r["cont_a"], r["cont_b"])
        for r in entry_mod.queries()["q_dedup_containment"](
            spark, sf_dir
        ).collect()
    }
    assert got == truth


def test_containment_detects_inclusion_jaccard_misses(spark):
    """A small doc fully embedded in a much larger one: containment 1.0,
    Jaccard far below any dedup threshold — the case this operator
    exists for."""
    from pyspark.sql import functions as F

    import reactor_window_like_flink_spark.llm.dedup as dd

    small = "alpha beta gamma delta"
    big = small + " " + " ".join(f"filler{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, small, "en"), (2, big, "en"), (3, "unrelated words here", "en")],
        "doc_id long, text string, lang string",
    )
    orig = dd._tokenized
    dd._tokenized = lambda s, d: df.select(
        "doc_id", "lang", F.split(F.lower("text"), " ").alias("toks")
    )
    try:
        out = dd.containment_pairs(spark, "unused", 0.8).collect()
    finally:
        dd._tokenized = orig
    assert len(out) == 1
    r = out[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["cont_a"] == 1.0  # every bigram of the small doc is in big
    assert r["cont_b"] < 0.05  # and Jaccard-style symmetry would miss it


def test_auto_lsh_bits_scales_with_corpus():
    """The sf1 probe's sizing rule as code: expected bucket occupancy
    stays at target_bucket_size, so banded candidate work is linear in
    n instead of Theta(n^2 / 2^bits) with fixture-constant bits."""
    from reactor_window_like_flink_spark.llm.dedup import auto_lsh_bits

    assert auto_lsh_bits(0) == 1
    assert auto_lsh_bits(100, 10) == 4
    # the probe corpus: 20k vectors at ~10/bucket -> the documented ~11
    assert auto_lsh_bits(20_000, 10) == 11
    assert auto_lsh_bits(10**9, 10) == 24  # clamped
    vals = [auto_lsh_bits(n) for n in (10, 100, 10**4, 10**6, 10**8)]
    assert vals == sorted(vals)
    for n in (10**3, 10**5, 10**7):
        b = auto_lsh_bits(n, 10)
        assert n / (1 << b) <= 10


def test_lsh_default_is_auto_sized_and_bounds_candidate_volume(spark):
    """bits=None (the production default since round 9) derives the
    bucket width from the corpus count, and the resulting banded
    candidate volume stays within the occupancy bound
    ~n*bands*target_bucket_size — linear in n, not Theta(n^2/2^bits)
    like the old fixture-literal default (BASELINE.md sf1 probe:
    8x4 literals put 20k vectors at ~half of all-pairs)."""
    import numpy as np

    from reactor_window_like_flink_spark.llm import dedup as dd

    n = 4096
    rng = np.random.default_rng(7)
    rows = [
        (i, [float(v) for v in rng.standard_normal(dd.EMB_DIM)])
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    expected_bits = dd.auto_lsh_bits(n)  # ceil(log2(4096/10)) = 9
    assert expected_bits == 9
    buckets = dd.emb_band_buckets_fast(df)  # bits=None -> auto
    occ = buckets.groupBy("band", "bucket").count().collect()
    # every bucket id fits the derived width (proves auto sizing ran)
    assert all(0 <= r["band"] < dd.EMB_LSH_BANDS for r in occ)
    assert all(0 <= r["bucket"] < (1 << expected_bits) for r in occ)
    pairs = sum(r["count"] * (r["count"] - 1) // 2 for r in occ)
    # occupancy bound: ~n*bands*target/2 expected; 2x slack for skew
    assert 0 < pairs <= n * dd.EMB_LSH_BANDS * 10
    # the fixture literals on the same corpus are catastrophically
    # coarser -- the hazard the auto default removes
    fix = dd.emb_band_buckets_fast(
        df, bands=dd.EMB_LSH_BANDS, bits=dd.EMB_LSH_BITS
    )
    occ_fix = fix.groupBy("band", "bucket").count().collect()
    pairs_fix = sum(r["count"] * (r["count"] - 1) // 2 for r in occ_fix)
    assert pairs_fix > 10 * pairs


def test_auto_lsh_plan_holds_recall_without_widening_buckets():
    """Round-10 ADVICE fix: bands scale with bits so recall at the
    configured threshold holds as the corpus grows, while bits stay
    occupancy-bound (volume never degenerates toward all-pairs). At the
    low fixture threshold the plan clamps bands and WARNS with the
    achieved recall instead of silently shipping recall ~0.003."""
    import pytest

    from reactor_window_like_flink_spark.llm import dedup as dd

    for n in (20_000, 10**7, 10**9):
        bands, bits = dd.auto_lsh_plan(n, threshold=0.95)
        assert bits == dd.auto_lsh_bits(n)  # volume bound inviolate
        assert bands <= 64
        assert dd.lsh_recall(0.95, bands, bits) >= 0.9
    # recall S-curve: above-threshold pairs collide at least as often
    assert dd.lsh_recall(0.99, 7, 11) > dd.lsh_recall(0.95, 7, 11)
    with pytest.warns(UserWarning, match="recall"):
        bands, bits = dd.auto_lsh_plan(20_000, threshold=0.3)
    assert bits == dd.auto_lsh_bits(20_000)
    assert bands == 64  # clamped at the band budget, buckets untouched


def test_embedding_auto_emits_achieved_recall_audit_column(spark, sf_dir):
    """q_dedup_embedding_auto must carry the plan's worst-case recall at
    the threshold as an audit column equal to lsh_recall(threshold,
    *auto_lsh_plan(n)) — and at a corpus size where the demo threshold
    clamps the band budget, the clamp warning must surface to the
    caller (the round-11 verdict's sharpest edge: a silent 29%-recall
    plan). sf0.01's 500 vectors fit the band budget (no warning — and
    none may fire); a synthetic 2000-vector table reproduces the
    clamped regime."""
    import warnings

    import numpy as np

    import __spark_entry__ as entry_mod
    from reactor_window_like_flink_spark.llm import dedup as dd
    from reactor_window_like_flink_spark.sources.tables import load

    qs = entry_mod.queries()

    # unclamped fixture: audit column matches the plan's S-curve floor
    n = load(spark, sf_dir, "embeddings").count()
    plan = dd.auto_lsh_plan(n, dd.EMB_COSINE_THRESHOLD)
    want = rhalf(dd.lsh_recall(dd.EMB_COSINE_THRESHOLD, *plan), 4)
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)  # none may fire
        df = qs["q_dedup_embedding_auto"](spark, sf_dir)
    assert "achieved_recall" in df.columns
    got = df.select("achieved_recall").distinct().collect()
    assert [r["achieved_recall"] for r in got] == [want]

    # clamped regime: 2000 isotropic vectors force need > max_bands at
    # the demo threshold — the warning must reach the caller now
    import tempfile

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((2000, 64)).astype("float32")
    rows = [(int(i), vecs[i].tolist(), "x") for i in range(2000)]
    big = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    d = tempfile.mkdtemp(prefix="autolsh_clamp_")
    big.coalesce(2).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    with pytest.warns(UserWarning, match="clamped"):
        df2 = qs["q_dedup_embedding_auto"](spark, d)
    plan2 = None
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", UserWarning)
        plan2 = dd.auto_lsh_plan(2000, dd.EMB_COSINE_THRESHOLD)
    want2 = rhalf(dd.lsh_recall(dd.EMB_COSINE_THRESHOLD, *plan2), 4)
    got2 = df2.select("achieved_recall").distinct().collect()
    assert {r["achieved_recall"] for r in got2} <= {want2}


def test_dedup_canonical_groups_formatting_variants(spark, tmp_path):
    """Punctuation/case/whitespace variants collapse under the canonical
    form but stay distinct under raw exact dedup; genuinely different
    texts stay distinct under both."""
    import os

    import __spark_entry__ as entry_mod

    docs = [
        (0, "Hello, World!", "en", "s0", 13),
        (1, "hello   world", "en", "s0", 13),
        (2, "HELLO WORLD.", "en", "s0", 12),
        (3, "goodbye world", "en", "s0", 13),
        (4, "goodbye world", "en", "s0", 13),  # raw exact dup of 3
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "canon")
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    qs = entry_mod.queries()
    canon = {r["keep_id"]: r["n_copies"] for r in qs["q_dedup_canonical"](spark, d).collect()}
    exact = {r["keep_id"]: r["n_copies"] for r in qs["q_dedup_exact"](spark, d).collect()}
    assert canon == {0: 3, 3: 2}
    assert exact == {0: 1, 1: 1, 2: 1, 3: 2}
