"""Tokenizer-trainer unit tests that exercise ``llm/bpe.py`` (and the
unigram trainer) directly — module-scoped state like the merge memo is
patched with pytest's ``monkeypatch`` so a failing assertion can never
leak a patched global into the rest of the suite."""

from __future__ import annotations

DOC_SCHEMA = "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"


def _docs(rows):
    return [(i, t, "en", "src0", len(t)) for i, t in rows]


def test_bpe_merge_cache_is_lru_not_evict_all_other_apps(spark, monkeypatch):
    """Round-8 ADVICE regression: two concurrently LIVE sessions
    alternating merges_for calls must not thrash each other's entry
    (the old rule evicted every key whose app != current on insert).
    The memo is a small LRU: foreign-app entries survive an insert,
    capacity evicts the LEAST-recently-used key, and a hit refreshes
    recency."""
    import reactor_window_like_flink_spark.llm.bpe as bpe
    from reactor_window_like_flink_spark.llm import artifacts

    rows = _docs([(1, "low lower lowest low low")])
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    calls = {"n": 0}
    orig_learn = bpe.learn_bpe_merges
    monkeypatch.setattr(bpe, "load", lambda s, d, t: df)

    def counting_learn(*a, **kw):
        calls["n"] += 1
        return orig_learn(*a, **kw)

    monkeypatch.setattr(bpe, "learn_bpe_merges", counting_learn)
    # fresh memo via monkeypatch: restored even if an assert fails
    memo: dict = {}
    monkeypatch.setitem(artifacts.MEMOS, "bpe_merges", memo)

    foreign = ("some-other-live-app", "dir-x")
    memo[foreign] = [(0, "a", "b", 1)]
    bpe.merges_for(spark, "dir-0")
    assert foreign in memo, "foreign live session thrashed"
    # fill to capacity with distinct corpora (foreign + dir-0 count)
    for i in range(1, artifacts.MAX_ENTRIES - 1):
        bpe.merges_for(spark, f"dir-{i}")
    assert len(memo) == artifacts.MAX_ENTRIES
    # hit dir-0 -> refresh recency; next insert must evict the
    # foreign entry (now the least recently used), not dir-0
    n_before = calls["n"]
    bpe.merges_for(spark, "dir-0")
    assert calls["n"] == n_before, "hit must not retrain"
    bpe.merges_for(spark, "dir-new")
    assert len(memo) == artifacts.MAX_ENTRIES
    app = spark.sparkContext.applicationId
    assert (app, "dir-0") in memo
    assert foreign not in memo
