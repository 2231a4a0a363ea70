"""Unigram-LM tokenizer (llm/unigram.py): distributed-vs-sequential
equality, Viterbi properties, encode fidelity and coverage."""

from __future__ import annotations

from _round import rhalf

import math

from reactor_window_like_flink_spark.llm.unigram import (
    UNIGRAM_VOCAB_SIZE,
    _smoothed_scores,
    q_unigram_encode,
    q_unigram_tokenizer,
    train_unigram,
    train_unigram_sequential,
    unigram_model_for,
    viterbi_segment,
)
from reactor_window_like_flink_spark.sources.tables import load

_FIXTURE_DOCS = [
    (0, "the cat sat on the mat"),
    (1, "the cat ate the rat"),
    (2, "low low low lower lowest"),
    (3, "new newer newest news"),
    (4, "the the the the the"),
    (5, "internationalization nation national"),
]


def _docs_df(spark):
    return spark.createDataFrame(_FIXTURE_DOCS, "doc_id long, text string")


def test_distributed_path_equals_sequential_reference(spark):
    docs = _docs_df(spark)
    # driver_vocab_max=0 forces the distributed seed + EM loop
    dist = train_unigram(spark, docs, driver_vocab_max=0)
    vocab = {}
    for _, text in _FIXTURE_DOCS:
        for w in text.lower().split(" "):
            if w:
                vocab[w] = vocab.get(w, 0) + 1
    seq = train_unigram_sequential(sorted(vocab.items()))
    assert dist == seq


def test_driver_gate_both_sides_identical(spark, monkeypatch):
    """The driver gate at its edge: a vocabulary of exactly
    ``driver_vocab_max`` rows trains on the driver, one row more falls
    back to the distributed seed + EM loop; both give the same table."""
    from reactor_window_like_flink_spark.llm import unigram

    docs = _docs_df(spark)
    n_vocab = unigram._word_vocab(docs).count()
    sequential_calls = []
    monkeypatch.setattr(
        unigram,
        "train_unigram_sequential",
        lambda *a: sequential_calls.append(1) or train_unigram_sequential(*a),
    )
    at = train_unigram(spark, docs, driver_vocab_max=n_vocab)
    assert sequential_calls == [1]
    over = train_unigram(spark, docs, driver_vocab_max=n_vocab - 1)
    assert sequential_calls == [1]
    assert at == over


def test_viterbi_tie_break_prefers_longest_last_piece():
    model = _smoothed_scores({"ab": 10.0, "a": 10.0, "b": 10.0, "c": 5.0})
    # "ab" as one piece beats a+b (fewer pieces, higher total); ties on
    # total score resolve to the earliest start (longest last piece)
    assert viterbi_segment("ab", model) == ["ab"]
    assert viterbi_segment("abc", model) == ["ab", "c"]


def test_viterbi_single_chars_guarantee_coverage():
    model = _smoothed_scores({"x": 1.0, "y": 1.0})
    assert viterbi_segment("yxy", model) == ["y", "x", "y"]
    # score is additive over pieces
    s = sum(model[p] for p in ["y", "x", "y"])
    assert s < 0 and math.isfinite(s)


def test_piece_table_shape_and_order(spark, sf_dir):
    rows = q_unigram_tokenizer(spark, sf_dir).collect()
    assert 0 < len(rows) <= UNIGRAM_VOCAB_SIZE + 128  # vocab + char floor
    # rank order is (count desc, piece asc), ranks contiguous from 0
    for i, r in enumerate(rows):
        assert r["rank"] == i
        assert math.isfinite(r["logprob"]) and r["logprob"] < 0
    for a, b in zip(rows, rows[1:]):
        assert a["count"] > b["count"] or (
            a["count"] == b["count"] and a["piece"] < b["piece"]
        )
    # every single char of the corpus vocabulary is covered
    chars = set()
    for r in load(spark, sf_dir, "documents").select("text").collect():
        for w in r["text"].lower().split(" "):
            chars.update(w)
    pieces = {r["piece"] for r in rows}
    assert chars <= pieces


def test_encode_matches_sequential_and_covers(spark, sf_dir):
    model = {p: lp for _, p, _, lp in unigram_model_for(spark, sf_dir)}
    got = {r["doc_id"]: r for r in q_unigram_encode(spark, sf_dir).collect()}
    docs = load(spark, sf_dir, "documents").limit(25).collect()
    assert len(got) >= len(docs)
    for r in docs:
        words = [w for w in r["text"].lower().split(" ") if w]
        n_pieces = sum(len(viterbi_segment(w, model)) for w in words)
        row = got[r["doc_id"]]
        assert row["n_tokens_ws"] == len(words)
        assert row["n_pieces"] == n_pieces
        # fertility >= 1: a piece never spans a whitespace boundary
        assert row["n_pieces"] >= row["n_tokens_ws"]
        assert abs(row["fertility"] - rhalf(n_pieces / len(words), 4)) < 1e-9
