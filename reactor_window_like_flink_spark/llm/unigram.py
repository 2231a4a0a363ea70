"""Unigram-LM tokenizer training (Kudo, ACL 2018 — the SentencePiece
unigram model), distributed: the second tokenizer family beside BPE
(``llm/bpe.py``), trained by Viterbi hard-EM + pruning instead of greedy
pair merging.

The scale split is identical to BPE's: the 100 TB step is collapsing the
corpus to a (word, freq) vocabulary — one explode + count whose shuffle
carries words and counts, never documents. Training then iterates on the
vocabulary table: seed candidates are every substring up to
``UNIGRAM_MAX_PIECE`` chars (a JVM ``transform``/``flatten`` explode +
one freq-weighted count aggregate, map-side combined, top
``UNIGRAM_SEED_SIZE`` via TakeOrderedAndProject); each EM round
Viterbi-segments every vocabulary word under the current piece scores
(one Arrow ``mapInPandas`` pass with the O(pieces) model broadcast,
emitting per-batch partial piece counts) and re-estimates add-alpha
smoothed log-probs from the aggregated counts on the driver — the
per-round driver state is O(pieces), never O(vocab). Final prune keeps
the top ``UNIGRAM_VOCAB_SIZE`` pieces (single chars always retained for
coverage). Same iterative-materialization posture as BPE / k-means.

Determinism contract (shared by the sequential reference, the driver
dispatch, and the distributed path — asserted equal in tests):
  * candidate and prune ordering: (count DESC, piece ASC);
  * Viterbi tie-break: strictly-greater update scanning piece starts
    left-to-right, so the earliest start (longest last piece) wins ties;
  * add-alpha smoothing with a fixed alpha over the retained piece set.

Verified rows-only: iterative EM has no DuckDB oracle; pytest asserts
the trained piece table EQUALS the sequential pure-Python reference and
that the distributed path (driver dispatch disabled) agrees exactly.
"""

from __future__ import annotations

import math
from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reactor_window_like_flink_spark.contract import Registry
from reactor_window_like_flink_spark.functions.materialize import materialize
from reactor_window_like_flink_spark.llm.artifacts import artifact
from reactor_window_like_flink_spark.llm.text import _tokens
from reactor_window_like_flink_spark.sources.tables import load

REG = Registry()

UNIGRAM_MAX_PIECE = 4       # max piece length in chars
UNIGRAM_SEED_SIZE = 256     # candidate pieces after the seed count
UNIGRAM_VOCAB_SIZE = 96     # pieces kept after the final prune
UNIGRAM_EM_ROUNDS = 2       # Viterbi hard-EM rounds
UNIGRAM_ALPHA = 0.1         # add-alpha smoothing for piece log-probs
# Same dispatch bound as BPE: a word vocabulary under this many rows
# collects to the driver and trains sequentially (production posture for
# web-scale corpora, whose vocab is ~1e6-1e8 rows); beyond it the
# distributed EM loop takes over.
UNIGRAM_DRIVER_VOCAB_MAX = 200_000

Model = dict[str, float]  # piece -> Viterbi score (log-prob)


def _word_vocab(docs: DataFrame) -> DataFrame:
    """(word, freq): lowercase whitespace vocabulary — the corpus
    collapse, always distributed."""
    return (
        docs.select(F.explode(_tokens()).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _smoothed_scores(counts: dict[str, float]) -> Model:
    total = sum(counts.values())
    denom = total + UNIGRAM_ALPHA * len(counts)
    return {
        p: math.log((c + UNIGRAM_ALPHA) / denom) for p, c in counts.items()
    }


def viterbi_segment(word: str, model: Model) -> list[str]:
    """Best segmentation of ``word`` under piece scores: DP over end
    positions, candidate starts scanned ascending with strictly-greater
    updates (ties -> earliest start -> longest final piece). Positions
    only reachable through in-model pieces; single chars are always in
    the model, so every word segments."""
    n = len(word)
    best = [0.0] + [-math.inf] * n
    back = [0] * (n + 1)
    for end in range(1, n + 1):
        for start in range(max(0, end - UNIGRAM_MAX_PIECE), end):
            piece = word[start:end]
            s = model.get(piece)
            if s is None or best[start] == -math.inf:
                continue
            cand = best[start] + s
            if cand > best[end]:
                best[end] = cand
                back[end] = start
    out, end = [], n
    while end > 0:
        start = back[end]
        out.append(word[start:end])
        end = start
    out.reverse()
    return out


def _seed_counts_seq(
    vocab: list[tuple[str, int]],
) -> dict[str, float]:
    """Sequential seed: freq-weighted substring counts, top
    UNIGRAM_SEED_SIZE by (count desc, piece asc) + all single chars."""
    counts: dict[str, float] = {}
    for word, freq in vocab:
        n = len(word)
        for s in range(n):
            for ln in range(1, min(UNIGRAM_MAX_PIECE, n - s) + 1):
                p = word[s : s + ln]
                counts[p] = counts.get(p, 0.0) + freq
    chars = {p for p in counts if len(p) == 1}
    kept = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    seed = dict(kept[:UNIGRAM_SEED_SIZE])
    for c in chars:
        seed.setdefault(c, counts[c])
    return seed


def _em_counts_seq(
    vocab: list[tuple[str, int]], model: Model
) -> dict[str, float]:
    counts: dict[str, float] = {}
    for word, freq in vocab:
        for piece in viterbi_segment(word, model):
            counts[piece] = counts.get(piece, 0.0) + freq
    return counts


def _retain(counts: dict[str, float], chars: set[str]) -> dict[str, float]:
    """Pieces with positive count, plus every single char (floor count 0
    — smoothing keeps their log-prob finite)."""
    out = {p: c for p, c in counts.items() if c > 0}
    for c in chars:
        out.setdefault(c, 0.0)
    return out


def _final_prune(
    counts: dict[str, float], chars: set[str]
) -> list[tuple[int, str, int, float]]:
    """Top UNIGRAM_VOCAB_SIZE by (count desc, piece asc) + all single
    chars; returns [(rank, piece, count, logprob)] in rank order."""
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    kept = dict(ranked[:UNIGRAM_VOCAB_SIZE])
    for c in chars:
        kept.setdefault(c, counts.get(c, 0.0))
    scores = _smoothed_scores(kept)
    rows = sorted(kept.items(), key=lambda kv: (-kv[1], kv[0]))
    return [
        (rank, p, int(c), round(scores[p], 4))
        for rank, (p, c) in enumerate(rows)
    ]


def train_unigram_sequential(
    vocab: list[tuple[str, int]],
) -> list[tuple[int, str, int, float]]:
    """Pure-Python reference trainer (the equality baseline for the
    distributed path): seed -> EM rounds -> final prune."""
    chars = {ch for word, _ in vocab for ch in word}
    counts = _seed_counts_seq(vocab)
    for _ in range(UNIGRAM_EM_ROUNDS):
        model = _smoothed_scores(counts)
        counts = _retain(_em_counts_seq(vocab, model), chars)
    return _final_prune(counts, chars)


# Substring explode for the distributed seed: every (start, len<=MAX)
# window of the word, one row per occurrence.
_SUBSTR_EXPR = (
    "flatten(transform(sequence(1, length(word)),"
    " s -> transform(sequence(1, least({m}, length(word) - s + 1)),"
    " l -> substring(word, s, l))))"
).format(m=UNIGRAM_MAX_PIECE)


def _em_round_distributed(
    vocab: DataFrame, model: Model
) -> dict[str, float]:
    """One distributed E-step: broadcast the O(pieces) model into an
    Arrow pass over (word, freq), pre-aggregate piece counts per batch,
    then one keyed sum whose result (≤ |model| rows) collects."""

    def estep(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            part: dict[str, float] = {}
            memo: dict[str, list[str]] = {}
            for word, freq in zip(pdf["word"], pdf["freq"]):
                seg = memo.get(word)
                if seg is None:
                    seg = viterbi_segment(word, model)
                    memo[word] = seg
                for piece in seg:
                    part[piece] = part.get(piece, 0.0) + float(freq)
            yield pd.DataFrame(
                {"piece": list(part), "c": list(part.values())}
            )

    rows = (
        vocab.mapInPandas(estep, "piece string, c double")
        .groupBy("piece")
        .agg(F.sum("c").alias("c"))
        .collect()
    )
    return {r["piece"]: r["c"] for r in rows}


def train_unigram(
    spark: SparkSession,
    docs: DataFrame,
    driver_vocab_max: int = UNIGRAM_DRIVER_VOCAB_MAX,
) -> list[tuple[int, str, int, float]]:
    """Train the unigram-LM piece table from the documents frame.
    Returns [(rank, piece, count, logprob)] in rank order.

    Size dispatch like ``learn_bpe_merges``: the corpus→vocabulary
    collapse is always distributed; a vocabulary within
    ``driver_vocab_max`` rows then collects and trains sequentially,
    a larger one runs the distributed seed + EM loop. Both paths share
    every tie-break and produce IDENTICAL piece tables (tested)."""
    vocab = materialize(_word_vocab(docs))
    if driver_vocab_max and vocab.count() <= driver_vocab_max:
        rows = vocab.collect()
        return train_unigram_sequential(
            [(r["word"], int(r["freq"])) for r in rows]
        )
    # Distributed seed: substring explode + freq-weighted count; top
    # SEED_SIZE via TakeOrderedAndProject, chars unioned back in.
    sub = vocab.select(
        "freq", F.explode(F.expr(_SUBSTR_EXPR)).alias("piece")
    )
    pc = sub.groupBy("piece").agg(
        F.sum("freq").cast("double").alias("c")
    ).transform(materialize)
    top = pc.orderBy(F.desc("c"), F.asc("piece")).limit(UNIGRAM_SEED_SIZE)
    chars_df = pc.filter(F.length("piece") == 1)
    seed_rows = top.unionByName(chars_df).dropDuplicates(["piece"]).collect()
    counts = {r["piece"]: r["c"] for r in seed_rows}
    chars = {r["piece"] for r in seed_rows if len(r["piece"]) == 1}
    for _ in range(UNIGRAM_EM_ROUNDS):
        model = _smoothed_scores(counts)
        counts = _retain(_em_round_distributed(vocab, model), chars)
    return _final_prune(counts, chars)


def unigram_model_for(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, str, int, float]]:
    return artifact(
        "unigram",
        spark,
        sf_dir,
        lambda: train_unigram(spark, load(spark, sf_dir, "documents")),
    )


@REG.add("q_unigram_tokenizer")  # rows-only: iterative EM has no SQL
# oracle; pytest asserts equality with the sequential reference trainer.
def q_unigram_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained unigram-LM piece table: (rank, piece, count, logprob)
    — the SentencePiece-style counterpart to ``q_bpe_merges`` (see module
    docstring for the EM pipeline and scale split)."""
    rows = unigram_model_for(spark, sf_dir)
    return spark.createDataFrame(
        rows, "rank int, piece string, count long, logprob double"
    )


@REG.add("q_unigram_encode")  # rows-only: depends on the trained model
# (see q_unigram_tokenizer); pytest asserts per-doc equality with a
# sequential re-encode and the coverage invariant.
def q_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi-encode every document under the trained unigram model:
    per doc, whitespace token count, piece count, and fertility — the
    inference twin of ``q_unigram_tokenizer``, same contract as
    ``q_bpe_encode``.

    Scale shape: the piece table is a tiny trained artifact broadcast
    into one Arrow ``mapInPandas`` pass over the narrow (doc_id, text)
    scan — no shuffle at all; the per-word Viterbi memoizes within each
    batch (Zipf makes the hit rate high)."""
    model = {p: lp for _, p, _, lp in unigram_model_for(spark, sf_dir)}
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")

    def encode(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        cache: dict[str, int] = {}
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = [w for w in text.lower().split(" ") if w]
                n_pieces = 0
                for w in words:
                    if w not in cache:
                        cache[w] = len(viterbi_segment(w, model))
                    n_pieces += cache[w]
                n_ws = len(words)
                out.append(
                    (
                        int(doc_id),
                        n_ws,
                        n_pieces,
                        round(n_pieces / n_ws, 4) if n_ws else None,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "n_tokens_ws", "n_pieces", "fertility"],
            )

    return docs.mapInPandas(
        encode,
        "doc_id long, n_tokens_ws long, n_pieces long, fertility double",
    )
