"""Distributed BPE merge learning (Sennrich et al., ACL 2016): the
tokenizer-training step of an LLM data pipeline, on Spark.

The scale split is the classic one: the 100 TB step is collapsing the
corpus to a (word, freq) vocabulary — one explode + count whose shuffle
carries words and counts, never documents. Merge learning then iterates
on the vocabulary table (millions of rows for a web corpus, not
billions), still distributed: each round is an adjacent-pair frequency
aggregate (map-side combined), a deterministic argmax (top-1 via
TakeOrderedAndProject — max joint freq, lexicographic (left, right)
tie-break), and one Arrow `mapInPandas` pass rewriting the symbol
arrays with greedy left-to-right non-overlapping application. The vocab
is re-materialized per round (`localCheckpoint`) so round r+1's lineage
does not replay rounds 1..r — the same iterative-algorithm posture as
k-means (`llm/similarity.py:fit_ivf`) and connected components
(`llm/clustering.py`).

Verified rows-only: iterative argmax has no DuckDB oracle; pytest
asserts the learned merge list EQUALS a sequential pure-Python
reference implementation (same tie-break, same greedy application) on
fixture corpora.
"""

from __future__ import annotations

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

BPE_MERGES = 16
EOW = "</w>"  # end-of-word marker (word-boundary-aware merges)
BPE_MIN_PAIR_FREQ = 2  # stop early when the best pair is a singleton


def _word_vocab(docs: DataFrame) -> DataFrame:
    """(symbols array<string>, freq): whitespace vocabulary with each
    word burst into characters + the end-of-word marker."""
    vocab = (
        docs.select(F.explode(_tokens()).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    chars = F.expr(
        "concat(transform(sequence(1, length(word)),"
        f" i -> substring(word, i, 1)), array('{EOW}'))"
    )
    return vocab.select(chars.alias("sym"), "freq")


def _apply_merge(left: str, right: str):
    """mapInPandas stage: greedy left-to-right non-overlapping rewrite
    of (left, right) -> left+right in every symbol array."""
    merged = left + right

    def fn(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            out = []
            for sym in pdf["sym"]:
                res, i, n = [], 0, len(sym)
                while i < n:
                    if (
                        i + 1 < n
                        and sym[i] == left
                        and sym[i + 1] == right
                    ):
                        res.append(merged)
                        i += 2
                    else:
                        res.append(sym[i])
                        i += 1
                out.append(res)
            yield pd.DataFrame({"sym": out, "freq": pdf["freq"]})

    return fn


def _learn_sequential(
    vocab_rows: list[tuple[list[str], int]], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """Driver-side merge loop over a collected (symbols, freq) vocab —
    the same argmax tie-break and greedy application as the distributed
    loop (asserted equal in tests/test_retrieval.py)."""
    words = [[list(sym), int(freq)] for sym, freq in vocab_rows]
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for sym, freq in words:
            for i in range(len(sym) - 1):
                k = (sym[i], sym[i + 1])
                pairs[k] = pairs.get(k, 0) + freq
        if not pairs:
            break
        (left, right), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < BPE_MIN_PAIR_FREQ:
            break
        merges.append((rank, left, right, int(c)))
        for entry in words:
            sym = entry[0]
            res, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == left and sym[i + 1] == right:
                    res.append(left + right)
                    i += 2
                else:
                    res.append(sym[i])
                    i += 1
            entry[0] = res
    return merges


# A web-scale corpus collapses to a vocabulary of ~1e6-1e8 words; below
# this bound the (symbols, freq) table fits comfortably on the driver
# and the merge loop runs there in milliseconds — the production
# posture. Above it, the fully-distributed loop takes over.
BPE_DRIVER_VOCAB_MAX = 200_000


def learn_bpe_merges(
    spark: SparkSession,
    docs: DataFrame,
    n_merges: int = BPE_MERGES,
    driver_vocab_max: int = BPE_DRIVER_VOCAB_MAX,
) -> list[tuple[int, str, str, int]]:
    """Learn up to ``n_merges`` BPE merges from the documents frame.
    Returns [(rank, left, right, joint_freq)] in learning order.

    The corpus→vocabulary collapse is always distributed (that is the
    100 TB step). The merge loop itself is a size dispatch: a vocabulary
    within ``driver_vocab_max`` rows collects to the driver and learns
    sequentially (16 tiny Spark jobs → one in-memory loop — measured
    6.0 s → sub-second at sf0.1); a larger one runs the distributed
    round loop. Both paths share the argmax tie-break and greedy
    application and produce IDENTICAL merges (tested)."""
    vocab = materialize(_word_vocab(docs))
    if driver_vocab_max and vocab.count() <= driver_vocab_max:
        rows = vocab.collect()
        return _learn_sequential(
            [(list(r["sym"]), r["freq"]) for r in rows], n_merges
        )
    pairs_expr = F.expr(
        "transform(sequence(1, size(sym) - 1),"
        " i -> struct(element_at(sym, i) AS l, element_at(sym, i + 1) AS r))"
    )
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        best = (
            vocab.filter(F.size("sym") >= 2)
            .select("freq", F.explode(pairs_expr).alias("p"))
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["c"] < BPE_MIN_PAIR_FREQ:
            break
        left, right, c = best[0]["l"], best[0]["r"], int(best[0]["c"])
        merges.append((rank, left, right, c))
        new_vocab = vocab.mapInPandas(
            _apply_merge(left, right), "sym array<string>, freq long"
        ).transform(materialize)
        vocab = new_vocab
    return merges


@REG.add("q_bpe_merges")  # rows-only: iterative argmax has no SQL
# oracle; pytest asserts equality with a sequential reference BPE.
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 16 BPE merges learned from the documents corpus:
    (rank, left, right, joint_freq) in learning order — the
    tokenizer-training pass (see module docstring for the scale split).
    Routed through the merges_for memo so q_bpe_merges + q_bpe_encode in
    one session share a single training pass."""
    merges = merges_for(spark, sf_dir)
    return spark.createDataFrame(
        merges, "rank int, left string, right string, joint_freq long"
    )


def merges_for(spark: SparkSession, sf_dir: str) -> list[tuple[int, str, str, int]]:
    return artifact(
        "bpe_merges",
        spark,
        sf_dir,
        lambda: learn_bpe_merges(
            spark, load(spark, sf_dir, "documents"), BPE_MERGES
        ),
    )


def encode_word(sym: list[str], ranked: dict[tuple[str, str], int]) -> list[str]:
    """Apply merges in learned-rank order (the standard BPE encode):
    repeatedly merge the present pair with the LOWEST rank until none
    applies. Greedy left-to-right within a rank, same as training."""
    while len(sym) >= 2:
        best_rank, best_i = None, -1
        for i in range(len(sym) - 1):
            r = ranked.get((sym[i], sym[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        sym = (
            sym[:best_i]
            + [sym[best_i] + sym[best_i + 1]]
            + sym[best_i + 2 :]
        )
    return sym


@REG.add("q_bpe_encode")  # rows-only: depends on the learned merge
# table (see q_bpe_merges); pytest asserts equality with a sequential
# reference encode and the compression invariant.
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encode of every document under the corpus-learned merges
    (the inference side of q_bpe_merges): per doc, whitespace token
    count, BPE token count, and fertility (BPE tokens per word) — the
    metric tokenizer work optimizes.

    Scale shape: the merge table is a tiny learned artifact broadcast
    into one Arrow `mapInPandas` pass over the narrow (doc_id, text)
    scan — encode is embarrassingly parallel, no shuffle at all; the
    per-word encode memoizes within each batch (Zipf makes the word
    cache hit rate high)."""
    ranked = {
        (left, right): rank
        for rank, left, right, _ in merges_for(spark, sf_dir)
    }
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")

    def encode(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        cache: dict[str, int] = {}
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = [w for w in text.lower().split(" ") if w]
                n_bpe = 0
                for w in words:
                    if w not in cache:
                        cache[w] = len(
                            encode_word(list(w) + [EOW], ranked)
                        )
                    n_bpe += cache[w]
                n_ws = len(words)
                out.append(
                    (
                        int(doc_id),
                        n_ws,
                        n_bpe,
                        round(n_bpe / n_ws, 4) if n_ws else None,
                    )
                )
            yield pd.DataFrame(
                out, columns=["doc_id", "n_tokens_ws", "n_tokens_bpe", "fertility"]
            )

    return docs.mapInPandas(
        encode,
        "doc_id long, n_tokens_ws long, n_tokens_bpe long, fertility double",
    )
