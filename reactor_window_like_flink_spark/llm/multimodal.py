"""Multimodal column handling: media as opaque ``binary`` payloads with a
typed metadata struct, plus the decode / feature-extract / frame-sample
pipeline as Arrow-batched ``mapInPandas`` stages.

The image/audio libraries are not installed in this environment, so the
actual codec call is stubbed (``_decode_payload``) behind a deterministic
fake — the Spark-side plumbing that matters at 100 TB (schema, struct
layout, Arrow batch shape, partition-parallel UDF execution) is real and
tested. Swap ``_decode_payload`` for PIL/libav and nothing else changes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reactor_window_like_flink_spark.contract import Registry, order_small, round_to
from reactor_window_like_flink_spark.sources.tables import load

REG = Registry()

_KINDS = ("image", "audio", "video")

DECODE_SCHEMA = (
    "doc_id bigint, kind string, n_bytes bigint, width bigint, height bigint, "
    "n_frames bigint, mean_byte double"
)


def with_media(docs: DataFrame) -> DataFrame:
    """Attach a multimodal column: binary payload (the document text's
    UTF-8 bytes standing in for real media bytes) + typed metadata struct.
    This is the storage contract: payload stays opaque binary, everything
    queryable lives in cheap typed metadata columns so Catalyst can prune
    and filter without touching payload bytes."""
    kind = F.element_at(
        F.array(*[F.lit(k) for k in _KINDS]), (F.col("doc_id") % 3 + 1).cast("int")
    )
    payload = F.encode("text", "UTF-8")
    return docs.select(
        "doc_id",
        F.struct(
            kind.alias("kind"),
            payload.alias("payload"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
            (64 + F.col("doc_id") % 512).cast("long").alias("width"),
            (64 + (F.col("doc_id") * 7) % 512).cast("long").alias("height"),
            F.md5(payload).alias("checksum"),
        ).alias("media"),
    )


@REG.add(
    "q_multimodal_cols",
    """
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS kind,
           CAST(length(text) AS BIGINT) AS n_bytes,
           CAST(64 + doc_id % 512 AS BIGINT) AS width,
           CAST(64 + (doc_id * 7) % 512 AS BIGINT) AS height,
           md5(text) AS checksum
    FROM documents
    WHERE doc_id % 3 = 0 AND 64 + doc_id % 512 >= 128
    """,
)
def q_multimodal_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the media struct, then answer a metadata-only query (images
    wider than 128px) through dotted nested access. The filter touches only
    struct metadata fields — at 100 TB with payload in its own parquet
    column, the scan never reads a payload byte (column pruning on nested
    fields)."""
    media = with_media(load(spark, sf_dir, "documents"))
    return (
        media.filter(
            (F.col("media.kind") == "image") & (F.col("media.width") >= 128)
        )
        .select(
            "doc_id",
            F.col("media.kind").alias("kind"),
            F.col("media.n_bytes").alias("n_bytes"),
            F.col("media.width").alias("width"),
            F.col("media.height").alias("height"),
            F.col("media.checksum").alias("checksum"),
        )
    )


def _decode_payload(payload: bytes, kind: str) -> dict:
    """Stub decode. Real pipeline: PIL.Image.open / soundfile / pyav frame
    iteration — none installed here, so a deterministic fake computes the
    same shaped outputs from raw bytes. Raises for unknown kinds exactly as
    a real codec dispatch would."""
    if kind not in _KINDS:
        raise NotImplementedError(f"no decoder for media kind {kind!r}")
    n = len(payload)
    # Fake "frames": one per 64-byte chunk for video, 1 otherwise.
    n_frames = max(n // 64, 1) if kind == "video" else 1
    mean_byte = float(sum(payload)) / n if n else 0.0
    return {"n_frames": n_frames, "mean_byte": round(mean_byte, 4)}


def decode_media(media_df: DataFrame) -> DataFrame:
    """Arrow-batched decode stage over (doc_id, media) rows. mapInPandas
    streams columnar batches through Python — the only viable shape for
    codec work at scale (per-row UDFs would serialize row-at-a-time;
    collect-based loops wouldn't distribute at all). Partition-parallel:
    each task decodes its own batch stream independently."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            media = pdf["media"]
            decoded = [
                _decode_payload(m["payload"], m["kind"]) for m in media
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "kind": [m["kind"] for m in media],
                    "n_bytes": [int(m["n_bytes"]) for m in media],
                    "width": [int(m["width"]) for m in media],
                    "height": [int(m["height"]) for m in media],
                    "n_frames": [d["n_frames"] for d in decoded],
                    "mean_byte": [d["mean_byte"] for d in decoded],
                }
            )

    return media_df.mapInPandas(run, DECODE_SCHEMA)


@REG.add("q_multimodal_decode")  # rows-only: decode runs through mapInPandas,
# not expressible as oracle SQL (the point is the UDF plumbing itself)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal pipeline: attach media structs → Arrow-batched
    decode → per-kind feature aggregate. Verified rows-only by the driver;
    the pytest suite asserts decoded values against a pure-Python
    recompute."""
    media = with_media(load(spark, sf_dir, "documents"))
    decoded = decode_media(media)
    return (
        decoded.groupBy("kind")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_frames").alias("total_frames"),
            round_to(F.avg("mean_byte"), 4).alias("avg_mean_byte"),
        )
        .transform(order_small, "kind")
    )


FRAME_SAMPLE_SCHEMA = (
    "doc_id bigint, frame_idx bigint, frame_offset bigint, frame_bytes binary"
)

RESIZE_SCHEMA = (
    "doc_id bigint, width bigint, height bigint, out_width bigint, "
    "out_height bigint, scale double"
)

_FRAME_BYTES = 64  # stub codec: fixed-size "frames" (matches _decode_payload)


def sample_frames(media_df: DataFrame, every_k: int = 4) -> DataFrame:
    """Frame-sampling stage: for video payloads, emit every ``every_k``-th
    frame as its own row (doc_id, frame_idx, byte offset, frame bytes) —
    the fan-out step that feeds per-frame embedding/captioning models.

    Real pipeline: pyav keyframe iteration; the stub slices fixed
    ``_FRAME_BYTES`` chunks so offsets and byte content are exactly
    checkable in tests. The Spark shape is what matters at 100 TB:
    ``mapInPandas`` fans one input row out into many output rows inside
    the same Arrow batch stream (no explode of a materialized array —
    frames never exist as one in-memory collection), stays
    partition-parallel, and emits a long-friendly (id, idx) key for the
    downstream per-frame stages."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, offs, chunks = [], [], [], []
            for doc_id, m in zip(pdf["doc_id"], pdf["media"]):
                if m["kind"] != "video":
                    continue
                payload = m["payload"]
                n_frames = max(len(payload) // _FRAME_BYTES, 1)
                for fi in range(0, n_frames, every_k):
                    off = fi * _FRAME_BYTES
                    ids.append(doc_id)
                    idxs.append(fi)
                    offs.append(off)
                    chunks.append(bytes(payload[off : off + _FRAME_BYTES]))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": idxs,
                    "frame_offset": offs,
                    "frame_bytes": chunks,
                }
            )

    return media_df.mapInPandas(run, FRAME_SAMPLE_SCHEMA)


def resize_images(media_df: DataFrame, max_side: int = 224) -> DataFrame:
    """Resize planning stage: compute the aspect-preserving target
    dimensions that fit ``max_side`` (the normalization step before a
    vision encoder). The arithmetic runs on the typed metadata columns as
    pure JVM expressions — no payload byte is read and no Python runs,
    because the stub "decoder" carries dimensions in metadata exactly as
    a production table would. Swap in a real pixel resample by chaining
    ``mapInPandas`` over (payload, out_width, out_height) afterwards."""
    w, h = F.col("media.width"), F.col("media.height")
    scale = F.least(
        F.lit(1.0), F.lit(max_side) / F.greatest(w, h).cast("double")
    )
    return media_df.filter(F.col("media.kind") == "image").select(
        "doc_id",
        w.cast("long").alias("width"),
        h.cast("long").alias("height"),
        F.greatest(F.round(w * scale).cast("long"), F.lit(1)).alias(
            "out_width"
        ),
        F.greatest(F.round(h * scale).cast("long"), F.lit(1)).alias(
            "out_height"
        ),
        round_to(scale, 4).alias("scale"),
    )


@REG.add(
    "q_multimodal_dedup",
    """
    WITH m AS (
      SELECT doc_id, md5(text) AS checksum,
             CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                  ELSE 'video' END AS kind,
             CAST(length(text) AS BIGINT) AS n_bytes
      FROM documents
    )
    SELECT checksum,
           CAST(count(*) AS BIGINT) AS n_assets,
           min(doc_id) AS keep_doc_id,
           CAST(max(n_bytes) AS BIGINT) AS n_bytes,
           array_to_string(list_sort(list(DISTINCT kind)), ',') AS kinds,
           CASE WHEN count(*) >= 2 THEN 1 ELSE 0 END AS is_dup
    FROM m
    GROUP BY checksum
    """,
)
def q_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asset ledger + dedup across the multimodal corpus: one row per
    distinct content checksum with its embed count, min-id survivor,
    distinct-kind provenance (the same bytes re-encoded as "image" in
    one doc and "video" in another still collapse to one asset), and an
    is_dup flag for checksums embedded in >= 2 documents — the dedup
    decision plus the reprocessing inventory in one pass.

    Scale shape: the checksum is stored METADATA (written once at
    ingest), so the dedup groupBy keys on the 32-hex string and the
    payload bytes are never read, never shuffled — the same economics as
    q_dedup_exact but over binary assets. Dedup at 100 TB of media is a
    metadata-only job."""
    media = with_media(load(spark, sf_dir, "documents"))
    return (
        media.select(
            "doc_id",
            F.col("media.checksum").alias("checksum"),
            F.col("media.kind").alias("kind"),
            F.col("media.n_bytes").alias("n_bytes"),
        )
        .groupBy("checksum")
        .agg(
            F.count("*").cast("long").alias("n_assets"),
            F.min("doc_id").alias("keep_doc_id"),
            F.max("n_bytes").cast("long").alias("n_bytes"),
            # CSV-encode: the driver's canonicalizer cannot sort bare
            # array cells (unhashable) — same pattern as q_agg_collect.
            F.array_join(F.array_sort(F.collect_set("kind")), ",").alias(
                "kinds"
            ),
        )
        .withColumn(
            "is_dup", F.when(F.col("n_assets") >= 2, 1).otherwise(0)
        )
    )


# ---------------------------------------------------------------------------
# Perceptual near-dup: dHash (difference hash) over decoded pixel grids.
# Checksum dedup (q_multimodal_dedup) misses same-image-different-bytes
# (re-encodes, metadata-stripped copies); a perceptual hash survives
# re-encoding because it is computed from the DECODED grid, not the bytes.

PHASH_GRID_ROWS = 8
PHASH_GRID_COLS = 9  # 8x9 luminance grid -> 8x8 horizontal gradients
PHASH_CHUNKS = 4
PHASH_CHUNK_BITS = 16
# Pigeonhole recall bound (same argument as SimHash's 4x16 chunks): two
# signatures within Hamming distance 3 differ in at most 3 of the 4
# 16-bit chunks, so at least one chunk matches exactly — the chunk-bucket
# join has FULL recall for hamming <= PHASH_HAMMING.
PHASH_HAMMING = 3


def _dhash_grid(payload: bytes) -> list[int]:
    """Stub 'decode + resize to 8x9 grayscale': sample one byte per grid
    cell at evenly spaced payload offsets. Real pipeline: PIL decode ->
    resize((9, 8), grayscale); the sampling stands in for the pixel grid
    deterministically so tests can plant exact near-pairs."""
    n = len(payload)
    cells = PHASH_GRID_ROWS * PHASH_GRID_COLS
    if n == 0:
        return [0] * cells
    return [payload[(k * n) // cells] for k in range(cells)]


def dhash64(payload: bytes) -> int:
    """64-bit dHash: bit (r, c) set iff grid[r][c+1] > grid[r][c] —
    horizontal luminance gradients, the standard difference hash. Returns
    a SIGNED 64-bit int (Spark LongType)."""
    g = _dhash_grid(payload)
    sig = 0
    for r in range(PHASH_GRID_ROWS):
        for c in range(PHASH_GRID_COLS - 1):
            if g[r * PHASH_GRID_COLS + c + 1] > g[r * PHASH_GRID_COLS + c]:
                sig |= 1 << (r * (PHASH_GRID_COLS - 1) + c)
    return sig - (1 << 64) if sig >= (1 << 63) else sig


DHASH_SCHEMA = "doc_id bigint, kind string, dhash bigint"


def dhash_media(media_df: DataFrame) -> DataFrame:
    """Arrow-batched perceptual-hash stage over (doc_id, media) rows —
    the same decode plumbing as ``decode_media``: payload bytes never
    leave the task, only the 8-byte signature is emitted (the column a
    production table would persist at ingest)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            media = pdf["media"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "kind": [m["kind"] for m in media],
                    "dhash": [dhash64(m["payload"]) for m in media],
                }
            )

    return media_df.mapInPandas(run, DHASH_SCHEMA)


def phash_pairs(sigs: DataFrame) -> DataFrame:
    """Pairs within Hamming distance ``PHASH_HAMMING`` from a
    (doc_id, kind, dhash) signature frame, via pigeonhole chunk buckets
    (full recall by the chunk bound) + one bit_count(XOR) confirm per
    candidate. Content-keyed, kind-agnostic — the same bytes declared
    "image" in one doc and "video" in another are still one asset, the
    ``q_multimodal_dedup`` convention; both kinds are reported so the
    caller can scope to one modality with a filter. sort-merge hint so
    ReuseExchange computes the signature pipeline once (a broadcast
    self-join would re-run the decode for the build side)."""
    chunks = sigs.select(
        "doc_id",
        "kind",
        "dhash",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {PHASH_CHUNKS - 1}),"
                f" j -> shiftright(dhash, j * {PHASH_CHUNK_BITS})"
                f"      & {(1 << PHASH_CHUNK_BITS) - 1})"
            )
        ).alias("chunk_id", "chunk_val"),
    )
    a, b = chunks.hint("merge").alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.kind").alias("kind_a"),
            F.col("b.kind").alias("kind_b"),
            F.bit_count(F.col("a.dhash").bitwiseXOR(F.col("b.dhash")))
            .cast("long")
            .alias("hamming"),
        )
        # Filter BEFORE collapsing to one row per doc pair: a doc can
        # carry several signatures (multi-asset callers), and the same
        # pair reaches here once per matching chunk AND per signature
        # pair — dedup-first would keep an arbitrary row and could
        # discard a qualifying asset pair in favor of a non-qualifying
        # one. min(hamming) is the best asset pair (deterministic);
        # min(kind) makes the reported kinds deterministic too.
        .filter(F.col("hamming") <= PHASH_HAMMING)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.min("kind_a").alias("kind_a"),
            F.min("kind_b").alias("kind_b"),
            F.min("hamming").alias("hamming"),
        )
    )


@REG.add("q_multimodal_phash")  # rows-only: the dHash runs through the
# mapInPandas decode plumbing; pytest plants exact near-pairs and checks
# the pigeonhole recall bound against a brute-force recompute.
def q_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate pairs across the multimodal corpus:
    assets whose dHash signatures are within Hamming distance
    3, found via pigeonhole chunk buckets — the
    same-image-different-bytes dedup that checksum grouping
    (q_multimodal_dedup) cannot see.

    Scale shape (the SimHash plan over media): ONE decode pass emits
    8-byte signatures (payloads never shuffle — the only wide stage
    carries (doc_id, kind, 8-byte hash)); the self-join keys on
    (chunk_id, chunk_val) — high-cardinality, spread across
    executors, full recall for hamming <= 3 by the
    pigeonhole bound.

    On the synthetic fixture corpus this returns 0 rows — a true
    negative (its near-dups are word-level edits whose byte shifts
    rescramble the sampled grid, exactly as a re-worded caption should
    NOT perceptually match); the planted-pair pytest
    (tests/test_multimodal.py) verifies recall equals the brute-force
    Hamming oracle on controlled payloads."""
    sigs = dhash_media(with_media(load(spark, sf_dir, "documents")))
    return phash_pairs(sigs)
