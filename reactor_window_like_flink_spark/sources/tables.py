"""Batch table registry over the driver-generated parquet fixtures.

The reference's only "table" is a bounded in-memory SPSC queue
(``WindowPublisher.java:66-68``); our engine's at-rest model is columnar
parquet read through Spark's vectorized reader, with column pruning and
predicate pushdown reaching the scan (SURVEY.md §1.2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimensions that should always be broadcast in joins at any scale.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part"})

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# Session confs that change the schema Spark infers from the same parquet
# files: the first four map parquet types to Spark types, mergeSchema picks
# which files' columns a directory's schema holds.
SCHEMA_CONFS = (
    NANOS_AS_LONG,
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# Absolute table path -> (files signature, SCHEMA_CONFS values, schema). One
# entry per path; each schema is stored with what it was inferred under, so a
# racing store can only cause a re-inference, never a stale schema.
_SCHEMAS: dict[str, tuple[tuple, tuple, StructType]] = {}


def _files_signature(path: str) -> tuple | None:
    """``(name, size, mtime_ns)`` of every file at ``path`` (the file
    itself, or each file under a directory), or None when ``path`` cannot
    be stat'ed as a local path."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
        files = []
        for root, _, names in os.walk(path):
            for n in names:
                full = os.path.join(root, n)
                st = os.stat(full)
                files.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
        return tuple(sorted(files))
    except OSError:
        return None


def _confs_match(inferred_under: tuple, now: tuple) -> bool:
    """Whether a schema inferred under ``inferred_under`` (SCHEMA_CONFS
    values) still holds under ``now``. Every conf must be equal, except
    that nanosAsLong may have been turned on since: Spark rejects a
    TIMESTAMP(NANOS) column without it, so a schema inferred with it off
    has none, and ``load`` turning it on for ``events`` must not
    re-infer every table loaded before."""
    return all(
        a == b or (k == NANOS_AS_LONG and a == "false")
        for k, a, b in zip(SCHEMA_CONFS, inferred_under, now)
    )


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema inferred once per
    process; see :func:`load`."""
    files = _files_signature(path)
    if files is None:
        return spark.read.parquet(path)
    confs = tuple(spark.conf.get(k) for k in SCHEMA_CONFS)
    key = os.path.abspath(path)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == files and _confs_match(hit[1], confs):
        return spark.read.schema(hit[2]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (files, confs, df.schema)
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table as a plain parquet scan: Catalyst sees the
    same pushdown-capable ``FileScan`` (column pruning, pushed filters) as
    a bare ``spark.read.parquet``, with no caching layer in the way.

    Only the schema is memoized. A parquet read without a schema costs one
    Spark job (a footer-reading ``mergeSchemasInParallel`` task), so each
    path's schema is inferred on its first ``load`` in the process and
    passed to ``spark.read.schema(...)`` afterwards, which starts no job.
    The memo holds one entry per absolute path, re-infers when the
    ``(name, size, mtime_ns)`` of the path's files or any of
    ``SCHEMA_CONFS`` differ from the stored ones (see
    :func:`_confs_match`), and is bypassed for a path that cannot be
    stat'ed locally (a plain inferring read).

    ``events.ts`` has shipped as two physical layouts across fixture
    generations: parquet TIMESTAMP(NANOS) — which Spark 4 rejects outright
    (PARQUET_TYPE_ILLEGAL) unless read as raw nanos via the legacy conf —
    and plain TIMESTAMP(MICROS), which Spark reads natively as
    TIMESTAMP_NTZ. Normalize both to a session-TZ TIMESTAMP (micros): the
    nanos path rebuilds with exact integer division (``ts / 1000`` in
    double would lose ~7 bits of sub-second precision); the native path is
    a wall-clock-identity cast under the engine's UTC session timezone, so
    downstream ``unix_micros``/``window()`` semantics match the DuckDB
    oracle reading the same file.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set(NANOS_AS_LONG, "true")
        df = _read_parquet(spark, path)
        ts_type = df.schema["ts"].dataType.typeName()
        if ts_type == "long":  # legacy TIMESTAMP(NANOS) fixture
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return _read_parquet(spark, path)


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every fixture table as a temp view for ``spark.sql`` use
    (idempotent: ``createOrReplaceTempView``). Views go through ``load``,
    so the events-timestamp normalization applies to the SQL surface
    too."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
