"""SparkSession factory.

One place for every scale-relevant config so local tests and the 100 TB
posture share a single tuning surface. The reference engine's physical
knobs (queue capacity, consumer pool size — ``WindowPublisher.java:46-56``)
map here to Spark resource/shuffle configs per SURVEY.md §4.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession


def _cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    except ValueError:
        return 32


def _ensure_driver_memory() -> None:
    """Driver memory must be set BEFORE the JVM gateway launches —
    ``SparkSession.builder.config("spark.driver.memory", ...)`` is silently
    ignored once PySpark has started its own JVM. Inject it through
    PYSPARK_SUBMIT_ARGS while the gateway is still down; honor any args the
    caller already set."""
    from pyspark import SparkContext

    if SparkContext._gateway is not None or "PYSPARK_SUBMIT_ARGS" in os.environ:
        return
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory {mem} pyspark-shell"


def _ensure_worker_path() -> None:
    """Python workers inherit the JVM's environment, and they import the
    package by module path whenever a ``mapInPandas`` function is
    module-level. Put the package's parent directory on PYTHONPATH while
    the gateway is still down, so workers import the package from any
    working directory, not only when the caller's ``sys.path`` happened
    to hold the repo."""
    from pyspark import SparkContext

    if SparkContext._gateway is not None:
        return
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([root, *paths])


ROCKSDB_STATE_STORE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def get_spark(
    app_name: str = "reactor-window-like-flink-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    rocksdb_state_store: bool = False,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Scale posture (SURVEY.md §4.2 item 4):
      - AQE on: runtime coalescing of small shuffle partitions, skew-join
        splitting, and dynamic join-strategy switching — the knobs that keep
        a plan healthy when data is 1000x the test scale.
      - shuffle.partitions sized to cores locally; on a real cluster this is
        overridden (or left to AQE's coalescing with a high initial value).
      - Arrow enabled: every pandas_udf / toPandas crosses the JVM<->Python
        boundary in columnar batches, not row-at-a-time pickles.
      - UTC session timezone: deterministic timestamp semantics vs the
        DuckDB oracle and any parquet writer.
      - Runtime filters (dynamic partition pruning + bloom-filter join
        pruning) ride the Spark defaults: DPP prunes partitioned fact
        scans at planning time, and the bloom filter injects a
        might_contain predicate on the fact side of selective shuffle
        joins once the production thresholds (>= 10 GiB application-side
        scan) are met — asserted observable in tests/test_plans.py and
        tests/test_layout.py.
      - Local masters list a micro-batch's or a read's paths on the driver:
        ``parallelPartitionDiscovery.threshold`` is raised to ``2**31 - 1``
        so Spark never lists more than 32 paths in a distributed job. With
        executors in the driver's JVM that job makes the same ``stat``
        calls on the same host, plus scheduling: a 100-file stream drain
        paid a 100-task listing job, 3 jobs / 104 tasks where 2 jobs /
        4 tasks do. A cluster master keeps Spark's default, where parallel
        listing of many object-store paths can pay. ``extra_conf`` still
        overrides it.
    """
    cpus = _cpus()
    # RocksDB state store: off-heap, spill-to-disk per-key state for the
    # stateful streaming operators. The default (HDFS-backed) provider
    # keeps every state row on the executor JVM heap — fine at fixture
    # scale, an OOM at the 100 TB posture's key cardinalities (hundreds
    # of millions of sessions/dedup keys); RocksDB bounds heap usage at
    # the block-cache size and scales state to local disk. Per-QUERY
    # runtime SQL conf, so new streaming queries pick it up on a live
    # session too (tests/test_stateful_streaming.py smoke-runs it).
    rocks_conf = (
        {
            "spark.sql.streaming.stateStore.providerClass": (
                ROCKSDB_STATE_STORE_PROVIDER
            )
        }
        if rocksdb_state_store
        else {}
    )
    active = SparkSession.getActiveSession()
    if active is not None:
        # getOrCreate() would silently ignore every builder config here.
        # Apply what is runtime-settable and warn about the rest so a
        # caller passing per-call tuning is never no-op'd without notice.
        runtime = {**rocks_conf, **(extra_conf or {})}
        if shuffle_partitions is not None:
            runtime["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
        for key, val in runtime.items():
            try:
                active.conf.set(key, val)
            except Exception:  # noqa: BLE001 — static conf on a live session
                warnings.warn(
                    f"SparkSession already exists; static conf {key!r} not applied",
                    stacklevel=2,
                )
        return active
    _ensure_driver_memory()
    _ensure_worker_path()
    master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    if master.startswith("local"):
        builder = builder.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(2**31 - 1),
        )
    # Local-mode shuffle files on tmpfs: the VM's block device makes the
    # many tiny shuffle files of local[32] disproportionately expensive
    # (measured ~3x on shuffle-heavy ops). On a real cluster SPARK_LOCAL_DIRS
    # is set by the deployment and this branch never fires.
    if "SPARK_LOCAL_DIRS" not in os.environ and os.path.isdir("/dev/shm"):
        shuffle_dir = "/dev/shm/spark-local"
        os.makedirs(shuffle_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", shuffle_dir)
    builder = (
        builder
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffledHashJoinFactor", "3")
    )
    for key, val in {**rocks_conf, **(extra_conf or {})}.items():
        builder = builder.config(key, val)
    return builder.getOrCreate()
