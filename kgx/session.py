"""SparkSession factory: Arrow on, AQE on, UTC, seedable shuffle sizing.

Scale posture (SURVEY.md §4): AQE handles runtime coalescing and skew-join
splitting; Arrow batches feed every pandas UDF; shuffle partitions default to a
multiple of cores locally and should be set to ~2-3x total executor cores on a
real cluster. Iceberg catalog wiring would be added here (`spark.sql.catalog.*`)
— the jar is not on this sandbox classpath, so the table layer lives in
kgx.checkpoint with the same commit semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


ROCKSDB_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def get_spark(
    master: str | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "kgx",
    extra_conf: dict[str, str] | None = None,
    rocksdb_state_store: bool = False,
) -> SparkSession:
    """``rocksdb_state_store=True`` switches streaming state to the RocksDB
    provider — the web-scale requirement for unbounded keyed state
    (first_seen_by_content with ttl=None holds one entry per distinct
    content ever seen; the default HDFS-backed provider keeps that on the
    executor HEAP, RocksDB spills it to local disk). Runtime-settable too:
    the provider is read per streaming query, so
    ``spark.conf.set("spark.sql.streaming.stateStore.providerClass",
    ROCKSDB_STATE_PROVIDER)`` before ``start()`` has the same effect on an
    existing session."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            n = os.cpu_count() if inner == "*" else int(inner)
        else:
            n = int(cpus) if cpus else (os.cpu_count() or 8)
        shuffle_partitions = max(8, 2 * int(n))
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst=true (the default) pins post-shuffle partition count
        # to the parallelism even for KB-sized shuffles — dozens of near-empty
        # tasks per stage; with many small stages that overhead scales WITH
        # cores and inverted our 8->32 speedup. Size-based coalescing instead.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # Post-shuffle partition target (round 7): at 32m a typical mid-size
        # exchange here (tens of MB — band rows, window inputs) coalesced to
        # 1-2 partitions and the whole downstream stage ran on 1-2 of 32
        # cores; 8m keeps those stages wide while still coalescing KB-sized
        # shuffles to a handful of tasks. Scale-dependent, so env-tunable:
        # on a real cluster set KGX_ADVISORY_PARTITION_SIZE=256m — with
        # TB-sized exchanges the guide's 100MB-1GB partition guidance wins
        # and the local default would produce block-count bloat (see
        # OPTIMIZATION_r07.md for the measured local sweep).
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("KGX_ADVISORY_PARTITION_SIZE", "8m"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Prefer shuffled-hash over sort-merge when the planner can size the
        # build side (round 7: measured faster on every probe-side-heavy
        # equi-join in the bench — no sort of the big side; graceful because
        # AQE skew handling still applies and build sides here are bounded).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # large html blobs: keep Arrow batches bounded (SURVEY.md §2.11)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("KGX_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.io.tmpdir=/tmp")
    )
    if rocksdb_state_store:
        b = b.config(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_STATE_PROVIDER
        )
    conf = dict(extra_conf or {})
    # the Python workers import kgx to run its UDFs, but they inherit the
    # environment, not the driver's sys.path: without the package's parent
    # on their PYTHONPATH an entry point works only from the repository root
    key = "spark.executorEnv.PYTHONPATH"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [root, *conf.get(key, "").split(os.pathsep)]
    conf[key] = os.pathsep.join(dict.fromkeys(p for p in paths if p))
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()
