"""SparkSession construction tuned for the record-linkage workload.

Design notes (scale-first):
- AQE on: runtime coalescing + skew-join splitting complements our explicit
  hot-key salting (SURVEY.md §4 "Salting / skew handling").
- Arrow on: every string-similarity kernel runs as a batched Arrow UDF
  (functions.similarity), never row-at-a-time Python.
- Driver heap: in local mode the driver JVM hosts every executor, so its
  default is derived from the machine (40% of physical RAM, capped at
  16g); SPARK_GRAFT_DRIVER_MEM overrides it.
- shuffle.partitions defaults to 32 locally; on a real cluster pass
  ~5x total cores (reference guidance:
  /root/reference/docs/topic_guides/performance/optimising_spark.md:17-21).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """min(16g, 40% of physical RAM) in whole GiB, at least 1g. A fixed 16g
    heap outgrows a 15 GiB machine once the Python workers take their
    share, and the JVM is then killed rather than made to spill."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, min(16, int(0.4 * phys / 2**30)))}g"


def get_spark(
    app_name: str = "memory-optimized-splink-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # NOTE: spark.default.parallelism is deliberately NOT set. Sizing
        # heuristics across the repo (star-round partitioning, pandas-UDF
        # fan-out, bench input layout) read sc.defaultParallelism as "total
        # cores"; an earlier override to shuffle_partitions silently turned
        # every such floor into the pair-table-sized session setting (e.g.
        # CC star rounds ran at 1024 reducers instead of the edge-sized ~86
        # in the 63.8M-edge runs). RDD-API code paths that would consume
        # spark.default.parallelism are absent here (DataFrame-first).
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or _default_driver_memory())
        # single-JVM local mode: heartbeats share the driver's RPC loop, so
        # long GC pauses / CPU oversubscription can fake a "dead executor".
        # Raise via env for very large local runs (no remote failure to
        # detect); leave the defaults for clusters.
        .config("spark.network.timeout",
                os.environ.get("SPARK_GRAFT_NETWORK_TIMEOUT", "120s"))
        .config("spark.executor.heartbeatInterval",
                os.environ.get("SPARK_GRAFT_HEARTBEAT_INTERVAL", "10s"))
        # Shuffle-IO syscall amortization: fewer, larger read/write
        # syscalls per shuffle file. Matters when the block device's
        # per-syscall cost spikes (observed on this sandbox's virtio disk:
        # executor threads pinned in FileChannel read/write at ~95% system
        # time); on a healthy SSD it's neutral. file.buffer stays modest
        # and lz4.blockSize stays at its default on purpose: both are
        # allocated per DiskBlockObjectWriter open, and a wide shuffle
        # opens many per task — raising lz4.blockSize to 512k measurably
        # stalled a 4500-map x 1024-reducer stage in pure buffer
        # allocation on a full heap.
        .config("spark.shuffle.file.buffer", "128k")
        .config("spark.shuffle.localDisk.file.output.buffer", "1m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # Shuffle/spill scratch location. On this sandbox, pointing it at
    # tmpfs (/dev/shm) bypasses the virtio block device entirely — the
    # diagnostic that separates "our plan is slow" from "the host's disk
    # backend is in a contention storm". Never defaulted to tmpfs: spill
    # capacity there is RAM, which the 0.5B-pair runs would exhaust.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if checkpoint_dir is None:
        checkpoint_dir = os.environ.get("SPARK_GRAFT_CKPT", "/tmp/spark_graft_ckpt")
    spark.sparkContext.setCheckpointDir(checkpoint_dir)
    spark.sparkContext.setLogLevel("WARN")
    return spark
