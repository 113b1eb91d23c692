"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what a cluster deployment would set per
executor: shuffle partitions ~ cores, AQE on (runtime coalesce +
skew-join splitting), Arrow enabled for the few pandas-UDF paths,
UTC session timezone so results compare bit-for-bit against the
DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "open_bus_gtfs_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback
    ``local[*]``). On a real cluster, pass ``master=None`` and let
    spark-submit own it — every setting here is safe cluster-side too.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    # Under spark-submit the JVM gateway already exists and carries
    # --master (PYSPARK_GATEWAY_PORT is how PythonRunner hands it to
    # us): forcing a local[..] default here would OVERRIDE the submit
    # line and silently run a cluster job local on the driver node.
    # The local[..] fallback is only for plain `python script.py`.
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not under_submit:
        master = f"local[{cpus}]" if cpus else "local[*]"
    # same deference for shuffle partitions: a builder-set value beats
    # the submit line, so under spark-submit the caller's --conf (or
    # cluster defaults) must win unless the API caller chose explicitly
    if shuffle_partitions is None and not under_submit:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    builder = (
        builder
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # the merge kernel's argmax join-back (operators/dedup.py) joins
        # the full-payload batch against the deduped winner keys — a
        # frame of keys+longs that is MUCH smaller than the payload.
        # With the 10 MB default the join is a sort-merge that shuffles
        # the whole ~KB-per-row payload; letting AQE broadcast the
        # winner keys (runtime-sized, so genuinely-large winner sets
        # still fall back to shuffle) removes the batch's dominant
        # shuffle. 128 MB ≈ 2-3M winner keys.
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            os.environ.get("SPARK_GRAFT_BCAST", "134217728"),
        )
        # a merge-on-read scan passes one path per bucket base and one
        # per bucket delta (32 buckets at delta depth 3: up to 128
        # paths). Above this threshold (default 32) Spark lists the
        # paths with a distributed job, one task per path, before every
        # scan. The lake commits with os.replace + fsync on a POSIX
        # filesystem, which the driver lists itself far faster: on a
        # 4-core VM (local[1]), 96 dirs took 0.1 s on the driver and
        # 1.6 s through the job, and each further dir adds ~0.4 ms.
        # 8192 = 1024 buckets (the largest layout the lake describes) x
        # (1 base + 7 deltas); compact(max_deltas=4) keeps depth <= 5.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "8192")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # syscalls are expensive in sandboxed/virtualized kernels and in
        # local mode every shuffle file op is one — bigger buffers cut
        # the syscall count per shuffle block by ~30×
        .config("spark.shuffle.file.buffer", "1m")
        .config("spark.shuffle.localDisk.file.output.buffer", "4m")
        .config("spark.io.compression.lz4.blockSize", "512k")
        .config("spark.reducer.maxSizeInFlight", "96m")
    )
    # Shuffle/spill scratch: buffered writes to the VM root disk cap at
    # ~46 MB/s (slower than O_DIRECT) and serialize all executor threads.
    # On a real cluster this is executor-local NVMe; tmpfs restores that
    # behavior here. Override with SPARK_LOCAL_DIRS if memory-constrained.
    if os.path.isdir("/dev/shm") and "SPARK_LOCAL_DIRS" not in os.environ:
        builder = builder.config("spark.local.dir", "/dev/shm/spark-scratch")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
