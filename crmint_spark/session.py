"""SparkSession factory tuned for the engine.

Defaults target the test harness (local[N]) but every knob is chosen for
cluster scale: AQE handles skew + partition coalescing at runtime, a
generous broadcast threshold keeps dimension joins shuffle-free, and Arrow
makes any unavoidable Python exchange vectorized.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "crmint-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    local[N] for tests; on a real cluster the master/memory settings come
    from spark-submit and these SQL confs still apply. ``extra_conf``
    overrides any setting below (it is applied last).
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 32) if str(cpus).isdigit() else 32

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Adaptive execution: runtime partition coalescing, skew-join
        # splitting, and plan re-optimization — essential at 100 TB where
        # static estimates are wrong.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Dimension tables (region/nation/customer at our SFs, config and
        # conversion-value tables in the reference pipelines) should always
        # broadcast: 64 MB threshold.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow for any pandas UDF / toPandas path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Shuffled hash join allowed when its size conditions hold
        # (guide §3.1): no sort on either side for moderate build
        # sides; the planner's own size guards still apply, and AQE can
        # revert to sort-merge. Clusters that prefer the always-
        # spillable plan set it back through ``extra_conf``.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # FileOutputCommitter v2: tasks move their own output instead
        # of a sequential driver-side rename per partition directory at
        # commit — measured ~10% on the engine's hive-partitioned
        # copy-on-write writes locally, and the standard choice on
        # HDFS-like stores (object stores use their own committers).
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # Compression codecs (A/B in OPTIMIZATION_r11.md, guide §6.4):
        # lz4 for shuffle/broadcast — fastest locally where shuffles are
        # CPU-bound; zstd trades CPU for bytes and wins once shuffle I/O
        # is the bottleneck at cluster scale — and snappy for managed
        # parquet tables for the same reason.
        .config("spark.io.compression.codec", "lz4")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Read reference-style partitioned layouts efficiently.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Partition discovery: list up to N root paths on the driver
        # before falling back to a distributed listing job (Spark
        # default 32). Every DataFrame over an ~80-partition layout
        # table was paying an 80-task listing JOB per creation — the
        # single largest fixed cost of the DML plane at sf0.1 (r12,
        # guide §1/§6). Local directory listing is microseconds; on
        # object-store deployments where driver listing is the
        # bottleneck, lower it back through ``extra_conf``.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        # managed (bucketed) tables live outside the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/crmint_spark_warehouse"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # Timestamps in testdata are ns precision (illegal for Spark's
        # parquet reader): read as int64 nanos, converted to timestamp in
        # catalog.load.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
