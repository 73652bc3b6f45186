"""SparkSession factory tuned for this engine.

Local test/bench runs use ``local[N]`` (one JVM); the configuration is
chosen so the same code scales to a multi-executor cluster: AQE for
runtime re-planning (partition coalescing, skew-join splitting),
modest shuffle partitioning sized by the env, Arrow for any
pandas-UDF path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pagerank_using_mapreduce_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    if warehouse_dir is None:
        # keep managed tables (bucketed writes) out of the repo/cwd
        warehouse_dir = os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # guide §3.1: let AQE rewrite SMJ -> SHJ at runtime when every
        # post-shuffle partition is below the threshold.  This gates
        # on ACTUAL post-shuffle partition sizes; the r11 experiment
        # that ALSO set preferSortMergeJoin=false session-wide was
        # reverted in r12 — the static planner picks SHJ from catalyst
        # size ESTIMATES, so a mis-estimated or skewed build side
        # builds an unspillable per-partition hash map with no
        # sort-merge fallback (executor OOM risk at cluster scale),
        # and the r11 A/B measured no win from it (0.97x, in-noise)
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "64m",
        )
        # guide §6: zstd beats snappy at similar read speed for
        # anything this engine writes (roundtrip stages, index parquet)
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # events.parquet stores TIMESTAMP(NANOS), which the vectorized
        # reader rejects; read as long and convert in sources.tables.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.driver.memory",
            driver_memory
            or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        .config("spark.sql.warehouse.dir", warehouse_dir)
        # reliable loop checkpoints (scale.truncate_lineage on a session
        # with spark.checkpoint.dir set) are deleted once their RDD is
        # garbage-collected instead of accumulating until the dir is wiped
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
