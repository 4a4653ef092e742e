"""SparkSession factory with scale-oriented defaults.

Single place where execution knobs live so tests, bench, and the driver
all run the same engine configuration. Defaults are chosen for the
local[32] harness but every choice is the one we'd make on a real
cluster too (AQE, skew handling, partition coalescing, Arrow).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Shuffle partition count: on local[32] match core count; on a real
# cluster AQE coalesces post-shuffle partitions down from this anyway.
_DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "nrt-retail-warehouse") -> SparkSession:
    """Build (or reuse) the configured SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        # Deterministic wall-clock date semantics: testdata timestamps are
        # timezone-naive; pin session tz so year()/month() match DuckDB.
        .config("spark.sql.session.timeZone", "UTC")
        # Adaptive execution: runtime re-plan, skew-join splitting, and
        # post-shuffle partition coalescing — all essential at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", _DEFAULT_SHUFFLE_PARTITIONS)
        # AQE's coalescing floor (default 1m) caps post-shuffle
        # parallelism BY BYTES — wrong for this engine's Arrow-kernel
        # stages, whose cost is compute-dense per byte (int64 matmuls
        # over banded/bucketed groups) and whose intermediates are
        # bounded BY DESIGN at every corpus scale (≤2^bits LSH buckets,
        # ≤Z_FILES envelope groups, fixed query grids). Under the 1m
        # floor those stages coalesce to 1-3 tasks and serialize the
        # kernels — on a 1000-node cluster exactly as on local[32].
        # 64k keeps them parallel while advisoryPartitionSizeInBytes
        # still governs real (large) shuffles. Measured r18 A/B at
        # sf0.1 (interleaved, warm): kernel entries −20..35%
        # (ann_topk_ivfpq 2.02→1.42 s, dedup_minhash_lsh 1.58→1.32 s),
        # SQL-surface entries neutral; see OPTIMIZATION_r18.md.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # Arrow for any pandas interchange (beyond-reference operators).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Dimensions are small; let Catalyst broadcast them (we also mark
        # broadcast() explicitly at join sites).
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
