"""SparkSession factory with scale-aware defaults.

Local mode is a correctness proxy for the real cluster: shuffle
partitions sized to cores, AQE on (post-shuffle coalescing + skew-join
splitting — the north rule's skew handling at runtime), Arrow enabled
for every pandas-kernel boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "table_transformer_spark",
              cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    # make the package importable in executor Python workers regardless
    # of the caller's cwd (local mode: workers inherit the JVM's env,
    # which inherits ours — set before the JVM starts)
    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else ""))

    builder = (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # NOTE: coalescing's bytes-based heuristic under-parallelizes
        # CPU-heavy stages over small compressed shuffle bytes (string
        # shingling, char-DP kernels).  Rather than lower the global
        # minPartitionSize floor (measured -19% on the byte-heavy
        # extraction pipeline), those operators pin their width with an
        # explicit repartition on their grouping keys, which AQE never
        # coalesces (partitioning.widen_for_cpu).
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # large batches amortize Arrow transfer for the kernel stages
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
