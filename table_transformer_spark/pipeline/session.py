"""SparkSession factory with scale-aware defaults.

Local mode is a correctness proxy for the real cluster: shuffle
partitions sized to cores, AQE on (post-shuffle coalescing + skew-join
splitting — the north rule's skew handling at runtime), Arrow enabled
for every pandas-kernel boundary.  Cores and driver memory default to
what the host has (:func:`host_defaults`).
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import SparkSession

# the largest driver heap a default picks, however big the host
MAX_DRIVER_MB = 24 * 1024


def host_defaults(environ: Mapping[str, str], n_cpus: int,
                  phys_bytes: int) -> tuple[int, str]:
    """``(cores, spark.driver.memory)`` for a host with *n_cpus* usable
    CPUs and *phys_bytes* of physical memory: ``SPARK_GRAFT_CPUS`` /
    ``SPARK_GRAFT_DRIVER_MEM`` when set, else every usable CPU and half
    of physical memory (at most ``MAX_DRIVER_MB``), since in local mode
    the driver heap also holds every executor task."""
    cores = int(environ.get("SPARK_GRAFT_CPUS", n_cpus))
    memory = environ.get("SPARK_GRAFT_DRIVER_MEM")
    if memory is None:
        memory = f"{min(phys_bytes // 2**21, MAX_DRIVER_MB)}m"
    return cores, memory


def get_spark(app_name: str = "table_transformer_spark",
              cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    default_cores, driver_memory = host_defaults(
        os.environ, len(os.sched_getaffinity(0)),
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))
    if cores is None:
        cores = default_cores
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
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
