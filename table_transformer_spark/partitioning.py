"""Shared partitioning policies.

One place for the explicit-width rule used before every CPU-heavy
Python/Arrow kernel stage: AQE's byte-based post-shuffle coalescing
sizes partitions by shuffle BYTES and cannot see per-row CPU, so a
small-bytes / high-compute stage (char-DP alignment, shingling,
signature hashing, page decode) collapses to a handful of tasks and
serializes the worker pool.  An explicit ``repartition(n, keys)`` is
never coalesced by AQE, and a downstream groupBy on the same keys
reuses the partitioning without a second shuffle.

2× cores is the default width: it keeps every worker busy under
per-key cost variance (skewed pages, long documents) without drowning
the scheduler in micro-tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


# partitions per core (see module docstring)
WIDEN_FACTOR = 2


def widen_for_cpu(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition on *keys* at ``WIDEN_FACTOR × defaultParallelism``
    ahead of a CPU-bound kernel stage (see module docstring)."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism * WIDEN_FACTOR, *keys)
