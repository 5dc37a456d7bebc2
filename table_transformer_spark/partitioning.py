"""Shared partitioning policies and the row-kernel driver.

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

:func:`map_rows` is the one driver for kernels whose input row is a
complete unit of work: one ``mapInPandas`` pass, no grouping.  It
serves the table kernels (canonicalize, standardize, HTML/CSV export,
cell location, the GriTS metrics of one joined table pair), the
page-location rerank scorer (one table/page candidate pair), the
fixture corpus (one document or its pages per id), the NXML
``<table-wrap>`` and PASCAL VOC scans and the VOC annotation sink.

Two kernel families keep their own batch loop on purpose: the matrix
kernels, which work on a whole batch at once (the four in
``similarity`` and the fused page kernel), and
the tokenizer kernels (``dedup`` shingling and signatures,
``text_analysis`` signals and term frequencies).  Grouped-map kernels
are left only where the unit of work is a group: the IVF per-cell
top-k and the streaming sessionization state function.
"""

from __future__ import annotations

from typing import Callable, Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T


# partitions per core (see module docstring)
WIDEN_FACTOR = 2


def widen_for_cpu(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition on *keys* at ``WIDEN_FACTOR × defaultParallelism``
    ahead of a CPU-bound kernel stage (see module docstring)."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism * WIDEN_FACTOR, *keys)


def map_rows(df: DataFrame, fn: Callable[[tuple], Iterable[dict]],
             schema: T.StructType) -> DataFrame:
    """Run ``fn(rec)`` on every row of *df* in one ``mapInPandas`` pass.

    *rec* is the row as a pandas ``itertuples`` record; ``fn`` returns
    the output rows it produces as dicts keyed by *schema*'s field
    names (other keys are dropped).  Each Arrow batch becomes one
    output frame, typed-empty when the batch produced no rows."""
    def kernel(batches):
        for pdf in batches:
            rows = [out for rec in pdf.itertuples(index=False)
                    for out in fn(rec)]
            yield pd.DataFrame(rows, columns=schema.names)

    return df.mapInPandas(kernel, schema=schema)
