"""table_transformer_spark — a PySpark-native table-extraction analytics
engine with the query/data-processing capabilities of
microsoft/table-transformer (TATR), rebuilt Spark-first.

Layers:

* :mod:`~table_transformer_spark.geometry` — box algebra (fitz.Rect
  semantics) as scalar functions and numpy batch kernels.
* :mod:`~table_transformer_spark.kernels` — deterministic kernels
  (structure canonicalization, GriTS, text assembly) that run inside
  the Arrow-batched pandas stages; structure canonicalization runs once
  per batch over all of its tables.
* :mod:`~table_transformer_spark.operators` — DataFrame-native operator
  algebra (iob theta-joins, argmax slotting windows, dedup, similarity
  search, text analysis) — the scalable path.
* :mod:`~table_transformer_spark.pipeline` — end-to-end extraction job
  (documents → tokens/objects → cells → ordered spans) with
  checkpointed, resumable partitions.
* :mod:`~table_transformer_spark.eval` — distributed GriTS / DAR
  evaluation.
* :mod:`~table_transformer_spark.fixtures` — deterministic synthetic
  corpus generator matching the BASELINE input contract.
"""

__version__ = "0.1.0"
