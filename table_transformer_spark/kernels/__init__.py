"""Deterministic kernels that run inside the Arrow-batched pandas stages
(the fused ``mapInPandas`` page kernel and the one-row-per-table
``mapInPandas`` kernels driven by ``partitioning.map_rows``)."""
