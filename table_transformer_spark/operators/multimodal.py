"""Multimodal column operator: typed metadata over an opaque ``binary``
payload column, computed without decoding the payload (pure column
algebra, so Catalyst can prune and push it down like any projection).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["media_metadata"]


def media_metadata(media: DataFrame) -> DataFrame:
    """Cheap metadata without decoding: byte size + content digest —
    pure column algebra, pushdown-friendly."""
    return media.select(
        "media_ref",
        F.length("payload").cast("long").alias("n_bytes"),
        F.sha2("payload", 256).alias("digest"))
