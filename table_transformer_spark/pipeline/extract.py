"""End-to-end extraction job: documents ⟶ ordered output spans.

One declarative plan, shuffles only where data must move:

1. explode ``documents.spans`` → media spans; join the ``media`` binary
   table on ``media_ref`` (both sides huge at 10^12 scale → shuffle
   hash/sort-merge join on the join key; at test scale AQE may pick a
   broadcast).
2. decode → detect → crop + token-assign → recognize → cells kernel,
   fused into one Arrow-batched ``mapInPandas`` pass per page
   (``fused.py``) — **no shuffle** inside it.
3. reassemble per document: original text spans ∪ cell spans, ordered by
   (page_offset, table_num, cell_num) and renumbered with one window
   partitioned by ``doc_id`` — the only other shuffle in the job.

The north-rule invariant is the output of step 3: span-sequence equality
``(kind, text, media_ref, offset)`` per doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..partitioning import widen_for_cpu
from .fused import run_cells_fused


def media_spans(documents: DataFrame) -> DataFrame:
    """(doc_id, media_ref, page_offset) — one row per media span."""
    span = F.explode("spans").alias("span")
    return (documents
            .select("doc_id", span)
            .filter(F.col("span.kind") == "media")
            .select("doc_id",
                    F.col("span.media_ref").alias("media_ref"),
                    F.col("span.offset").alias("page_offset")))


def run_cells(documents: DataFrame, media: DataFrame,
              mode: str = "clean") -> DataFrame:
    """documents × media → one row per extracted cell (CELL_SCHEMA):
    decode→detect→crop→recognize→cells as one Arrow pass per page."""
    pages = (media_spans(documents)
             .join(media.select("media_ref", "payload"), "media_ref")
             .select("doc_id", "media_ref", "page_offset", "payload"))
    # Explicit parallelism for the CPU-bound kernel stage (shared
    # policy: partitioning.widen_for_cpu — AQE's byte-based coalescing
    # would serialize this small-bytes/high-compute Python stage).
    # r6 note: pinning the width on BOTH join inputs instead (so the
    # join reuses the partitioning and the payload crosses one fewer
    # exchange — the guide-§8 shape for two huge sides) was built and
    # A/B-measured: at bench scale the media side broadcasts, so the
    # pre-partitioned variant only ADDED two exchanges and a sort
    # (median 3.76s vs 3.28s over 5 alternating reps at 8000 docs) —
    # reverted; at true scale the pre-partitioned join is one
    # `widen_for_cpu` on each side away.
    pages = widen_for_cpu(pages, "media_ref")
    return run_cells_fused(pages, mode=mode)


def assemble_spans(documents: DataFrame, cells: DataFrame) -> DataFrame:
    """Merge pass-through text spans with extracted cell spans into the
    final ordered (kind, text, media_ref, offset) sequence per doc."""
    span = F.explode("spans").alias("span")
    text_spans = (documents
                  .select("doc_id", span)
                  .filter(F.col("span.kind") == "text")
                  .select("doc_id",
                          F.lit("text").alias("kind"),
                          F.col("span.text").alias("text"),
                          F.lit("").alias("media_ref"),
                          F.col("span.offset").alias("sort_page"),
                          F.lit(-1).alias("sort_table"),
                          F.lit(-1).alias("sort_cell")))

    cell_spans = (cells
                  .filter(F.length("cell_text") > 0)
                  .select("doc_id",
                          F.lit("cell").alias("kind"),
                          F.col("cell_text").alias("text"),
                          "media_ref",
                          F.col("page_offset").alias("sort_page"),
                          F.col("table_num").alias("sort_table"),
                          F.col("cell_num").alias("sort_cell")))

    w = Window.partitionBy("doc_id").orderBy("sort_page", "sort_table",
                                             "sort_cell")
    return (text_spans.unionByName(cell_spans)
            .withColumn("offset", (F.row_number().over(w) - 1).cast("int"))
            .select("doc_id", "kind", "text", "media_ref", "offset"))


def extract(documents: DataFrame, media: DataFrame,
            mode: str = "clean") -> DataFrame:
    """The flagship query: OUTPUT_SPANS_SCHEMA rows, one per output span."""
    cells = run_cells(documents, media, mode=mode)
    return assemble_spans(documents, cells)
