"""DataFrame drivers for the locate family.

* :func:`locate_cells_df` — per-table char-alignment fan-out
  (``locate_table``, scripts/process_pubmed.py:490-569) as an
  ``applyInPandas`` kernel: each (doc, table) group carries the page's
  words and the table's cells; output is one row per cell with its
  anchored hull (nulls when nothing anchored).  The DP alignment is
  inherently per-document sequential — Spark parallelizes across
  documents, which is exactly how the reference's process pool used it
  (one table per worker).
* :func:`locate_caption_df` — same shape for captions
  (``locate_caption``, scripts/process_pubmed.py:572-620), one hull row
  per (doc, table).
* :func:`aggregate_boundaries_df` — ``aggregate_cell_bboxes``
  (scripts/process_pubmed.py:890-1018) as pure column algebra: three
  groupBy min/max passes + broadcast-joined snapping, no Python in the
  loop.  The reference's falsy-0.0 quirk (a stored 0.0 counts as
  unset, so the running min restarts after the last 0.0 in cell order)
  is replicated exactly — see :func:`_quirk_min`; for non-negative
  coordinates the max slots are provably unaffected (a truthy running
  max can never be zeroed), so they stay plain ``max``.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels.locate import locate_caption, locate_table
from ..partitioning import widen_for_cpu

__all__ = [
    "locate_cells_df",
    "locate_caption_df",
    "aggregate_boundaries_df",
]

LOCATED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("table_num", T.IntegerType()),
    T.StructField("cell_num", T.IntegerType()),
    T.StructField("row_lo", T.IntegerType()),
    T.StructField("row_hi", T.IntegerType()),
    T.StructField("col_lo", T.IntegerType()),
    T.StructField("col_hi", T.IntegerType()),
    T.StructField("x0", T.DoubleType()),
    T.StructField("y0", T.DoubleType()),
    T.StructField("x1", T.DoubleType()),
    T.StructField("y1", T.DoubleType()),
])


def _locate_rows(batches):
    """Row-wise locate kernel: every input ROW is a complete table
    (its words + cells ride the row as arrays), so this is a
    ``mapInPandas`` pass — the former groupBy/applyInPandas added a
    shuffle, a per-partition sort and one Arrow batch per table for a
    grouping the rows already had (r6 plan audit)."""
    for pdf in batches:
        rows = []
        for rec in pdf.itertuples(index=False):
            words = [{"text": w["text"],
                      "bbox": [w["x0"], w["y0"], w["x1"], w["y1"]]}
                     for w in rec.words]
            cells = [{"xml_text_content": c["text"],
                      "row_nums": list(c["row_nums"]),
                      "column_nums": list(c["column_nums"])}
                     for c in rec.cells]
            cell_bboxes, _ = locate_table(words, cells)
            for i, c in enumerate(cells):
                bbox = (cell_bboxes or {}).get(i)
                rows.append({
                    "doc_id": rec.doc_id, "table_num": int(rec.table_num),
                    "cell_num": i,
                    "row_lo": min(c["row_nums"]),
                    "row_hi": max(c["row_nums"]),
                    "col_lo": min(c["column_nums"]),
                    "col_hi": max(c["column_nums"]),
                    "x0": bbox[0] if bbox else None,
                    "y0": bbox[1] if bbox else None,
                    "x1": bbox[2] if bbox else None,
                    "y1": bbox[3] if bbox else None,
                })
        out = pd.DataFrame(rows)
        if out.empty:
            out = pd.DataFrame({f.name: pd.Series(dtype=object)
                                for f in LOCATED_SCHEMA})
        yield out


def locate_cells_df(tables_with_words: DataFrame) -> DataFrame:
    """(doc_id, table_num, words, cells) → one located row per cell.

    *words*: ``array<struct<text,x0,y0,x1,y1>>`` in reading order;
    *cells*: ``array<struct<text,row_nums,column_nums>>``.
    """
    return (widen_for_cpu(tables_with_words, "doc_id", "table_num")
            .select("doc_id", "table_num", "words", "cells")
            .mapInPandas(_locate_rows, schema=LOCATED_SCHEMA))


CAPTION_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_inliers", T.IntegerType()),
    T.StructField("x0", T.DoubleType()),
    T.StructField("y0", T.DoubleType()),
    T.StructField("x1", T.DoubleType()),
    T.StructField("y1", T.DoubleType()),
])


def _caption_rows(batches):
    """Row-wise caption kernel — same rationale as :func:`_locate_rows`."""
    for pdf in batches:
        rows = []
        for rec in pdf.itertuples(index=False):
            words = [{"text": w["text"],
                      "bbox": [w["x0"], w["y0"], w["x1"], w["y1"]]}
                     for w in rec.words]
            bbox, inliers = locate_caption(words, rec.caption)
            rows.append({
                "doc_id": rec.doc_id, "n_inliers": len(inliers),
                "x0": bbox[0] if bbox else None,
                "y0": bbox[1] if bbox else None,
                "x1": bbox[2] if bbox else None,
                "y1": bbox[3] if bbox else None,
            })
        out = pd.DataFrame(rows)
        if out.empty:
            out = pd.DataFrame({f.name: pd.Series(dtype=object)
                                for f in CAPTION_SCHEMA})
        yield out


def locate_caption_df(pages_with_captions: DataFrame) -> DataFrame:
    """(doc_id, words, caption) → one hull row per doc."""
    return (widen_for_cpu(pages_with_captions, "doc_id")
            .select("doc_id", "words", "caption")
            .mapInPandas(_caption_rows, schema=CAPTION_SCHEMA))


def _quirk_min(with_bbox: DataFrame, keys, idx_col: str,
               val_col: str) -> DataFrame:
    """The reference's falsy-guarded running min (``_grow``,
    scripts/process_pubmed.py:905-907 semantics): a stored 0.0 counts
    as unset, so the next value *replaces* it instead of minimizing.
    Order-independent form (values ≥ 0, iterated in cell_num order):
    the result is the min of the values AFTER the last 0.0 — or 0.0
    itself when the zero is final.  One window + one aggregation, both
    on the same (keys, idx) partitioning → a single shuffle, same as
    the plain groupBy it replaces."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys, idx_col)
    tagged = with_bbox.withColumn(
        "_z", F.max(F.when(F.col(val_col) == 0.0,
                           F.col("cell_num"))).over(w))
    return (tagged.groupBy(*keys, F.col(idx_col).alias("idx"))
            .agg(F.when(F.max("_z").isNull(), F.min(val_col))
                 .otherwise(F.coalesce(
                     F.min(F.when(F.col("cell_num") > F.col("_z"),
                                  F.col(val_col))),
                     F.lit(0.0)))
                 .alias(val_col)))


def aggregate_boundaries_df(located: DataFrame) -> DataFrame:
    """Located cells → per-row/per-column boundary boxes, snapped to the
    table extent (non-rotated path of ``aggregate_cell_bboxes``).

    Input: :data:`LOCATED_SCHEMA` rows.  Output: one row per boundary —
    (doc_id, table_num, kind 'row'|'col', idx, x0, y0, x1, y1).
    Three shuffles on (doc_id, table_num[, idx]) — each a partial-agg
    min/max, so the plan is a map-side-combined scan at any scale.
    """
    keys = ["doc_id", "table_num"]
    # six consumers (boundary universe, table extent, row top/bottom,
    # col left/right) — materialize once so an expensive upstream (the
    # DP-alignment kernel) isn't recomputed per consumer; at warehouse
    # scale this is "write the located-cells table once, aggregate from
    # it".  localCheckpoint rather than persist: the blocks are freed
    # by the ContextCleaner when the result goes out of scope, while a
    # CacheManager registration would live for the whole session.
    located = located.localCheckpoint(eager=False)
    with_bbox = located.filter(F.col("x0").isNotNull())
    table_bb = (with_bbox.groupBy(*keys)
                .agg(F.min("x0").alias("tx0"), F.min("y0").alias("ty0"),
                     F.max("x1").alias("tx1"), F.max("y1").alias("ty1")))
    # boundary universe from ALL cells (kernel parity: rows/cols
    # touched only by bbox-less cells still get a boundary row, with
    # null free coordinates and snapped table-extent coordinates)
    row_idx = (located.select(*keys, F.col("row_lo").alias("idx"))
               .unionByName(located.select(*keys,
                                           F.col("row_hi").alias("idx")))
               .distinct())
    col_idx = (located.select(*keys, F.col("col_lo").alias("idx"))
               .unionByName(located.select(*keys,
                                           F.col("col_hi").alias("idx")))
               .distinct())
    # a row's top comes from cells whose min-row it is; bottom from
    # cells whose max-row it is (reference lines 950-963)
    row_top = _quirk_min(with_bbox, keys, "row_lo", "y0")
    row_bot = (with_bbox.groupBy(*keys, F.col("row_hi").alias("idx"))
               .agg(F.max("y1").alias("y1")))
    rows = (row_idx.join(row_top, keys + ["idx"], "left")
            .join(row_bot, keys + ["idx"], "left")
            .join(table_bb, keys)
            .select(*keys, F.lit("row").alias("kind"), "idx",
                    F.col("tx0").alias("x0"), "y0",
                    F.col("tx1").alias("x1"), "y1"))
    col_left = _quirk_min(with_bbox, keys, "col_lo", "x0")
    col_right = (with_bbox.groupBy(*keys, F.col("col_hi").alias("idx"))
                 .agg(F.max("x1").alias("x1")))
    cols = (col_idx.join(col_left, keys + ["idx"], "left")
            .join(col_right, keys + ["idx"], "left")
            .join(table_bb, keys)
            .select(*keys, F.lit("col").alias("kind"), "idx",
                    "x0", F.col("ty0").alias("y0"),
                    "x1", F.col("ty1").alias("y1")))
    return rows.unionByName(cols)
