"""Per-table structure statistics (``compute_statistics``,
src/eval.py:334-357) as native DataFrame aggregation.

Counts (rows/columns/cells/spanning cells/header rows) and the
coefficient of variation of row heights and column widths.  Row/column
extents are recovered from single-span cells (after bbox dilation a
single-row cell's y-extent *is* its row's), deduplicated per row/column
before the CV so each row counts once, matching the reference loop over
``structures['rows']``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .grits_distributed import TABLE_KEY


def _cv_agg(value_col: str):
    """stddev/mean, 0 when fewer than 2 samples (reference convention,
    src/eval.py:346-355)."""
    return F.when(F.count(value_col) >= 2,
                  F.round(F.stddev_samp(value_col) / F.avg(value_col), 6)) \
            .otherwise(F.lit(0.0))


def table_statistics(cells: DataFrame) -> DataFrame:
    counts = cells.groupBy(*TABLE_KEY).agg(
        F.count(F.lit(1)).alias("num_cells"),
        F.sum(((F.size("row_nums") > 1) | (F.size("column_nums") > 1))
              .cast("long")).alias("num_spanning_cells"),
        (F.max(F.element_at("row_nums", -1)) + 1).alias("num_rows"),
        (F.max(F.element_at("column_nums", -1)) + 1).alias("num_columns"),
        F.size(F.array_distinct(F.flatten(F.collect_list(
            F.when(F.col("is_column_header"), F.col("row_nums"))
            .otherwise(F.array()))))).alias("num_header_rows"))

    row_heights = (cells.filter(F.size("row_nums") == 1)
                   .groupBy(*TABLE_KEY,
                            F.element_at("row_nums", 1).alias("row"))
                   .agg(F.max(F.col("bbox")[3] - F.col("bbox")[1])
                        .alias("height")))
    row_cv = row_heights.groupBy(*TABLE_KEY).agg(
        _cv_agg("height").alias("row_height_cv"))

    col_widths = (cells.filter(F.size("column_nums") == 1)
                  .groupBy(*TABLE_KEY,
                           F.element_at("column_nums", 1).alias("col"))
                  .agg(F.max(F.col("bbox")[2] - F.col("bbox")[0])
                       .alias("width")))
    col_cv = col_widths.groupBy(*TABLE_KEY).agg(
        _cv_agg("width").alias("column_width_cv"))

    return (counts.join(row_cv, TABLE_KEY, "left")
            .join(col_cv, TABLE_KEY, "left")
            .fillna(0.0, ["row_height_cv", "column_width_cv"]))
