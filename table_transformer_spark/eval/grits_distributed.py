"""Distributed GriTS evaluation: one metric-kernel call per table pair.

The reference fans eval out with a ``multiprocessing.Pool``, one table
pair per task (``src/eval.py:646-654``); here Spark *is* the pool.
Each side is one row per table, the two are full-outer-joined on the
table key, and the metric kernel (``compute_metrics``,
src/eval.py:266-331) runs once per joined row through
``partitioning.map_rows``.  The rollup (``compute_metrics_summary``,
src/eval.py:394-423) is a plain slice-aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels.adjacency import (
    adjacency_pairs,
    adjacency_pairs_with_blanks,
    dar_con,
)
from ..kernels.grits import grits_con, grits_loc, grits_top
from ..partitioning import map_rows, widen_for_cpu

TABLE_KEY = ["doc_id", "media_ref", "table_num"]

METRICS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("table_num", T.IntegerType()),
    T.StructField("grits_top", T.DoubleType()),
    T.StructField("grits_top_upper_bound", T.DoubleType()),
    T.StructField("grits_loc", T.DoubleType()),
    T.StructField("grits_con", T.DoubleType()),
    T.StructField("acc_con", T.IntegerType()),
    T.StructField("dar_con_original", T.DoubleType()),
    T.StructField("dar_con", T.DoubleType()),
    T.StructField("num_true_cells", T.IntegerType()),
    T.StructField("num_pred_cells", T.IntegerType()),
    T.StructField("num_spanning_true", T.IntegerType()),
])


def _cells(cells) -> list[dict]:
    if cells is None:  # table missing from this side of the outer join
        return []
    return [{"bbox": list(c["bbox"]),
             "row_nums": list(c["row_nums"]),
             "column_nums": list(c["column_nums"]),
             "cell_text": c["cell_text"]} for c in cells]


def _table_metrics(rec) -> list[dict]:
    true_cells = _cells(rec.true_cells)
    pred_cells = _cells(rec.pred_cells)

    top_f, _, _, top_ub = grits_top(true_cells, pred_cells)
    loc_f, _, _, _ = grits_loc(true_cells, pred_cells)
    con_f, _, _, _ = grits_con(true_cells, pred_cells)
    _, _, dar_orig = dar_con(adjacency_pairs(true_cells),
                             adjacency_pairs(pred_cells))
    _, _, dar_new = dar_con(adjacency_pairs_with_blanks(true_cells),
                            adjacency_pairs_with_blanks(pred_cells))
    n_span = sum(1 for c in true_cells
                 if len(c["row_nums"]) > 1 or len(c["column_nums"]) > 1)

    return [{
        "doc_id": rec.doc_id, "media_ref": rec.media_ref,
        "table_num": int(rec.table_num),
        "grits_top": float(top_f),
        "grits_top_upper_bound": float(top_ub),
        "grits_loc": float(loc_f),
        "grits_con": float(con_f),
        "acc_con": int(con_f == 1),
        "dar_con_original": float(dar_orig),
        "dar_con": float(dar_new),
        "num_true_cells": len(true_cells),
        "num_pred_cells": len(pred_cells),
        "num_spanning_true": n_span,
    }]


def grits_table_metrics(true_tables: DataFrame,
                        pred_tables: DataFrame) -> DataFrame:
    """Per-table GriTS/DAR metrics from one row per table on each side,
    (doc_id, media_ref, table_num, cells array<struct<bbox, row_nums,
    column_nums, cell_text>>) as ``extract.run_tables`` emits.  Tables
    present on only one side still produce a row (empty-side F-score
    conventions apply).  Explicit widen on both sides: the DP kernels
    are CPU-bound on tiny rows, and the join reuses the partitioning."""
    def side(tables: DataFrame, cells: str) -> DataFrame:
        return widen_for_cpu(
            tables.select(*TABLE_KEY, F.col("cells").alias(cells)),
            *TABLE_KEY)

    joined = side(true_tables, "true_cells").join(
        side(pred_tables, "pred_cells"), TABLE_KEY, "full_outer")
    return map_rows(joined, _table_metrics, METRICS_SCHEMA)


def grits_summary(metrics: DataFrame) -> DataFrame:
    """simple/complex/all rollup (compute_metrics_summary,
    src/eval.py:394-423): simple = no spanning cells in truth."""
    sliced = metrics.withColumn(
        "slice",
        F.when(F.col("num_spanning_true") == 0, "simple")
        .otherwise("complex"))
    aggs = [F.round(F.avg(c), 6).alias(f"avg_{c}")
            for c in ("grits_top", "grits_loc", "grits_con",
                      "acc_con", "dar_con")]
    per_slice = sliced.groupBy("slice").agg(
        F.count(F.lit(1)).alias("n_tables"), *aggs)
    overall = sliced.groupBy(F.lit("all").alias("slice")).agg(
        F.count(F.lit(1)).alias("n_tables"), *aggs)
    return per_slice.unionByName(overall).orderBy("slice")
