"""DataFrame driver for the corpus-canonicalization kernel family.

Runs the FinTabNet ETL chain (annotate projected row headers → remove
empty rows/columns → merge fully-spanned rows/columns → header rules →
blank-absorption canonicalization) per table, emitting canonical cells
plus the reject/fix provenance lists that feed the status table
(``scripts/process_fintabnet.py:1241-1249`` pipeline order, minus the
PDF-text fixpoint which needs real PDFs), and the PubMed standardize
chain.  Each input row is one table with its cells as an array column,
so both run as a single ``mapInPandas`` pass (``partitioning.map_rows``)
with no grouping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..kernels.canonicalize import (
    annotate_projected_row_headers,
    canonicalize,
    correct_header,
    merge_columns,
    merge_rows,
    remove_empty_columns,
    remove_empty_rows,
    standardize_and_fix_xml_annotation,
)
from ..partitioning import map_rows, widen_for_cpu

CANONICAL_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("table_num", T.IntegerType()),
    T.StructField("cell_num", T.IntegerType()),
    T.StructField("row_nums", T.ArrayType(T.IntegerType())),
    T.StructField("column_nums", T.ArrayType(T.IntegerType())),
    T.StructField("cell_text", T.StringType()),
    T.StructField("is_column_header", T.BooleanType()),
    T.StructField("is_projected_row_header", T.BooleanType()),
    T.StructField("reject", T.ArrayType(T.StringType())),
    T.StructField("fix", T.ArrayType(T.StringType())),
])


def _cell_order(c):
    """Output cell order: (min row, min col), ties broken by the whole
    cell so that ``cell_num`` does not depend on the input order."""
    return (min(c["row_nums"], default=0), min(c["column_nums"], default=0),
            sorted(c["row_nums"]), sorted(c["column_nums"]), c["text"])


def _canonicalize_table(rec) -> list[dict]:
    cells = [{
        "row_nums": sorted(c["row_nums"]),
        "column_nums": sorted(c["column_nums"]),
        "text": c["cell_text"],
        "is_column_header": bool(c["is_column_header"]),
        "is_projected_row_header": bool(c["is_projected_row_header"]),
        "bbox": list(c["bbox"]) if c["bbox"] is not None else [],
    } for c in rec.cells]

    n_rows = max((max(c["row_nums"]) for c in cells), default=-1) + 1
    n_cols = max((max(c["column_nums"]) for c in cells), default=-1) + 1
    header_rows = {r for c in cells if c["is_column_header"]
                   for r in c["row_nums"]}
    table = {
        "cells": cells,
        "rows": {r: {"is_column_header": r in header_rows}
                 for r in range(n_rows)},
        "columns": {c: {} for c in range(n_cols)},
        "reject": [], "fix": [],
    }

    annotate_projected_row_headers(table)
    remove_empty_rows(table)
    merge_rows(table)
    remove_empty_columns(table)
    merge_columns(table)
    correct_header(table)
    canonicalize(table)

    key = {"doc_id": rec.doc_id, "media_ref": rec.media_ref,
           "table_num": int(rec.table_num)}
    ordered = sorted(table["cells"], key=_cell_order)
    if not ordered and (table["reject"] or table["fix"]):
        # fully-emptied tables still owe their provenance to the status
        # table — emit one sentinel row (cell_num = -1) carrying it
        return [dict(key, cell_num=-1, row_nums=[], column_nums=[],
                     cell_text="", is_column_header=False,
                     is_projected_row_header=False,
                     reject=list(table["reject"]), fix=list(table["fix"]))]
    return [dict(key, cell_num=i,
                 row_nums=list(c["row_nums"]),
                 column_nums=list(c["column_nums"]),
                 cell_text=c["text"],
                 is_column_header=bool(c.get("is_column_header")),
                 is_projected_row_header=bool(
                     c.get("is_projected_row_header")),
                 reject=list(table["reject"]), fix=list(table["fix"]))
            for i, c in enumerate(ordered)]


def canonicalize_cells_df(tables: DataFrame) -> DataFrame:
    """One row per table → canonicalized cells + provenance.

    Input: (doc_id, media_ref, table_num, cells
    array<struct<row_nums, column_nums, cell_text, is_column_header,
    is_projected_row_header, bbox>>).  Explicit widen before the row
    kernel: the canonicalize chain is CPU-bound per table while the
    rows are tiny, so AQE's byte-based coalescing would otherwise
    serialize every table into one task (shared policy:
    ``partitioning.widen_for_cpu``)."""
    return map_rows(
        widen_for_cpu(tables, "doc_id", "media_ref", "table_num")
        .select("doc_id", "media_ref", "table_num", "cells"),
        _canonicalize_table, CANONICAL_SCHEMA)


STANDARDIZED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("cell_num", T.IntegerType()),
    T.StructField("row_nums", T.StringType()),
    T.StructField("column_nums", T.StringType()),
    T.StructField("cell_text", T.StringType()),
    T.StructField("is_column_header", T.BooleanType()),
    T.StructField("is_projected_row_header", T.BooleanType()),
    T.StructField("x0", T.DoubleType()),
    T.StructField("y0", T.DoubleType()),
    T.StructField("x1", T.DoubleType()),
    T.StructField("y1", T.DoubleType()),
])


def _standardize_table(rec) -> list[dict]:
    cells = [{"text": c["text"],
              "row_nums": list(c["row_nums"]),
              "column_nums": list(c["column_nums"]),
              "is_column_header": bool(c["is_column_header"]),
              "bbox": [c["x0"], c["y0"], c["x1"], c["y1"]]}
             for c in rec.cells]
    table = {"cells": cells}
    standardize_and_fix_xml_annotation(table)
    return [{
        "doc_id": rec.doc_id, "cell_num": i,
        "row_nums": ",".join(map(str, sorted(c["row_nums"]))),
        "column_nums": ",".join(map(str, sorted(c["column_nums"]))),
        "cell_text": c["text"],
        "is_column_header": bool(c["is_column_header"]),
        "is_projected_row_header": bool(c.get("is_projected_row_header")),
        "x0": c["bbox"][0], "y0": c["bbox"][1],
        "x1": c["bbox"][2], "y1": c["bbox"][3],
    } for i, c in enumerate(sorted(table["cells"], key=_cell_order))]


def standardize_tables_df(tables: DataFrame) -> DataFrame:
    """(doc_id, cells array<struct<text,row_nums,column_nums,
    is_column_header,x0,y0,x1,y1>>), one row per table → standardized
    cells, one row each (``standardize_and_fix_xml_annotation``,
    scripts/process_pubmed.py:768-887)."""
    return map_rows(widen_for_cpu(tables, "doc_id").select("doc_id", "cells"),
                    _standardize_table, STANDARDIZED_SCHEMA)
