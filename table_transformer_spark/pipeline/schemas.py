"""Declared schemas of the pipeline's inputs, cell rows and output
(schema-by-contract, unlike the reference's schema-by-convention dicts —
SURVEY.md §1).

Coordinate convention everywhere: ``bbox = [x0, y0, x1, y1]`` doubles
(docs/INFERENCE.md:65).
"""

from __future__ import annotations

from pyspark.sql import types as T

# documents input contract (BASELINE.json input_hint)
SPAN_TYPE = T.StructType([
    T.StructField("kind", T.StringType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("offset", T.IntegerType(), False),
])

DOCUMENTS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("spans", T.ArrayType(SPAN_TYPE), False),
])

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("payload", T.BinaryType(), False),
    T.StructField("width", T.IntegerType(), False),
    T.StructField("height", T.IntegerType(), False),
])

# run_cells output: one row per extracted cell
CELL_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("page_offset", T.IntegerType(), False),
    T.StructField("table_num", T.IntegerType(), False),
    T.StructField("cell_num", T.IntegerType(), False),
    T.StructField("bbox", T.ArrayType(T.DoubleType()), False),
    T.StructField("row_nums", T.ArrayType(T.IntegerType()), False),
    T.StructField("column_nums", T.ArrayType(T.IntegerType()), False),
    T.StructField("is_column_header", T.BooleanType(), False),
    T.StructField("is_projected_row_header", T.BooleanType(), False),
    T.StructField("cell_text", T.StringType(), False),
    T.StructField("confidence", T.DoubleType(), False),
])

# final output: ordered spans per document (north-rule invariant)
OUTPUT_SPANS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("offset", T.IntegerType(), False),
])
