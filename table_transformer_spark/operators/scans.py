"""Source-side scan operators (SURVEY.md §2.1).

* token defaulting — the words-JSON contract fills missing reading-order
  keys (``span_num`` ← position, ``line_num``/``block_num`` ← 0;
  ``src/inference.py:900-908``) as pure column algebra;
* PASCAL VOC XML parsing — ``<object><bndbox>`` → (label, bbox) rows via
  one ``map_rows`` pass (``src/table_datasets.py:23-51``).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..partitioning import map_rows

__all__ = ["tokens_with_defaults", "parse_voc_annotations"]


def tokens_with_defaults(tokens: DataFrame, order_col: Column | None = None)\
        -> DataFrame:
    """Fill absent/null reading-order keys: span_num defaults to the
    token's position (here: a provided ordering column), line_num and
    block_num default to 0.

    The defaulting path mirrors the reference's per-file enumeration
    (src/inference.py:900-908): it numbers the rows globally and is
    meant for one page's token list at a time.  A raw
    ``monotonically_increasing_id`` would overflow the int cast past
    the first partition (and silently restart per partition with ANSI
    off), so the default is a row_number over it — single-partition by
    construction, correct for the bounded per-page input this repair
    is for; at corpus scale pass an ``order_col`` derived from your
    page-local ordering instead."""
    if order_col is None:
        from pyspark.sql import Window
        w = Window.orderBy(F.monotonically_increasing_id())
        order_col = F.row_number().over(w) - 1
    out = tokens
    if "span_num" not in tokens.columns:
        out = out.withColumn("span_num", order_col.cast("int"))
    else:
        out = out.withColumn("span_num",
                             F.coalesce(F.col("span_num"),
                                        order_col.cast("int")))
    for col in ("line_num", "block_num"):
        if col not in out.columns:
            out = out.withColumn(col, F.lit(0))
        else:
            out = out.withColumn(col, F.coalesce(F.col(col), F.lit(0)))
    return out


_VOC_SCHEMA = T.StructType([
    T.StructField("source_id", T.StringType()),
    T.StructField("label", T.StringType()),
    T.StructField("bbox", T.ArrayType(T.DoubleType())),
])


def parse_voc_annotations(df: DataFrame, id_col: str,
                          xml_col: str) -> DataFrame:
    """(id, xml string) → one row per annotated object."""
    def parse(rec):
        sid, xml = rec
        try:
            root = ET.fromstring(xml)
        except ET.ParseError:
            return
        for obj in root.findall("object"):
            bnd = obj.find("bndbox")
            if bnd is None:
                continue
            yield {"source_id": sid, "label": obj.findtext("name", ""),
                   "bbox": [float(bnd.findtext(k, "0"))
                            for k in ("xmin", "ymin", "xmax", "ymax")]}

    return map_rows(df.select(id_col, xml_col), parse, _VOC_SCHEMA)
