"""NXML (PubMed JATS) table scanning and parsing.

Re-expresses the corpus ETL's NXML front-end
(``scripts/process_pubmed.py:207-343``): regex scan for
``<table-wrap>`` blocks, then an occupancy parse of each block into
cells with caption / footer / label / graphic metadata and the
indentation heuristic (leading em-space/tab/space or ``padding-left``
style).

On the Spark side the whole family runs as one ``map_rows`` pass:
one NXML document row in → one row per table out.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..partitioning import map_rows

__all__ = ["find_table_wraps", "parse_nxml_table", "scan_nxml_tables"]

_WRAP_START = re.compile(r"<table-wrap |<table-wrap>")
_WRAP_END = re.compile(r"</table-wrap>")
# NOTE: the plain space appears twice because the REFERENCE lists both
# "\u0020" and a literal " " (scripts/process_pubmed.py:315-316) — the
# duplicate is the reference's own quirk, preserved for parity (an
# NBSP-indented cell is NOT treated as indented there either)
_INDENT_PREFIXES = (" ", " ", "\t", " ")


def find_table_wraps(xml_string: str):
    """(start, end) character ranges of every <table-wrap> block
    (``scripts/process_pubmed.py:207-222``); None when begins/ends
    cannot be matched up, like the reference."""
    starts = [m.start() for m in _WRAP_START.finditer(xml_string)]
    ends = [m.end() for m in _WRAP_END.finditer(xml_string)]
    if len(starts) != len(ends):
        return None
    return list(zip(starts, ends))


def parse_nxml_table(table_xml: str):
    """One <table-wrap> block → {cells, caption/footer/label/graphic
    metadata, num_rows, num_columns} (``scripts/process_pubmed.py:
    225-343``).  Returns None on parse failure."""
    try:
        tree = ET.fromstring(table_xml.replace("xlink:", ""))
    except ET.ParseError:
        return None

    out = {
        "tablewrap_text": "", "table_text": "", "graphic": "",
        "footer_text": "", "label_text": "", "caption_text": "",
        "cells": [],
    }
    occupied = defaultdict(set)
    current_row = -1

    stack = [(tree, False)]
    while stack:
        node, in_header = stack.pop()
        if node.tag == "table-wrap":
            out["tablewrap_text"] = " ".join(
                t.strip() for t in node.itertext()).strip()
        elif node.tag == "table":
            out["table_text"] = " ".join(
                t.strip() for t in node.itertext()).strip()
        elif node.tag == "graphic":
            out["graphic"] = node.attrib.get("href", out["graphic"])
        elif node.tag == "table-wrap-foot":
            out["footer_text"] = "".join(node.itertext()).strip()
        elif node.tag == "label":
            out["label_text"] = "".join(node.itertext()).strip()
        elif node.tag == "caption":
            out["caption_text"] = "".join(node.itertext()).strip()
        elif node.tag == "tr":
            current_row += 1

        if node.tag in ("td", "th"):
            colspan = int(node.attrib.get("colspan", 1))
            rowspan = int(node.attrib.get("rowspan", 1))
            row_nums = list(range(current_row, current_row + rowspan))
            taken = occupied[current_row]
            if taken:
                col = min(set(range(max(taken) + 2)) - taken)
            else:
                col = 0
            column_nums = list(range(col, col + colspan))
            for r in row_nums:
                occupied[r].update(column_nums)

            style = node.attrib.get("style", "none")
            raw = "".join(node.itertext())
            out["cells"].append({
                "row_nums": row_nums,
                "column_nums": column_nums,
                "is_column_header": node.tag == "th" or in_header,
                "align": node.attrib.get("align", "unknown"),
                "indented": (raw.startswith(_INDENT_PREFIXES)
                             or "padding-left" in style),
                "text": " ".join(t.strip() for t in node.itertext()),
            })

        for child in list(node)[::-1]:
            stack.append((child, in_header or node.tag in ("th", "thead")))

    if occupied:
        out["num_rows"] = max(occupied) + 1
        out["num_columns"] = max(max(v) for v in occupied.values()) + 1
    else:
        out["num_rows"] = 0
        out["num_columns"] = 0
    return out


_CELL_T = T.StructType([
    T.StructField("row_nums", T.ArrayType(T.IntegerType())),
    T.StructField("column_nums", T.ArrayType(T.IntegerType())),
    T.StructField("is_column_header", T.BooleanType()),
    T.StructField("align", T.StringType()),
    T.StructField("indented", T.BooleanType()),
    T.StructField("text", T.StringType()),
])

_SCAN_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("table_idx", T.IntegerType()),
    T.StructField("num_rows", T.IntegerType()),
    T.StructField("num_columns", T.IntegerType()),
    T.StructField("caption_text", T.StringType()),
    T.StructField("footer_text", T.StringType()),
    T.StructField("label_text", T.StringType()),
    T.StructField("cells", T.ArrayType(_CELL_T)),
])


def scan_nxml_tables(df: DataFrame, id_col: str, xml_col: str) -> DataFrame:
    """(doc id, NXML string) → one row per parsed table."""
    def scan(rec):
        doc_id, xml = rec
        xml = str(xml)
        for i, (a, b) in enumerate(find_table_wraps(xml) or []):
            parsed = parse_nxml_table(xml[a:b])
            if parsed is None:
                continue
            # keys outside _SCAN_SCHEMA (the wrap/table text, graphic)
            # are dropped by map_rows
            yield {"doc_id": doc_id, "table_idx": i, **parsed}

    return map_rows(df.select(id_col, xml_col), scan, _SCAN_SCHEMA)
