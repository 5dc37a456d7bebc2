"""Output formatting: canonical cells ⇄ HTML / CSV.

Per-table string-assembly kernels (order-sensitive) re-expressing the
reference exporters:

* ``cells_to_html`` (``src/inference.py:540-568``) — including the
  quirk that *every* header row opens its own ``<thead>`` element;
* ``cells_to_csv`` (``src/inference.py:512-538``) — multi-row headers
  flattened per column via ordered dedup joined with ``' | '``;
* ``html_to_cells`` (``src/grits.py:409-463``) — the inverse: DFS with
  colspan/rowspan grid-occupancy tracking.

The DataFrame driver ``export_tables`` takes one row per table with its
cells as an array column and runs these in a single ``mapInPandas``
pass (``partitioning.map_rows``) — one row per table out, no grouping.
(The pivot-algebra form of the CSV export is oracle-checked as
``grid_pivot_export`` in driver_queries.)
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from collections import OrderedDict, defaultdict

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..partitioning import map_rows, widen_for_cpu

__all__ = ["cells_to_html", "cells_to_csv", "html_to_cells",
           "export_tables"]


def cells_to_html(cells) -> str:
    """Canonical cells → HTML table string.

    Cells ordered by (min row, min col) via two stable sorts, matching
    ``src/inference.py:541-542``; a new row element opens whenever the
    min row advances — ``<thead>`` for header rows, ``<tr>`` otherwise.
    """
    cells = sorted(cells, key=lambda c: min(c["column_nums"]))
    cells = sorted(cells, key=lambda c: min(c["row_nums"]))

    table = ET.Element("table")
    current_row = -1
    row_el = None
    tag = "td"
    for cell in cells:
        this_row = min(cell["row_nums"])
        attrib = {}
        colspan = len(cell["column_nums"])
        if colspan > 1:
            attrib["colspan"] = str(colspan)
        rowspan = len(cell["row_nums"])
        if rowspan > 1:
            attrib["rowspan"] = str(rowspan)
        if this_row > current_row:
            current_row = this_row
            if cell["header"]:
                tag = "th"
                row_el = ET.SubElement(table, "thead")
            else:
                tag = "td"
                row_el = ET.SubElement(table, "tr")
        el = ET.SubElement(row_el, tag, attrib=attrib)
        el.text = cell["cell_text"]
    return str(ET.tostring(table, encoding="unicode",
                           short_empty_elements=False))


def cells_to_csv(cells) -> str | None:
    """Canonical cells → CSV with flattened multi-row header
    (``src/inference.py:512-538``).  Returns None for empty cell sets
    (the reference returns nothing)."""
    if not cells:
        return None
    num_cols = max(max(c["column_nums"]) for c in cells) + 1
    num_rows = max(max(c["row_nums"]) for c in cells) + 1

    header_cells = [c for c in cells if c["header"]]
    max_header_row = (max(max(c["row_nums"]) for c in header_cells)
                      if header_cells else -1)

    grid = [[None] * num_cols for _ in range(num_rows)]
    for c in cells:
        for r in c["row_nums"]:
            for col in c["column_nums"]:
                grid[r][col] = c["cell_text"]

    flattened = []
    for col in range(num_cols):
        seen = OrderedDict.fromkeys(
            grid[r][col] for r in range(max_header_row + 1))
        # uncovered header positions would crash the reference's join;
        # render them as empty strings instead
        flattened.append(" | ".join("" if v is None else v for v in seen))

    body = [grid[r] for r in range(max_header_row + 1, num_rows)]
    df = pd.DataFrame(body, index=None, columns=flattened)
    return df.to_csv(index=None)


def html_to_cells(table_html: str):
    """HTML table → cells with grid coordinates via colspan/rowspan
    occupancy tracking (``src/grits.py:409-463``)."""
    try:
        tree = ET.fromstring(table_html)
    except ET.ParseError:
        return None

    cells = []
    occupied = defaultdict(set)
    current_row = -1
    stack = [(tree, False)]
    while stack:
        node, in_header = stack.pop()
        if node.tag == "tr":
            current_row += 1
        elif node.tag == "thead" and not any(ch.tag == "tr" for ch in node):
            # the exporter emits one bare <thead> per header row with no
            # inner <tr> (src/inference.py:559-561); the reference's own
            # parser only advances on <tr> and therefore cannot re-read
            # its own exporter output — we advance on childless <thead>
            # so exporter→parser round-trips, while standard
            # <thead><tr>…</tr></thead> markup still parses like the
            # reference.
            current_row += 1
        if node.tag in ("td", "th"):
            colspan = int(node.attrib.get("colspan", 1))
            rowspan = int(node.attrib.get("rowspan", 1))
            row_nums = list(range(current_row, current_row + rowspan))
            taken = occupied[current_row]
            if taken:
                start = min(set(range(max(taken) + 2)) - taken)
            else:
                start = 0
            column_nums = list(range(start, start + colspan))
            for r in row_nums:
                occupied[r].update(column_nums)
            cells.append({
                "row_nums": row_nums,
                "column_nums": column_nums,
                "header": node.tag == "th" or in_header,
                "cell_text": " ".join(node.itertext()),
            })
        for child in list(node)[::-1]:
            stack.append((child, in_header or node.tag in ("th", "thead")))
    return cells


EXPORT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("table_num", T.IntegerType()),
    T.StructField("html", T.StringType()),
    T.StructField("csv", T.StringType()),
])


def _export_table(rec) -> list[dict]:
    cells = [{
        "row_nums": list(c["row_nums"]),
        "column_nums": list(c["column_nums"]),
        "header": bool(c["is_column_header"]),
        "cell_text": c["cell_text"],
    } for c in rec.cells]
    return [{
        "doc_id": rec.doc_id, "media_ref": rec.media_ref,
        "table_num": int(rec.table_num),
        "html": cells_to_html(cells),
        "csv": cells_to_csv(cells) or "",
    }]


def export_tables(tables: DataFrame) -> DataFrame:
    """One row per table, (doc_id, media_ref, table_num, cells
    array<struct<row_nums, column_nums, is_column_header, cell_text>>)
    → one (html, csv) row per table.  ``cells_to_html`` breaks
    (min row, min col) ties in the array's order."""
    return map_rows(
        widen_for_cpu(tables, "doc_id", "media_ref", "table_num")
        .select("doc_id", "media_ref", "table_num", "cells"),
        _export_table, EXPORT_SCHEMA)
