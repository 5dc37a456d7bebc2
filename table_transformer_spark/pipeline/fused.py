"""Fused per-page extraction stage: payload → cell rows in ONE
Arrow-batched pass.

Decode, detect, crop, recognize and the cells kernel are all local to a
page, so they run together inside a single ``mapInPandas``: run as
separate DataFrame stages they would pay three extra Python↔JVM Arrow
boundaries for data (token arrays, object arrays) that never leaves the
page row.  A page is touched exactly once per executor:

    pages(payload) ──mapInPandas──▶ cells            [zero shuffle]

Within a batch the work is array-shaped rather than per-table: a chunk
of pages is decoded once into flat token and object arrays, the crop
and table filters are one vector pass each, and the table-structure
chain runs once over every table of the chunk
(``kernels/structure.py``).

At 10^12 docs this is the plan you want: the only shuffles in the whole
job are the documents×media join and the final per-doc reassembly
window.
"""

from __future__ import annotations

import gc
from contextlib import contextmanager
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from pyspark.sql import functions as F

from ..config import (
    DEFAULT_CROP_PADDING,
    DETECTION_CLASS_THRESHOLDS,
    STRUCTURE_CLASS_THRESHOLDS,
)
from ..geometry import np_pair_iob, np_run_starts
from ..kernels.slotting import segment_pairs
from ..kernels.structure import (
    LABEL_CODES,
    TABLE,
    TableBatch,
    objects_to_cells,  # noqa: F401  (one-table entry; perfbench wraps it)
    objects_to_cells_batch,
)
from ..serde import decode_zlib_json as _decode_payload

# packed per-table row: cells travel as one array column through Arrow
# (≈16× fewer Python→JVM rows than per-cell emission) and explode
# JVM-side, inside codegen
_PACKED_SCHEMA = (
    "doc_id string, media_ref string, page_offset int, table_num int, "
    "confidence double, cells array<struct<"
    "cell_num:int, bbox:array<double>, row_nums:array<int>, "
    "column_nums:array<int>, is_column_header:boolean, "
    "is_projected_row_header:boolean, cell_text:string>>"
)
_PACKED_COLUMNS = ["doc_id", "media_ref", "page_offset", "table_num",
                   "confidence", "cells"]

# pages per kernel pass: bounds the (token × cell) pair arrays, about
# 550 pairs per table, to ~2 MB whatever the Arrow batch size; larger
# passes measured no faster
_PAGES_PER_PASS = 64


@contextmanager
def _cyclic_gc_paused():
    """Pause the cyclic garbage collector for one kernel pass.  The pass
    builds only acyclic objects, which reference counting frees, so a
    collection inside it finds nothing and only re-scans the pass's live
    page data and everything else alive in the process: on a 4-core
    host that cost ~20% of the pass and most of its run-to-run spread."""
    if not gc.isenabled():
        yield
        return
    gc.disable()
    try:
        yield
    finally:
        gc.enable()


def _page_cells(pages, mode: str) -> pd.DataFrame:
    """Packed cell rows of one chunk of pages: *pages* holds the
    doc_id, media_ref, page_offset and payload arrays of the chunk."""
    doc_id, media_ref, page_offset, payloads = pages
    padding = DEFAULT_CROP_PADDING
    # decode page by page, keeping only what the kernel reads: a page
    # dict also carries the designed truth and the other mode's objects
    spans, n_tokens, tok_xy = [], [], []
    t_page, t_num, t_det, t_rot, n_objects = [], [], [], [], []
    obj_label, obj_score, obj_xy = [], [], []
    for p, payload in enumerate(payloads):
        page = _decode_payload(payload)
        tokens = page["tokens"]
        spans.extend(tokens)
        n_tokens.append(len(tokens))
        for t in tokens:
            tok_xy.extend(t["bbox"])
        # detections above their class threshold, each with the
        # structure objects the (stub) structure model emits for it
        for table_num, det in enumerate(page["detections"]):
            if det["score"] < DETECTION_CLASS_THRESHOLDS[det["label"]]:
                continue
            tbl = page["tables"][table_num]
            source = (tbl["design"]["structure"] if mode == "clean"
                      else tbl["structure_noisy"])
            t_page.append(p)
            t_num.append(table_num)
            t_det.append(det["bbox"])
            t_rot.append(det["label"] == "table rotated")
            n_objects.append(len(source))
            for o in source:
                obj_label.append(LABEL_CODES.get(o["label"], -1))
                obj_score.append(o["score"])
                obj_xy.extend(o["bbox"])
    tok_page = np.repeat(np.arange(len(n_tokens)), n_tokens)
    tok_box = np.asarray(tok_xy, dtype=float).reshape(-1, 4)
    n = len(t_page)
    t_page = np.asarray(t_page, dtype=np.intp)
    crop = (np.asarray(t_det, dtype=float).reshape(-1, 4)
            + [-padding, -padding, padding, padding])

    # tokens ≥50% inside each crop, rebased to crop coordinates; rotated
    # crops turn upright (src/inference.py:277-286)
    seg, tok = segment_pairs(t_page, tok_page, len(n_tokens))
    inside = np_pair_iob(tok_box[tok], crop[seg]) >= 0.5
    seg, tok = seg[inside], tok[inside]
    box = tok_box[tok] - crop[seg][:, [0, 1, 0, 1]]
    rot = np.asarray(t_rot, dtype=bool)[seg]
    if rot.any():
        b, h = box[rot], (crop[:, 3] - crop[:, 1])[seg[rot]]
        box[rot] = np.stack([h - b[:, 3] - 1, b[:, 0],
                             h - b[:, 1] - 1, b[:, 2]], axis=1)

    obj_seg = np.repeat(np.arange(n), n_objects)
    obj_box = np.asarray(obj_xy, dtype=float).reshape(-1, 4) + padding
    obj_label = np.asarray(obj_label, dtype=np.intp)
    obj_score = np.asarray(obj_score, dtype=float)

    # the table box is the top-score 'table' object (first on ties),
    # else (0, 0, 1000, 1000); objects and tokens must lie ≥50% inside
    tables = np.flatnonzero(obj_label == TABLE)
    tables = tables[np.lexsort((-obj_score[tables], obj_seg[tables]))]
    top = tables[np_run_starts(obj_seg[tables])]
    table_box = np.tile([0.0, 0.0, 1000.0, 1000.0], (n, 1))
    table_box[obj_seg[top]] = obj_box[top]
    keep_obj = np_pair_iob(obj_box, table_box[obj_seg]) >= 0.5
    keep_tok = np_pair_iob(box, table_box[seg]) >= 0.5

    cells = objects_to_cells_batch(
        TableBatch(n_tables=n, tok_seg=seg[keep_tok], tok_box=box[keep_tok],
                   tok_spans=[spans[t] for t in tok[keep_tok].tolist()],
                   obj_seg=obj_seg[keep_obj], obj_box=obj_box[keep_obj],
                   obj_label=obj_label[keep_obj],
                   obj_score=obj_score[keep_obj]),
        STRUCTURE_CLASS_THRESHOLDS)
    return pd.DataFrame({
        "doc_id": doc_id[t_page],
        "media_ref": media_ref[t_page],
        "page_offset": page_offset[t_page],
        "table_num": t_num,
        "confidence": [float(c) for c in cells.confidence],
        "cells": cells.packed(),
    }, columns=_PACKED_COLUMNS)


def make_fused_page_fn(mode: str = "clean"):
    """Factory: (doc_id, media_ref, page_offset, payload) batches →
    packed cell batches (``_PACKED_SCHEMA``).  Operation order:
    detect-threshold → crop/pad → token containment-assign + rebase →
    structure inference (stub) → objects_to_cells chain → (min row,
    min col) cell ordering."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # <-- detection + structure models would be loaded once here -->
        for pdf in batches:
            columns = [pdf[c].to_numpy() for c in
                       ("doc_id", "media_ref", "page_offset", "payload")]
            for lo in range(0, max(len(pdf), 1), _PAGES_PER_PASS):
                with _cyclic_gc_paused():
                    out = _page_cells(
                        [c[lo:lo + _PAGES_PER_PASS] for c in columns],
                        mode)
                yield out.astype(object) if out.empty else out

    return run


def run_cells_fused(pages_with_payload: DataFrame,
                    mode: str = "clean") -> DataFrame:
    packed = pages_with_payload.mapInPandas(make_fused_page_fn(mode=mode),
                                            schema=_PACKED_SCHEMA)
    cell = F.explode("cells").alias("cell")
    return (packed
            .select("doc_id", "media_ref", "page_offset", "table_num",
                    "confidence", cell)
            .select("doc_id", "media_ref", "page_offset", "table_num",
                    F.col("cell.cell_num").alias("cell_num"),
                    F.col("cell.bbox").alias("bbox"),
                    F.col("cell.row_nums").alias("row_nums"),
                    F.col("cell.column_nums").alias("column_nums"),
                    F.col("cell.is_column_header").alias("is_column_header"),
                    F.col("cell.is_projected_row_header")
                    .alias("is_projected_row_header"),
                    F.col("cell.cell_text").alias("cell_text"),
                    "confidence"))
