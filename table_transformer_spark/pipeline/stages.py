"""Pipeline stages: decode/detect → crop/assign → recognize → cells.

Topology (SURVEY.md §3.1 "Spark shape"):

* **decode_and_detect** — Arrow-batched ``mapInPandas`` over (page ×
  binary payload): stands in for page rasterization + token extraction
  (``scripts/process_pubmed.py:76-123``) and DETR table detection
  (``src/inference.py:236-250``).  A real model drops into
  :func:`page_inference_fn` without touching the topology (load once
  per executor in the iterator prologue).
* **crop_tables** — pure column algebra: per-class score thresholds,
  crop-bbox padding, token→table containment assignment + rebase as
  higher-order array functions (``F.filter``/``F.transform``) — zero
  shuffle, whole-stage codegen.  (reference ``objects_to_crops``,
  ``src/inference.py:252-293``.)
* **recognize_structure** — second ``mapInPandas`` model stage emitting
  structure objects per cropped table (``src/inference.py:771-781``).
* **extract_cells** — ``mapInPandas`` deterministic kernel: the
  ``objects_to_cells`` chain (``src/postprocess.py:61-843``).  One row
  in → N cell rows out (the UDTF-shaped operator).  No shuffle: each
  table row is self-contained.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..serde import decode_zlib_json
from ..config import (
    DEFAULT_CROP_PADDING,
    DETECTION_CLASS_THRESHOLDS,
    STRUCTURE_CLASS_THRESHOLDS,
)
from ..kernels.structure import objects_to_cells
from ..operators.bbox import iob_expr, pad_expr, translate_expr
from . import schemas


# ---------------------------------------------------------------------------
# stage 1: binary payload → page tokens + table detections
# ---------------------------------------------------------------------------

def page_inference_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Decode the binary page payload into tokens + detection objects.

    Iterator-of-batches form: a real rasterizer/detector would load its
    model once here, before the loop, and run batched forward passes
    (reference batching analog: ``src/eval.py:598-606``).
    """
    # <-- model/library initialization happens once per task here -->
    for pdf in batches:
        out = {k: [] for k in ("doc_id", "media_ref", "page_offset",
                               "tokens", "detections")}
        for doc_id, media_ref, page_offset, payload in zip(
                pdf["doc_id"], pdf["media_ref"], pdf["page_offset"],
                pdf["payload"]):
            page = decode_zlib_json(payload)
            out["doc_id"].append(doc_id)
            out["media_ref"].append(media_ref)
            out["page_offset"].append(page_offset)
            out["tokens"].append([
                (t["bbox"], t["text"], t["block_num"], t["line_num"],
                 t["span_num"], t["flags"]) for t in page["tokens"]])
            out["detections"].append([
                (d["label"], d["score"], d["bbox"])
                for d in page["detections"]])
        yield pd.DataFrame(out)


def decode_and_detect(pages_with_payload: DataFrame) -> DataFrame:
    """(doc_id, media_ref, page_offset, payload) → PAGE_SCHEMA rows."""
    return pages_with_payload.mapInPandas(page_inference_fn,
                                          schema=schemas.PAGE_SCHEMA)


# ---------------------------------------------------------------------------
# stage 2: detections → cropped tables with rebased tokens (pure algebra)
# ---------------------------------------------------------------------------

def crop_tables(pages: DataFrame,
                padding: int = DEFAULT_CROP_PADDING) -> DataFrame:
    """Explode detections, apply per-class thresholds, pad the crop box,
    assign + rebase tokens — all JVM-side column algebra.

    The token→table containment join (iob ≥ 0.5,
    ``src/inference.py:270``) runs as ``F.filter`` over the page's token
    array against the scalar crop bbox: tables per page are few, tokens
    stay packed in their array, and the stage needs no shuffle at all.
    """
    det = F.posexplode("detections").alias("table_num", "det")
    df = pages.select("doc_id", "media_ref", "page_offset", "tokens", det)

    # per-class score threshold (detection map, src/inference.py:66-70)
    thr = F.create_map(*[
        x for kv in DETECTION_CLASS_THRESHOLDS.items()
        for x in (F.lit(kv[0]), F.lit(float(kv[1])))
    ])
    df = df.filter(F.col("det.score") >= thr[F.col("det.label")])

    df = df.withColumn("crop_bbox", pad_expr(F.col("det.bbox"), padding))

    # containment-assign tokens to this crop, then rebase into crop coords
    crop = F.col("crop_bbox")
    assigned = F.filter(
        "tokens", lambda t: iob_expr(t["bbox"], crop) >= F.lit(0.5))
    # for 'table rotated' detections the crop is rotated 270° with
    # expansion, so token boxes remap to the upright frame
    # (src/inference.py:277-286): [h - y1 - 1, x0, h - y0 - 1, x1]
    # with h = crop height (= rotated image width).
    crop_h = crop[3] - crop[1]
    is_rot = F.col("det.label") == "table rotated"

    def _rebase(t):
        b = translate_expr(t["bbox"], -crop[0], -crop[1])
        rotated = F.array(crop_h - b[3] - 1, b[0], crop_h - b[1] - 1, b[2])
        return F.struct(
            F.when(is_rot, rotated).otherwise(b).alias("bbox"),
            t["text"].alias("text"),
            t["block_num"].alias("block_num"),
            t["line_num"].alias("line_num"),
            t["span_num"].alias("span_num"),
            t["flags"].alias("flags"),
        )

    rebased = F.transform(assigned, _rebase)

    return df.select(
        "doc_id", "media_ref", "page_offset",
        F.col("table_num").cast("int").alias("table_num"),
        "crop_bbox",
        rebased.alias("tokens"),
        F.col("det.label").alias("det_label"),
    )


# ---------------------------------------------------------------------------
# stage 3: structure recognition (model stub over crops)
# ---------------------------------------------------------------------------

def make_structure_inference_fn(mode: str = "clean",
                                padding: int = DEFAULT_CROP_PADDING):
    """Structure-model stage factory.

    The stub regenerates the page deterministically from ``media_ref``
    (the fixture corpus embeds the layout there) and emits the designed
    (mode='clean') or perturbed (mode='noisy') structure boxes in crop
    coordinates — exactly what a DETR structure model would output for
    the crop (``src/inference.py:771-781``).
    """
    from ..fixtures.generate import synth_page

    def infer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # <-- structure model would be loaded once per task here -->
        page_cache: dict[str, dict] = {}
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "media_ref", "page_offset",
                                    "table_num", "crop_bbox", "tokens",
                                    "objects")}
            for row in pdf.itertuples(index=False):
                page = page_cache.get(row.media_ref)
                if page is None:
                    page = synth_page(row.media_ref)
                    page_cache[row.media_ref] = page
                table = page["tables"][row.table_num]
                key = "structure" if mode == "clean" else "structure_noisy"
                source = table["design"]["structure"] if mode == "clean" \
                    else table["structure_noisy"]
                objects = [
                    (o["label"], float(o["score"]),
                     [o["bbox"][0] + padding, o["bbox"][1] + padding,
                      o["bbox"][2] + padding, o["bbox"][3] + padding])
                    for o in source
                ]
                rows["doc_id"].append(row.doc_id)
                rows["media_ref"].append(row.media_ref)
                rows["page_offset"].append(row.page_offset)
                rows["table_num"].append(row.table_num)
                rows["crop_bbox"].append(list(row.crop_bbox))
                rows["tokens"].append(list(row.tokens))
                rows["objects"].append(objects)
            yield pd.DataFrame(rows)

    return infer


def recognize_structure(crops: DataFrame, mode: str = "clean") -> DataFrame:
    fn = make_structure_inference_fn(mode=mode)
    cols = ["doc_id", "media_ref", "page_offset", "table_num",
            "crop_bbox", "tokens"]
    return crops.select(*cols).mapInPandas(fn, schema=schemas.CROP_SCHEMA)


# ---------------------------------------------------------------------------
# stage 4: deterministic cells kernel
# ---------------------------------------------------------------------------

def cells_kernel_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """One cropped table in → N cell rows out.

    Faithful to ``eval_tsr_sample`` (``src/eval.py:456-485``): pick the
    top-score 'table' object (fallback box (0,0,1000,1000)), filter
    objects/tokens by iob ≥ 0.5 against it, run the
    ``objects_to_cells`` chain, and order cells by (min row, min col) —
    the ``cells_to_html`` output ordering (``src/inference.py:541-542``).
    """
    from ..geometry import iob as iob_scalar

    for pdf in batches:
        out = {k: [] for k in ("doc_id", "media_ref", "page_offset",
                               "table_num", "cell_num", "bbox", "row_nums",
                               "column_nums", "is_column_header",
                               "is_projected_row_header", "cell_text",
                               "confidence")}
        for row in pdf.itertuples(index=False):
            objects = [{"label": o["label"], "score": float(o["score"]),
                        "bbox": list(o["bbox"])} for o in row.objects]
            tokens = [{"bbox": list(t["bbox"]), "text": t["text"],
                       "block_num": int(t["block_num"]),
                       "line_num": int(t["line_num"]),
                       "span_num": int(t["span_num"]),
                       "flags": int(t["flags"])} for t in row.tokens]

            table_objs = [o for o in objects if o["label"] == "table"]
            table_objs.sort(key=lambda o: -o["score"])
            table_bbox = list(table_objs[0]["bbox"]) if table_objs \
                else [0.0, 0.0, 1000.0, 1000.0]

            in_table = [o for o in objects
                        if iob_scalar(o["bbox"], table_bbox) >= 0.5]
            tok_in_table = [t for t in tokens
                            if iob_scalar(t["bbox"], table_bbox) >= 0.5]

            table = {"bbox": table_bbox, "page_num": 0}
            _, cells, confidence = objects_to_cells(
                table, in_table, tok_in_table, STRUCTURE_CLASS_THRESHOLDS)

            cells = sorted(cells, key=lambda c: (min(c["row_nums"]),
                                                 min(c["column_nums"])))
            for i, cell in enumerate(cells):
                out["doc_id"].append(row.doc_id)
                out["media_ref"].append(row.media_ref)
                out["page_offset"].append(row.page_offset)
                out["table_num"].append(row.table_num)
                out["cell_num"].append(i)
                out["bbox"].append([float(v) for v in cell["bbox"]])
                out["row_nums"].append(list(cell["row_nums"]))
                out["column_nums"].append(list(cell["column_nums"]))
                out["is_column_header"].append(bool(cell["header"]))
                out["is_projected_row_header"].append(bool(cell["subheader"]))
                out["cell_text"].append(cell["cell_text"])
                out["confidence"].append(float(confidence))
        yield pd.DataFrame(out)


def extract_cells(crops_with_objects: DataFrame) -> DataFrame:
    return crops_with_objects.mapInPandas(cells_kernel_fn,
                                          schema=schemas.CELL_SCHEMA)
