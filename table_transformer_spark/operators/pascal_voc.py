"""PASCAL VOC annotation sink (fixture tooling, SURVEY §2.1).

Reference: ``scripts/process_pubmed.py:1074-1155`` —
``create_pascal_voc_page_element`` / ``create_pascal_voc_object_element``
(+ the ``_direct`` variant) / ``save_xml_pascal_voc``.  Quirks kept:

* minidom pretty-print with a 3-space indent (byte-identical headers);
* the scaled variant clamps the longest page side to
  ``output_image_max_dim`` and truncates the other with ``int()``;
* bbox coordinates formatted ``{:.4f}``;
* validation raises on zero-area boxes and boxes escaping the page
  (intersection-area tolerance 0.1), exactly like the reference.

Distribution shape: :func:`pascal_voc_annotations` is a per-row string
transform (one annotation XML per page row, one ``map_rows`` pass);
:func:`write_pascal_voc` fans the one-file-per-page write out to the
executors with ``foreachPartition`` — the standard many-small-files
sink pattern (no driver funnel).
"""

from __future__ import annotations

import os
import xml.etree.ElementTree as ET
from xml.dom import minidom

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..partitioning import map_rows

__all__ = [
    "voc_annotation_xml",
    "pascal_voc_annotations",
    "write_pascal_voc",
]


def _page_element(image_filename: str, width: int, height: int,
                  database: str) -> ET.Element:
    """``create_pascal_voc_page_element`` (process_pubmed.py:1074-1089)."""
    annotation = ET.Element("annotation")
    ET.SubElement(annotation, "folder").text = ""
    ET.SubElement(annotation, "filename").text = image_filename
    ET.SubElement(annotation, "path").text = image_filename
    source = ET.SubElement(annotation, "source")
    ET.SubElement(source, "database").text = database
    size = ET.SubElement(annotation, "size")
    ET.SubElement(size, "width").text = str(width)
    ET.SubElement(size, "height").text = str(height)
    ET.SubElement(size, "depth").text = "3"
    ET.SubElement(annotation, "segmented").text = "0"
    return annotation


def _object_element(class_name: str, bbox) -> ET.Element:
    """``create_pascal_voc_object_element_direct``
    (process_pubmed.py:1137-1151)."""
    obj = ET.Element("object")
    ET.SubElement(obj, "name").text = class_name
    ET.SubElement(obj, "pose").text = "Frontal"
    ET.SubElement(obj, "truncated").text = "0"
    ET.SubElement(obj, "difficult").text = "0"
    ET.SubElement(obj, "occluded").text = "0"
    bndbox = ET.SubElement(obj, "bndbox")
    ET.SubElement(bndbox, "xmin").text = "{0:.4f}".format(bbox[0])
    ET.SubElement(bndbox, "ymin").text = "{0:.4f}".format(bbox[1])
    ET.SubElement(bndbox, "xmax").text = "{0:.4f}".format(bbox[2])
    ET.SubElement(bndbox, "ymax").text = "{0:.4f}".format(bbox[3])
    return obj


def _scale_bbox(bbox, page_bbox, output_image_max_dim: int):
    """The scaled-variant geometry (process_pubmed.py:1092-1131):
    validity checks, longest-side clamp with ``int()`` truncation,
    PDF→image coordinate scaling."""
    area = max(0.0, bbox[2] - bbox[0]) * max(0.0, bbox[3] - bbox[1])
    if area == 0:
        raise ValueError("pascal voc object: zero-area bbox")
    ix0, iy0 = max(bbox[0], page_bbox[0]), max(bbox[1], page_bbox[1])
    ix1, iy1 = min(bbox[2], page_bbox[2]), min(bbox[3], page_bbox[3])
    intersect = max(0.0, ix1 - ix0) * max(0.0, iy1 - iy0)
    if abs(intersect - area) > 0.1:
        raise ValueError("pascal voc object: bbox escapes the page")

    page_w = page_bbox[2] - page_bbox[0]
    page_h = page_bbox[3] - page_bbox[1]
    if page_w > page_h:
        out_w = output_image_max_dim
        out_h = int(output_image_max_dim * page_h / page_w)
    else:
        out_h = output_image_max_dim
        out_w = int(output_image_max_dim * page_w / page_h)
    return [(bbox[0] - page_bbox[0]) * out_w / page_w,
            (bbox[1] - page_bbox[1]) * out_h / page_h,
            (bbox[2] - page_bbox[0]) * out_w / page_w,
            (bbox[3] - page_bbox[1]) * out_h / page_h]


def voc_annotation_xml(image_filename: str, width: int, height: int,
                       database: str, objects,
                       page_bbox=None,
                       output_image_max_dim: int = 1000) -> str:
    """One page's annotation as the reference's pretty-printed XML
    string.  *objects* = iterable of ``{"label", "bbox"}``; with
    *page_bbox* set, boxes are PDF coordinates scaled to the output
    image (``create_pascal_voc_object_element``), else written direct."""
    ann = _page_element(image_filename, width, height, database)
    for obj in objects:
        bbox = list(obj["bbox"])
        if page_bbox is not None:
            bbox = _scale_bbox(bbox, page_bbox, output_image_max_dim)
        ann.append(_object_element(obj["label"], bbox))
    return minidom.parseString(ET.tostring(ann)).toprettyxml(indent="   ")


VOC_SCHEMA = T.StructType([
    T.StructField("filename", T.StringType()),
    T.StructField("xml", T.StringType()),
])


def pascal_voc_annotations(pages: DataFrame) -> DataFrame:
    """(filename, width, height, objects[, page_bbox]) rows → one
    (filename, xml) annotation per page, database ``PubTables1M``.  With
    a ``page_bbox`` column the objects are PDF boxes, scaled to a
    1000-pixel image (the reference's scaled variant)."""
    scaled = "page_bbox" in pages.columns

    def annotate(rec):
        yield {"filename": rec.filename, "xml": voc_annotation_xml(
            rec.filename, int(rec.width), int(rec.height), "PubTables1M",
            rec.objects, page_bbox=list(rec.page_bbox) if scaled else None)}

    return map_rows(pages, annotate, VOC_SCHEMA)


def write_pascal_voc(annotations: DataFrame, out_dir: str) -> None:
    """One ``<stem>.xml`` file per annotation row, written from the
    executors (``save_xml_pascal_voc`` fan-out, no driver funnel)."""
    os.makedirs(out_dir, exist_ok=True)

    def write_part(rows):
        for row in rows:
            stem = os.path.splitext(os.path.basename(row["filename"]))[0]
            with open(os.path.join(out_dir, stem + ".xml"), "w") as f:
                f.write(row["xml"])

    annotations.foreachPartition(write_part)
