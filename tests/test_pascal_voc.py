"""PASCAL VOC sink (scripts/process_pubmed.py:1074-1155 parity)."""

import os

import pytest

from table_transformer_spark.operators.pascal_voc import (
    pascal_voc_annotations,
    voc_annotation_xml,
    write_pascal_voc,
)


def test_voc_xml_matches_reference_format():
    xml = voc_annotation_xml(
        "PMC1234_5.jpg", 1000, 1414, "PubTables1M",
        [{"label": "table", "bbox": [10.0, 20.5, 400.0, 300.25]}])
    # reference quirks: 3-space pretty indent, Frontal pose, .4f coords
    assert '<?xml version="1.0" ?>' in xml
    assert "\n   <filename>PMC1234_5.jpg</filename>" in xml
    assert "<depth>3</depth>" in xml and "<segmented>0</segmented>" in xml
    assert "<pose>Frontal</pose>" in xml
    assert "<xmin>10.0000</xmin>" in xml
    assert "<ymax>300.2500</ymax>" in xml


def test_voc_scaled_geometry_and_validation():
    # portrait page 612x792 → out_h = 1000, out_w = int(1000*612/792)
    page = [0.0, 0.0, 612.0, 792.0]
    xml = voc_annotation_xml(
        "p.jpg", 772, 1000, "db",
        [{"label": "table", "bbox": [61.2, 79.2, 306.0, 396.0]}],
        page_bbox=page)
    out_w = int(1000 * 612 / 792)  # 772 — int() truncation quirk
    assert f"<xmin>{61.2 * out_w / 612:.4f}</xmin>" in xml
    assert "<ymin>100.0000</ymin>" in xml  # 79.2/792*1000
    with pytest.raises(ValueError, match="zero-area"):
        voc_annotation_xml("p.jpg", 1, 1, "db",
                           [{"label": "t", "bbox": [5.0, 5.0, 5.0, 9.0]}],
                           page_bbox=page)
    with pytest.raises(ValueError, match="escapes"):
        voc_annotation_xml("p.jpg", 1, 1, "db",
                           [{"label": "t", "bbox": [600.0, 10.0,
                                                    700.0, 50.0]}],
                           page_bbox=page)


def test_voc_sink_writes_one_file_per_page(spark, tmp_path):
    pages = spark.createDataFrame(
        [("a.jpg", 100, 200,
          [("table", [1.0, 2.0, 3.0, 4.0])]),
         ("b.jpg", 100, 200, [])],
        "filename string, width int, height int, "
        "objects array<struct<label string, bbox array<double>>>")
    ann = pascal_voc_annotations(pages)
    out = {r.filename: r.xml for r in ann.collect()}
    assert set(out) == {"a.jpg", "b.jpg"}
    assert "<name>table</name>" in out["a.jpg"]
    assert "<object>" not in out["b.jpg"]

    write_pascal_voc(ann, str(tmp_path / "voc"))
    files = sorted(os.listdir(tmp_path / "voc"))
    assert files == ["a.xml", "b.xml"]
    assert "<filename>a.jpg</filename>" in (tmp_path / "voc" / "a.xml").read_text()


def test_voc_sink_scales_pages_with_page_bbox(spark):
    """A ``page_bbox`` column switches the sink to the scaled variant."""
    rows = [
        ("a.jpg", 772, 1000,
         [("table", [61.2, 79.2, 306.0, 396.0]),
          ("table column", [70.0, 80.0, 90.5, 300.25])],
         [0.0, 0.0, 612.0, 792.0]),
        ("b.jpg", 1000, 500, [("table", [110.0, 60.0, 500.0, 300.0])],
         [100.0, 50.0, 900.0, 450.0]),
    ]
    pages = spark.createDataFrame(
        rows,
        "filename string, width int, height int, "
        "objects array<struct<label string, bbox array<double>>>, "
        "page_bbox array<double>")
    got = {r.filename: r.xml for r in pascal_voc_annotations(pages).collect()}
    want = {
        name: voc_annotation_xml(
            name, w, h, "PubTables1M",
            [{"label": label, "bbox": bbox} for label, bbox in objs],
            page_bbox=page_bbox)
        for name, w, h, objs, page_bbox in rows}
    assert got == want
    assert want["a.jpg"] != voc_annotation_xml(
        "a.jpg", 772, 1000, "PubTables1M",
        [{"label": label, "bbox": bbox} for label, bbox in rows[0][3]])
