"""End-to-end span-sequence equality (the north-rule invariant).

Two layers of oracle:

1. *clean* mode: pipeline output must equal the generator-designed
   ground truth exactly — (kind, text, media_ref, offset) per doc —
   without the kernel appearing on the oracle side at all.
2. *noisy* mode: Spark output must equal a local single-threaded run of
   the same kernel chain (distribution/determinism invariance; the
   perturbations exercise thresholding + NMS + containment suppression).
   In both modes the full cell rows (bbox, grid, header flags, text,
   confidence) must equal that local run too, under ``CELL_SCHEMA``.
"""

import pytest

from table_transformer_spark.fixtures.generate import (
    expected_spans_clean,
    gen_document,
)
from table_transformer_spark.fixtures.spark_io import documents_df, media_df
from table_transformer_spark.pipeline import schemas
from table_transformer_spark.pipeline.extract import extract, run_cells

N_DOCS = 12


@pytest.fixture(scope="module")
def corpus(spark):
    docs = documents_df(spark, N_DOCS).cache()
    media = media_df(spark, N_DOCS).cache()
    docs.count(), media.count()
    return docs, media


def collect_spans(df):
    rows = df.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(
            (r.offset, r.kind, r.text, r.media_ref))
    return {d: [(k, t, m) for _, k, t, m in sorted(v)]
            for d, v in by_doc.items()}


def test_clean_mode_matches_designed_truth(spark, corpus):
    docs, media = corpus
    got = collect_spans(extract(docs, media, mode="clean"))

    expected = {}
    for doc in (gen_document(f"DOC{i:07d}") for i in range(N_DOCS)):
        spans = expected_spans_clean(doc)
        expected[doc["doc_id"]] = [(s["kind"], s["text"], s["media_ref"])
                                   for s in spans]

    assert set(got) == set(expected)
    for doc_id in expected:
        assert got[doc_id] == expected[doc_id], f"mismatch in {doc_id}"


def test_offsets_are_dense_and_zero_based(spark, corpus):
    docs, media = corpus
    out = extract(docs, media, mode="clean").collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r.offset)
    for doc_id, offsets in by_doc.items():
        assert sorted(offsets) == list(range(len(offsets)))


def test_noisy_mode_matches_local_sequential_kernel(spark, corpus):
    docs, media = corpus
    got = collect_spans(extract(docs, media, mode="noisy"))
    expected, _ = _local_reference_run(N_DOCS, mode="noisy")
    assert set(got) == set(expected)
    for doc_id in expected:
        assert got[doc_id] == expected[doc_id], f"mismatch in {doc_id}"


def _cell_key(row):
    (doc_id, media_ref, page_offset, table_num, cell_num, bbox, row_nums,
     column_nums, is_column_header, is_projected_row_header, cell_text,
     confidence) = row
    return (doc_id, media_ref, page_offset, table_num, cell_num,
            tuple(round(v, 6) for v in bbox), tuple(row_nums),
            tuple(column_nums), is_column_header, is_projected_row_header,
            cell_text, round(confidence, 9))


@pytest.mark.parametrize("mode", ["clean", "noisy"])
def test_cells_match_local_sequential_kernel(spark, corpus, mode):
    """Every cell row (bbox, grid, header flags, text, confidence) of the
    Spark job equals the local sequential run, under the declared
    CELL_SCHEMA contract."""
    docs, media = corpus
    cells = run_cells(docs, media, mode=mode)

    assert [(f.name, f.dataType.simpleString()) for f in cells.schema] == \
        [(f.name, f.dataType.simpleString()) for f in schemas.CELL_SCHEMA]

    _, expected = _local_reference_run(N_DOCS, mode=mode)
    assert expected
    assert sorted(map(_cell_key, cells.collect())) == \
        sorted(map(_cell_key, expected))


def test_cell_rows_carry_confidence_and_grid(spark, corpus):
    docs, media = corpus
    cells = run_cells(docs, media, mode="clean")
    sample = cells.limit(50).collect()
    assert sample
    for c in sample:
        assert 0.0 <= c.confidence <= 1.0
        assert c.row_nums and c.column_nums
        assert c.cell_num >= 0


def _local_reference_run(n_docs, mode):
    """Single-threaded reimplementation of the job over the same fixture
    corpus: the sequential 'reference' the distributed run must match.

    Returns the (kind, text, media_ref) spans per doc_id and the cell
    rows, one tuple per cell in CELL_SCHEMA column order."""
    from table_transformer_spark.config import (
        DEFAULT_CROP_PADDING,
        DETECTION_CLASS_THRESHOLDS,
        STRUCTURE_CLASS_THRESHOLDS,
    )
    from table_transformer_spark.fixtures.generate import synth_page
    from table_transformer_spark.geometry import iob
    from table_transformer_spark.kernels.structure import objects_to_cells

    pad = DEFAULT_CROP_PADDING
    spans_by_doc, cell_rows = {}, []
    for doc in (gen_document(f"DOC{i:07d}") for i in range(n_docs)):
        spans = []
        for span in sorted(doc["spans"], key=lambda s: s["offset"]):
            if span["kind"] == "text":
                spans.append(("text", span["text"], ""))
                continue
            page = synth_page(span["media_ref"])
            for table_num, det in enumerate(page["detections"]):
                if det["score"] < DETECTION_CLASS_THRESHOLDS[det["label"]]:
                    continue
                crop = [det["bbox"][0] - pad, det["bbox"][1] - pad,
                        det["bbox"][2] + pad, det["bbox"][3] + pad]
                tokens = []
                for t in page["tokens"]:
                    if iob(t["bbox"], crop) >= 0.5:
                        tokens.append({**t, "bbox": [
                            t["bbox"][0] - crop[0], t["bbox"][1] - crop[1],
                            t["bbox"][2] - crop[0], t["bbox"][3] - crop[1]]})
                if det["label"] == "table rotated":
                    h = crop[3] - crop[1]
                    tokens = [{**t, "bbox": [h - t["bbox"][3] - 1,
                                             t["bbox"][0],
                                             h - t["bbox"][1] - 1,
                                             t["bbox"][2]]}
                              for t in tokens]
                table = page["tables"][table_num]
                source = (table["design"]["structure"] if mode == "clean"
                          else table["structure_noisy"])
                objects = [
                    {"label": o["label"], "score": float(o["score"]),
                     "bbox": [o["bbox"][0] + pad, o["bbox"][1] + pad,
                              o["bbox"][2] + pad, o["bbox"][3] + pad]}
                    for o in source]
                table_objs = sorted(
                    [o for o in objects if o["label"] == "table"],
                    key=lambda o: -o["score"])
                table_bbox = list(table_objs[0]["bbox"]) if table_objs \
                    else [0.0, 0.0, 1000.0, 1000.0]
                in_table = [o for o in objects
                            if iob(o["bbox"], table_bbox) >= 0.5]
                toks = [t for t in tokens
                        if iob(t["bbox"], table_bbox) >= 0.5]
                _, cells, confidence = objects_to_cells(
                    {"bbox": table_bbox, "page_num": 0}, in_table, toks,
                    STRUCTURE_CLASS_THRESHOLDS)
                cells = sorted(cells, key=lambda c: (min(c["row_nums"]),
                                                     min(c["column_nums"])))
                for cell_num, cell in enumerate(cells):
                    text = cell["cell_text"]
                    cell_rows.append((
                        doc["doc_id"], span["media_ref"], span["offset"],
                        table_num, cell_num,
                        [float(v) for v in cell["bbox"]],
                        list(cell["row_nums"]), list(cell["column_nums"]),
                        bool(cell["header"]), bool(cell["subheader"]),
                        text, float(confidence)))
                    if text:
                        spans.append(("cell", text, span["media_ref"]))
        spans_by_doc[doc["doc_id"]] = spans
    return spans_by_doc, cell_rows
