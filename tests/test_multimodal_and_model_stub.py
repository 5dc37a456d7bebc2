"""Multimodal metadata operator + DETR-shaped model interface."""

import numpy as np
import pytest

from table_transformer_spark.config import (
    DETECTION_LABELS,
    STRUCTURE_LABELS,
)
from table_transformer_spark.pipeline.model_stub import (
    box_cxcywh_to_xyxy,
    fake_forward,
    outputs_to_objects,
    rescale_boxes,
)


def test_box_conversion_roundtrip():
    boxes = np.array([[0.5, 0.5, 0.2, 0.4], [0.25, 0.75, 0.1, 0.1]])
    xyxy = box_cxcywh_to_xyxy(boxes)
    np.testing.assert_allclose(xyxy[0], [0.4, 0.3, 0.6, 0.7])
    scaled = rescale_boxes(xyxy, (100, 200))
    np.testing.assert_allclose(scaled[0], [40, 60, 60, 140])


def test_fake_forward_recovers_objects():
    objs = [
        {"label": "table", "score": 0.95, "bbox": [10, 20, 200, 120]},
        {"label": "table rotated", "score": 0.7, "bbox": [0, 0, 50, 60]},
    ]
    logits, boxes = fake_forward(objs, (400, 300), DETECTION_LABELS,
                                 num_queries=15)
    assert logits.shape == (15, 3)
    assert boxes.shape == (15, 4)
    out = outputs_to_objects(logits, boxes, (400, 300), DETECTION_LABELS)
    assert len(out) == 2  # the 13 surplus queries are 'no object'
    assert out[0]["label"] == "table"
    assert out[0]["score"] == pytest.approx(0.95, abs=1e-6)
    np.testing.assert_allclose(out[0]["bbox"], [10, 20, 200, 120],
                               atol=1e-9)
    assert out[1]["score"] == pytest.approx(0.7, abs=1e-6)


def test_structure_queries_budget():
    objs = [{"label": "table row", "score": 0.9,
             "bbox": [0, i * 10, 100, (i + 1) * 10]} for i in range(130)]
    logits, boxes = fake_forward(objs, (100, 1400), STRUCTURE_LABELS,
                                 num_queries=125)
    out = outputs_to_objects(logits, boxes, (100, 1400), STRUCTURE_LABELS)
    assert len(out) == 125  # Q=125 caps detections, like the real model


def test_media_metadata(spark):
    from table_transformer_spark.fixtures.spark_io import media_df
    from table_transformer_spark.operators.multimodal import media_metadata

    meta = media_metadata(media_df(spark, 4)).collect()
    assert meta
    assert all(r.n_bytes > 0 and len(r.digest) == 64 for r in meta)


def test_outputs_to_objects_accepts_torch_tensors():
    """The inference seam takes raw (Q, C+1)/(Q, 4) arrays — a real
    torch forward's detached tensors drop in unchanged (skipped where
    torch is absent)."""
    torch = pytest.importorskip("torch")

    class TinyDetr(torch.nn.Module):
        def forward(self, n_queries, n_classes):
            logits = torch.full((n_queries, n_classes), -4.0)
            logits[:, -1] = 4.0          # default: 'no object'
            logits[0, 0] = 6.0           # query 0 → class 0, high score
            boxes = torch.tensor([[0.5, 0.5, 0.2, 0.2]]).repeat(
                n_queries, 1)
            return {"pred_logits": logits, "pred_boxes": boxes}

    names = ["table", "table rotated", "no object"]
    out = TinyDetr()(5, len(names))
    objs = outputs_to_objects(out["pred_logits"].detach().numpy(),
                              out["pred_boxes"].detach().numpy(),
                              (1000.0, 800.0), names)
    assert len(objs) == 1 and objs[0]["label"] == "table"
    assert objs[0]["score"] > 0.8
    assert objs[0]["bbox"] == [400.0, 320.0, 600.0, 480.0]
