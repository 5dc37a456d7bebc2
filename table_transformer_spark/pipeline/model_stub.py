"""DETR-shaped inference interface: raw model tensors → objects.

The real pipeline runs two DETR models (detection Q=15, structure Q=125;
``src/detection_config.json:23``, ``src/structure_config.json:23``)
whose raw outputs are ``pred_logits [B, Q, C+1]`` and ``pred_boxes
[B, Q, 4]`` in normalized cxcywh.  This module implements the
*postprocessing half* of that contract for real —
:func:`outputs_to_objects` (softmax → argmax → drop 'no object' →
cxcywh→xyxy rescale, ``src/inference.py:236-250``) in vectorized
numpy — plus a deterministic fake forward pass that encodes known
objects into (logits, boxes) tensors.  Swapping
:func:`fake_forward` for ``model(pixel_batch)`` is the only change
needed to run real weights: the Arrow-batch topology, preprocessing
constants (MaxResize 800/1000 + ImageNet normalization,
``src/inference.py:27-49``) and postprocessing stay identical.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "box_cxcywh_to_xyxy",
    "rescale_boxes",
    "outputs_to_objects",
    "fake_forward",
    "MAX_RESIZE_DETECTION",
    "MAX_RESIZE_STRUCTURE",
    "IMAGENET_MEAN",
    "IMAGENET_STD",
]

# preprocessing constants (src/inference.py:27-49)
MAX_RESIZE_DETECTION = 800
MAX_RESIZE_STRUCTURE = 1000
IMAGENET_MEAN = (0.485, 0.456, 0.406)
IMAGENET_STD = (0.229, 0.224, 0.225)


def box_cxcywh_to_xyxy(boxes: np.ndarray) -> np.ndarray:
    """(N, 4) normalized center boxes → corner boxes
    (``src/inference.py:123-126``)."""
    cx, cy, w, h = boxes[:, 0], boxes[:, 1], boxes[:, 2], boxes[:, 3]
    return np.stack([cx - 0.5 * w, cy - 0.5 * h,
                     cx + 0.5 * w, cy + 0.5 * h], axis=1)


def rescale_boxes(boxes: np.ndarray, size: tuple[float, float]) -> np.ndarray:
    """Normalized xyxy → image coordinates (``src/inference.py:129-133``)."""
    w, h = size
    return boxes * np.array([w, h, w, h], dtype=np.float64)


def _softmax(x: np.ndarray) -> np.ndarray:
    e = np.exp(x - x.max(axis=-1, keepdims=True))
    return e / e.sum(axis=-1, keepdims=True)


def outputs_to_objects(pred_logits: np.ndarray, pred_boxes: np.ndarray,
                       img_size: tuple[float, float],
                       class_names: list[str]) -> list[dict]:
    """One image's raw tensors → [{label, score, bbox}, ...]
    (``src/inference.py:236-250``): per-query softmax max, 'no object'
    queries dropped, boxes rescaled to image space."""
    probs = _softmax(pred_logits)          # (Q, C+1)
    labels = probs.argmax(axis=-1)         # (Q,)
    scores = probs.max(axis=-1)
    boxes = rescale_boxes(box_cxcywh_to_xyxy(pred_boxes), img_size)

    objects = []
    for label, score, bbox in zip(labels, scores, boxes):
        name = class_names[int(label)]
        if name != "no object":
            objects.append({"label": name, "score": float(score),
                            "bbox": [float(v) for v in bbox]})
    return objects


def fake_forward(objects: list[dict], img_size: tuple[float, float],
                 class_names: list[str], num_queries: int,
                 logit_scale: float = 12.0):
    """Deterministic stand-in for the DETR forward pass: encode known
    objects into (pred_logits [Q, C+1], pred_boxes [Q, 4] cxcywh) such
    that :func:`outputs_to_objects` recovers them (scores ≈ the encoded
    confidence).  Surplus queries point at 'no object'."""
    n_classes = len(class_names)
    no_obj = class_names.index("no object")
    w, h = img_size
    logits = np.zeros((num_queries, n_classes))
    logits[:, no_obj] = logit_scale
    boxes = np.tile(np.array([0.5, 0.5, 0.01, 0.01]), (num_queries, 1))

    for q, obj in enumerate(objects[:num_queries]):
        cls = class_names.index(obj["label"])
        # choose a logit margin whose softmax max ≈ the desired score
        p = min(max(obj["score"], 1.0 / n_classes + 1e-6), 1 - 1e-6)
        margin = np.log(p * (n_classes - 1) / (1 - p))
        logits[q, :] = 0.0
        logits[q, cls] = margin
        x0, y0, x1, y1 = obj["bbox"]
        boxes[q] = [((x0 + x1) / 2) / w, ((y0 + y1) / 2) / h,
                    (x1 - x0) / w, (y1 - y0) / h]
    return logits, boxes
