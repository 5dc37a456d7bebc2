"""Deterministic kernels that run inside the Arrow-batched pandas stages
(the fused ``mapInPandas`` page kernel, grouped ``applyInPandas``)."""

from .slotting import (
    greedy_nms,
    nms_by_containment,
    order_by_score,
    slot_into_containers,
)
from .structure import objects_to_cells
from .text import assemble_text, text_inside_bbox

__all__ = [
    "assemble_text",
    "text_inside_bbox",
    "greedy_nms",
    "nms_by_containment",
    "order_by_score",
    "slot_into_containers",
    "objects_to_cells",
]
