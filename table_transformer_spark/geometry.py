"""Axis-aligned box algebra with PyMuPDF ``fitz.Rect`` edge semantics.

The reference pipeline (microsoft/table-transformer) leans on ``fitz.Rect``
for every geometric primitive (imported at ``src/postprocess.py:6``,
``src/grits.py:10``, ``src/inference.py:13``).  The semantics that are
load-bearing downstream (see SURVEY.md §2.10):

* ``Rect()`` starts as the degenerate box ``(0, 0, 0, 0)`` which is *empty*.
* ``include_rect`` on an empty accumulator adopts the other box instead of
  dragging the hull toward the origin; including an empty box is a no-op.
* ``intersect`` of disjoint boxes yields a box whose area is 0 (negative
  extents clamp to zero area, PyMuPDF ``width``/``height`` are ``max(0, ·)``).
* a box is *empty* when ``x0 >= x1 or y0 >= y1``.

Everything here is dependency-free (list / numpy based) so it can run inside
Arrow-batched pandas kernels on executors.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "Box",
    "box_area",
    "box_intersect",
    "box_union",
    "iob",
    "iou",
    "overlaps",
    "np_box_area",
    "np_pairwise_intersection",
    "np_iob_matrix",
    "np_iou_matrix",
    "np_pair_iob",
    "np_fitz_intersect",
    "np_segment_hull",
    "np_run_starts",
]

_EMPTY = (0.0, 0.0, 0.0, 0.0)


class Box:
    """Mutable rectangle mirroring the ``fitz.Rect`` operations the
    reference uses: ``intersect``, ``include_rect``, ``get_area``,
    indexing, and ``list()`` conversion.

    Semantics cross-checked against PyMuPDF's pure-Python Rect
    (empty/invalid handling, see module docstring).
    """

    __slots__ = ("x0", "y0", "x1", "y1")

    def __init__(self, coords=None):
        if coords is None:
            self.x0, self.y0, self.x1, self.y1 = _EMPTY
        else:
            c = list(coords)
            if len(c) != 4:
                raise ValueError("Box expects 4 coordinates")
            self.x0, self.y0, self.x1, self.y1 = (
                float(c[0]),
                float(c[1]),
                float(c[2]),
                float(c[3]),
            )

    # -- predicates -------------------------------------------------------
    @property
    def is_empty(self) -> bool:
        return self.x0 >= self.x1 or self.y0 >= self.y1

    # -- fitz.Rect API subset ---------------------------------------------
    def get_area(self) -> float:
        w = self.x1 - self.x0
        h = self.y1 - self.y0
        if w <= 0.0 or h <= 0.0:
            return 0.0
        return w * h

    def intersect(self, other) -> "Box":
        """Restrict self to the common area (mutates and returns self).

        PyMuPDF ordering: an empty *other* replaces self; an empty *self*
        is left untouched; otherwise componentwise max/min.
        """
        o = other if isinstance(other, Box) else Box(other)
        if o.is_empty:
            self.x0, self.y0, self.x1, self.y1 = o.x0, o.y0, o.x1, o.y1
        elif self.is_empty:
            pass
        else:
            self.x0 = max(self.x0, o.x0)
            self.y0 = max(self.y0, o.y0)
            self.x1 = min(self.x1, o.x1)
            self.y1 = min(self.y1, o.y1)
        return self

    def include_rect(self, other) -> "Box":
        """Grow self to contain *other* (mutates and returns self)."""
        o = other if isinstance(other, Box) else Box(other)
        if o.is_empty:
            return self
        if self.is_empty:
            self.x0, self.y0, self.x1, self.y1 = o.x0, o.y0, o.x1, o.y1
        else:
            self.x0 = min(self.x0, o.x0)
            self.y0 = min(self.y0, o.y0)
            self.x1 = max(self.x1, o.x1)
            self.y1 = max(self.y1, o.y1)
        return self

    # -- sequence protocol (reference code does list(rect), rect[i]) -------
    def __getitem__(self, i):
        return (self.x0, self.y0, self.x1, self.y1)[i]

    def __len__(self):
        return 4

    def __iter__(self):
        return iter((self.x0, self.y0, self.x1, self.y1))

    def tolist(self):
        return [self.x0, self.y0, self.x1, self.y1]

    def __repr__(self):  # pragma: no cover - debugging aid
        return f"Box({self.x0}, {self.y0}, {self.x1}, {self.y1})"


# -- scalar helpers (reference: src/postprocess.py:34-58,296-304) ----------

def box_area(b) -> float:
    w = b[2] - b[0]
    h = b[3] - b[1]
    if w <= 0.0 or h <= 0.0:
        return 0.0
    return w * h


def box_intersect(b1, b2):
    """Intersection coordinates (may be degenerate; area clamps to 0)."""
    return (
        max(b1[0], b2[0]),
        max(b1[1], b2[1]),
        min(b1[2], b2[2]),
        min(b1[3], b2[3]),
    )


def box_union(b1, b2):
    return (
        min(b1[0], b2[0]),
        min(b1[1], b2[1]),
        max(b1[2], b2[2]),
        max(b1[3], b2[3]),
    )


def iob(b1, b2) -> float:
    """Intersection area over the area of ``b1``.

    The join predicate of the whole system (reference
    ``src/postprocess.py:48-58``; threshold 0.5 everywhere).
    """
    a1 = box_area(b1)
    if a1 > 0.0:
        return box_area(box_intersect(b1, b2)) / a1
    return 0.0


def iou(b1, b2) -> float:
    """Intersection over union (reference ``src/postprocess.py:34-45``).

    Matches fitz semantics: the union box is the *hull* of both boxes,
    with empty boxes skipped by ``include_rect``.
    """
    u = Box(b1).include_rect(b2)
    ua = u.get_area()
    if ua > 0.0:
        return box_area(box_intersect(b1, b2)) / ua
    return 0.0


def overlaps(b1, b2, threshold: float = 0.5) -> bool:
    """True when ≥ *threshold* of ``b1`` lies inside ``b2``
    (reference ``src/postprocess.py:296-304``)."""
    a1 = box_area(b1)
    if a1 == 0.0:
        return False
    return box_area(box_intersect(b1, b2)) / a1 >= threshold


# -- vectorized helpers for batch kernels -----------------------------------

def np_box_area(boxes: np.ndarray) -> np.ndarray:
    """Areas for an (N, 4) float array, degenerate boxes → 0."""
    # np.maximum beats np.clip here: clip routes through a Python-level
    # wrapper per call and these run thousands of times per Arrow batch
    w = np.maximum(boxes[:, 2] - boxes[:, 0], 0.0)
    h = np.maximum(boxes[:, 3] - boxes[:, 1], 0.0)
    return w * h


def np_pairwise_intersection(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(N, M) intersection areas between box sets (N,4) and (M,4)."""
    if a.size == 0 or b.size == 0:
        return np.zeros((a.shape[0], b.shape[0]))
    x0 = np.maximum(a[:, None, 0], b[None, :, 0])
    y0 = np.maximum(a[:, None, 1], b[None, :, 1])
    x1 = np.minimum(a[:, None, 2], b[None, :, 2])
    y1 = np.minimum(a[:, None, 3], b[None, :, 3])
    return np.maximum(x1 - x0, 0.0) * np.maximum(y1 - y0, 0.0)


def np_iob_matrix(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(N, M) matrix of iob(a_i, b_j) — intersection over area of a_i."""
    inter = np_pairwise_intersection(a, b)
    areas = np_box_area(a)
    out = np.zeros_like(inter)
    nz = areas > 0.0
    out[nz, :] = inter[nz, :] / areas[nz, None]
    return out


def np_pair_iob(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """iob(a_i, b_i) for two aligned (N, 4) arrays — intersection over
    the area of a_i, 0 where a_i has no area."""
    x0 = np.maximum(a[:, 0], b[:, 0])
    y0 = np.maximum(a[:, 1], b[:, 1])
    x1 = np.minimum(a[:, 2], b[:, 2])
    y1 = np.minimum(a[:, 3], b[:, 3])
    inter = np.maximum(x1 - x0, 0.0) * np.maximum(y1 - y0, 0.0)
    areas = np_box_area(a)
    return np.divide(inter, areas, out=np.zeros_like(inter),
                     where=areas > 0.0)


def _np_is_empty(boxes: np.ndarray) -> np.ndarray:
    return (boxes[:, 0] >= boxes[:, 2]) | (boxes[:, 1] >= boxes[:, 3])


def np_fitz_intersect(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise ``Box(a_i).intersect(b_i)``: an empty *b* replaces *a*,
    an empty *a* is kept, otherwise componentwise max/min."""
    out = np.concatenate([np.maximum(a[:, :2], b[:, :2]),
                          np.minimum(a[:, 2:], b[:, 2:])], axis=1)
    out = np.where(_np_is_empty(a)[:, None], a, out)
    return np.where(_np_is_empty(b)[:, None], b, out)


def np_run_starts(groups: np.ndarray) -> np.ndarray:
    """Index of the first element of each run of equal values."""
    if groups.size == 0:
        return np.zeros(0, dtype=np.intp)
    return np.concatenate(([0], np.flatnonzero(groups[1:] != groups[:-1]) + 1))


def np_segment_hull(boxes: np.ndarray, groups: np.ndarray,
                    n_groups: int) -> np.ndarray:
    """(n_groups, 4) hulls of the boxes of each group with fitz
    ``include_rect`` semantics: starting from the empty box, empty
    members are skipped, so a group without a non-empty member gets
    (0, 0, 0, 0).  *groups* must be non-decreasing."""
    out = np.zeros((n_groups, 4))
    keep = ~_np_is_empty(boxes)
    boxes, groups = boxes[keep], groups[keep]
    if groups.size:
        starts = np_run_starts(groups)
        ids = groups[starts]
        out[ids, :2] = np.minimum.reduceat(boxes[:, :2], starts, axis=0)
        out[ids, 2:] = np.maximum.reduceat(boxes[:, 2:], starts, axis=0)
    return out


def np_iou_matrix(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(N, M) matrix of iou(a_i, b_j) with hull-union semantics."""
    inter = np_pairwise_intersection(a, b)
    # hull union (include_rect semantics): skip empty boxes
    area_a = np_box_area(a)
    area_b = np_box_area(b)
    x0 = np.where(
        area_b[None, :] == 0.0,
        a[:, None, 0],
        np.where(area_a[:, None] == 0.0, b[None, :, 0], np.minimum(a[:, None, 0], b[None, :, 0])),
    )
    y0 = np.where(
        area_b[None, :] == 0.0,
        a[:, None, 1],
        np.where(area_a[:, None] == 0.0, b[None, :, 1], np.minimum(a[:, None, 1], b[None, :, 1])),
    )
    x1 = np.where(
        area_b[None, :] == 0.0,
        a[:, None, 2],
        np.where(area_a[:, None] == 0.0, b[None, :, 2], np.maximum(a[:, None, 2], b[None, :, 2])),
    )
    y1 = np.where(
        area_b[None, :] == 0.0,
        a[:, None, 3],
        np.where(area_a[:, None] == 0.0, b[None, :, 3], np.maximum(a[:, None, 3], b[None, :, 3])),
    )
    union = np.maximum(x1 - x0, 0.0) * np.maximum(y1 - y0, 0.0)
    out = np.zeros_like(inter)
    nz = union > 0.0
    out[nz] = inter[nz] / union[nz]
    return out
