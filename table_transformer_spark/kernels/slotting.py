"""Containment assignment + greedy suppression primitives.

These are the order-sensitive primitives of the reference pipeline
(``src/postprocess.py:183-270,443-485``).  The table-structure chain
(``kernels/structure.py``) runs them inside the fused ``mapInPandas``
page kernel (``pipeline/fused.py``), once per pass over a chunk of an
Arrow batch: the boxes of every table in the chunk sit in flat arrays
tagged with the table's segment id, and :func:`segment_pairs`
enumerates each table's (package, container) pairs, so one numpy pass
serves all tables.
Greedy *order* is semantics (a hash-join reformulation would change
results): the segmented passes keep the per-table tie orders, and the
inherently sequential greedy scan (:func:`greedy_nms`) stays a Python
loop over tiny inputs (≤125 structure objects per table — the DETR
query budget, ``src/structure_config.json:23``).

The dict-based one-table helpers (:func:`slot_into_containers`,
:func:`nms_by_containment`) run on the same primitives.  The DataFrame
twin of the assignment step is the argmax window over an iob
theta-join in ``driver_queries.q_argmax_slot_assignment``.
"""

from __future__ import annotations

import numpy as np

from ..geometry import (
    np_box_area,
    np_pair_iob,
    np_pairwise_intersection,
    np_run_starts,
)

__all__ = [
    "order_by_score",
    "segment_pairs",
    "first_max",
    "containment_pairs",
    "best_containers",
    "slot_into_containers",
    "greedy_nms_keep",
    "greedy_nms",
    "nms_by_containment",
    "drop_containers_without_text",
]


def order_by_score(objects, descending: bool = True):
    """Stable score ordering (``src/postprocess.py:251-259``).

    Stability matters: equal scores keep input order, which feeds the
    greedy tie-breaks downstream.
    """
    sign = -1.0 if descending else 1.0
    return sorted(objects, key=lambda o: sign * o["score"])


# --------------------------------------------------------------------------
# segmented passes
# --------------------------------------------------------------------------

def segment_pairs(seg_a: np.ndarray, seg_b: np.ndarray, n_seg: int):
    """All index pairs ``(i, j)`` with ``seg_a[i] == seg_b[j]``, ordered
    by ``i`` and then ``j``.  *seg_b* must be non-decreasing (each
    segment's b-rows contiguous); *seg_a* may be in any order."""
    counts_b = np.bincount(seg_b, minlength=n_seg)
    start_b = np.cumsum(counts_b) - counts_b
    per_a = counts_b[seg_a]
    first = np.cumsum(per_a) - per_a
    ia = np.repeat(np.arange(len(seg_a)), per_a)
    jb = np.repeat(start_b[seg_a] - first, per_a) + np.arange(ia.size)
    return ia, jb


def first_max(groups: np.ndarray, values: np.ndarray):
    """Segment-wise ``np.argmax`` over pairs ordered by *groups*: for
    each run of equal group ids, ``(group id, position of the run's
    first maximum, the maximum)``.  The first occurrence is the
    reference's stable ``sorted(key=-score)`` tie-break."""
    if groups.size == 0:
        empty = np.zeros(0, dtype=np.intp)
        return empty, empty, np.zeros(0)
    starts = np_run_starts(groups)
    best = np.maximum.reduceat(values, starts)
    counts = np.diff(starts, append=groups.size)
    pos = np.where(values == np.repeat(best, counts),
                   np.arange(groups.size), groups.size)
    return groups[starts], np.minimum.reduceat(pos, starts), best


def containment_pairs(pkg_boxes, pkg_seg, con_boxes, con_seg, n_seg):
    """Within-segment (package, container) pairs and the fraction of
    each package's area inside the container.  The reference divides
    unconditionally (tokens always have positive area there); zero-area
    packages get fraction 0 instead of a crash."""
    ip, jc = segment_pairs(pkg_seg, con_seg, n_seg)
    return ip, jc, np_pair_iob(pkg_boxes[ip], con_boxes[jc])


def best_containers(ip, jc, frac, n_pkg: int):
    """Per package: the container holding the largest fraction of it
    (ties → the earlier container of the pair order) and that
    fraction; ``(-1, 0.0)`` for a package without containers.  *ip*
    must be grouped (the order :func:`segment_pairs` returns)."""
    best_c = np.full(n_pkg, -1, dtype=np.intp)
    best_f = np.zeros(n_pkg)
    pkg, first, best = first_max(ip, frac)
    best_c[pkg] = jc[first]
    best_f[pkg] = best
    return best_c, best_f


def drop_containers_without_text(ip, jc, frac, has_text, n_con: int):
    """Keep-mask of the containers whose contained text is non-empty
    (``src/postprocess.py:262-270``): a span is contained at iob ≥ 0.5.
    Assembled text is empty exactly when every contained span is blank
    or an integer superscript, so *has_text* (per package) settles it
    without assembling any string."""
    hit = (frac >= 0.5) & has_text[ip]
    return np.bincount(jc[hit], minlength=n_con) > 0


def greedy_nms_keep(boxes: np.ndarray, match_criteria: str = "object2_overlap",
                    match_threshold: float = 0.05) -> list:
    """Keep flags of greedy pairwise non-maxima suppression over boxes
    already in score order (``src/postprocess.py:443-485``).

    A later (lower-score) box is suppressed as soon as its overlap
    metric against any earlier surviving box reaches the threshold.
    Division-by-zero pairs are skipped, matching the reference's
    swallow-and-continue ``except`` (``src/postprocess.py:481-483``).
    """
    areas = np_box_area(boxes)
    inter = np_pairwise_intersection(boxes, boxes)
    n = len(boxes)
    suppressed = [False] * n
    for j in range(1, n):
        for i in range(j):
            if suppressed[i]:
                continue
            if match_criteria == "object1_overlap":
                denom = areas[i]
            elif match_criteria == "object2_overlap":
                denom = areas[j]
            elif match_criteria == "iou":
                denom = areas[i] + areas[j] - inter[i, j]
            else:
                raise ValueError(f"unknown match criteria: {match_criteria}")
            if denom <= 0.0:
                continue  # reference recovers from divide-by-zero
            if inter[i, j] / denom >= match_threshold:
                suppressed[j] = True
                break
    return [not s for s in suppressed]


# --------------------------------------------------------------------------
# one-table helpers over object dicts
# --------------------------------------------------------------------------

def _boxes(objects) -> np.ndarray:
    return np.asarray([o["bbox"] for o in objects], dtype=float).reshape(-1, 4)


def slot_into_containers(containers, packages, overlap_threshold: float = 0.5,
                         unique_assignment: bool = True,
                         forced_assignment: bool = False):
    """Assign each package to the container(s) holding the largest
    fraction of its area (``src/postprocess.py:208-248``).

    Returns ``(per_container_package_indices, per_package_container_indices,
    best_fraction_per_package)``.  Tie-break: ties in overlap fraction go
    to the lower container index (the reference sorts candidates with a
    stable descending sort, ``src/postprocess.py:232-238``).
    """
    by_container = [[] for _ in containers]
    by_package = [[] for _ in packages]
    if not containers or not packages:
        return by_container, by_package, []

    ip, jc, frac = containment_pairs(
        _boxes(packages), np.zeros(len(packages), dtype=np.intp),
        _boxes(containers), np.zeros(len(containers), dtype=np.intp), 1)
    best_c, best_f = best_containers(ip, jc, frac, len(packages))
    take = (best_f >= overlap_threshold) | forced_assignment
    if unique_assignment:
        for p in np.flatnonzero(take).tolist():
            c = int(best_c[p])
            by_container[c].append(p)
            by_package[p].append(c)
        return by_container, by_package, best_f.tolist()

    # every further container at ≥ threshold, in the reference's stable
    # descending order (the first one below the threshold ends the scan)
    order = np.lexsort((jc, -frac, ip))
    rank = np.arange(order.size) - np.repeat(
        np.arange(0, order.size, len(containers)), len(containers))
    for p, c, f, r in zip(ip[order].tolist(), jc[order].tolist(),
                          frac[order].tolist(), rank.tolist()):
        if (r == 0 and take[p]) or (r > 0 and f >= overlap_threshold):
            by_container[c].append(p)
            by_package[p].append(c)
    return by_container, by_package, best_f.tolist()


def greedy_nms(objects, match_criteria: str = "object2_overlap",
               match_threshold: float = 0.05, keep_higher: bool = True):
    """Greedy pairwise non-maxima suppression over object dicts
    (``src/postprocess.py:443-485``); see :func:`greedy_nms_keep`."""
    if not objects:
        return []
    objs = order_by_score(objects, descending=keep_higher)
    keep = greedy_nms_keep(_boxes(objs), match_criteria, match_threshold)
    return [o for o, k in zip(objs, keep) if k]


def nms_by_containment(containers, packages, overlap_threshold: float = 0.5):
    """Suppress a container when a higher-score container already owns
    any of its packages, or when it owns none
    (``src/postprocess.py:183-205``).

    Each package has at most one owner (unique assignment), so no
    container shares a package with an earlier one: the reference's
    pairwise scan reduces to suppressing every container that owns no
    package.  Quirk preserved: the top-score container is never
    suppressed, even when it contains no packages (the scan starts at
    index 1).
    """
    ordered = order_by_score(containers)
    owned, _, _ = slot_into_containers(
        ordered, packages, overlap_threshold=overlap_threshold)
    return [o for j, (o, mine) in enumerate(zip(ordered, owned))
            if j == 0 or mine]
