"""Table-structure canonicalization: model objects → consistent cell grid.

This is the deterministic kernel of the pipeline — the faithful
re-expression of the reference chain ``objects_to_cells`` =
``objects_to_table_structures`` + ``table_structure_to_cells``
(``src/postprocess.py:61-843``).  The fused ``mapInPandas`` page kernel
(``pipeline/fused.py``) runs it once per pass over a chunk of an Arrow
batch, on all tables of the chunk at once.  A :class:`TableBatch` lays
the tables' tokens and structure objects out as flat arrays tagged with
each table's segment id.  Each geometric step is then one segmented
numpy pass over the whole batch: containment slotting, the
empty-container test, the table hull, the grid lattice, supercell
coverage, the hull dilation and the text-extent refit.  Python loops
remain only for greedy NMS (headers, and the rows/columns of tables
without tokens), the supercell steps (alignment, NMS and the header
tree, per table that has supercells — under one per table) and
per-cell text assembly.  :func:`objects_to_cells` is the one-table call
into the same kernel.

Field conventions follow the ``postprocess.py`` twin of the chain:
rows carry ``header`` (bool), supercells carry ``subheader`` (bool,
True = projected row header).  Every tie order and fitz empty-box rule
of the reference is kept; the kernel never mutates its inputs.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from ..geometry import (
    Box,
    np_fitz_intersect,
    np_pair_iob,
    np_run_starts,
    np_segment_hull,
)
from .slotting import (
    best_containers,
    containment_pairs,
    drop_containers_without_text,
    first_max,
    greedy_nms_keep,
    order_by_score,
    segment_pairs,
    slot_into_containers,
)
from .text import assemble_text, span_has_text

__all__ = [
    "LABEL_CODES",
    "TableBatch",
    "TableCells",
    "objects_to_cells",
    "objects_to_cells_batch",
    "build_table_structures",
    "structures_to_cells",
    "align_supercells",
    "nms_supercells",
    "header_supercell_tree",
    "shrink_supercell_overlap",
    # one-table primitive, re-exported with the chain it belongs to
    "slot_into_containers",
]

_LABELS = ("table", "table row", "table column", "table column header",
           "table spanning cell", "table projected row header")
# structure label → integer code; labels the chain ignores map to -1
LABEL_CODES = {name: code for code, name in enumerate(_LABELS)}
TABLE, ROW, COLUMN, HEADER, SPANNING, PROJECTED = range(len(_LABELS))


def _boxes(items) -> np.ndarray:
    return np.asarray([o["bbox"] for o in items], dtype=float).reshape(-1, 4)


def _starts(sizes: np.ndarray) -> np.ndarray:
    return np.cumsum(sizes) - sizes


def _runs(seg: np.ndarray):
    """(segment id, start, end) of each run of equal ids."""
    if seg.size == 0:
        return []
    starts = np_run_starts(seg)
    ends = np.append(starts[1:], seg.size)
    return zip(seg[starts].tolist(), starts.tolist(), ends.tolist())


@dataclass
class TableBatch:
    """The tables of one batch as flat arrays.  Token and object rows
    carry the segment id (0 .. n_tables-1) of their table; each table's
    rows are contiguous, in segment order, and keep their input order.
    Boxes are in table-crop coordinates."""

    n_tables: int
    tok_seg: np.ndarray
    tok_box: np.ndarray
    tok_spans: list          # reading-order span mappings of the tokens
    obj_seg: np.ndarray
    obj_box: np.ndarray
    obj_label: np.ndarray    # LABEL_CODES values
    obj_score: np.ndarray
    objects: list | None = None  # source dicts (one-table structures output)

    @classmethod
    def from_tables(cls, tables) -> "TableBatch":
        """Batch from ``[(objects, tokens), ...]`` dict lists."""
        objects = [o for objs, _ in tables for o in objs]
        tokens = [t for _, toks in tables for t in toks]
        seg = np.arange(len(tables))
        return cls(
            n_tables=len(tables),
            tok_seg=np.repeat(seg, [len(toks) for _, toks in tables]),
            tok_box=_boxes(tokens),
            tok_spans=tokens,
            obj_seg=np.repeat(seg, [len(objs) for objs, _ in tables]),
            obj_box=_boxes(objects),
            obj_label=np.array([LABEL_CODES.get(o["label"], -1)
                                for o in objects], dtype=np.intp),
            obj_score=np.array([o["score"] for o in objects], dtype=float),
            objects=objects)


@dataclass
class Structures:
    """Refined rows and columns of every table (tables in segment order,
    rows top to bottom, columns left to right) plus the aligned
    supercells of the tables that have any."""

    rows: np.ndarray         # object index of each surviving row
    row_seg: np.ndarray
    row_box: np.ndarray      # snapped to the table's column extent
    row_header: np.ndarray
    columns: np.ndarray
    col_seg: np.ndarray
    col_box: np.ndarray      # snapped to the table's row extent
    refined: np.ndarray      # per table: ≥1 row and >1 column
    supercells: dict         # segment id → supercell dicts
    # per table: row/column counts and offsets into the row/column arrays
    n_rows: np.ndarray = field(init=False)
    n_cols: np.ndarray = field(init=False)
    row_start: np.ndarray = field(init=False)
    col_start: np.ndarray = field(init=False)

    def __post_init__(self):
        n = self.refined.size
        self.n_rows = np.bincount(self.row_seg, minlength=n)
        self.n_cols = np.bincount(self.col_seg, minlength=n)
        self.row_start = _starts(self.n_rows)
        self.col_start = _starts(self.n_cols)


@dataclass
class TableCells:
    """Cells of every table, each table's cells contiguous and in kernel
    order: non-covered grid cells column-major, then merged supercells.
    Row and column numbers are per table, ascending."""

    confidence: list         # per table; 0 when it has no cells or tokens
    start: np.ndarray        # (n_tables + 1,) cell offsets
    bbox: np.ndarray
    row_nums: list
    column_nums: list
    header: np.ndarray
    subheader: np.ndarray
    text: list
    cell_tokens: list        # token indices of each cell, in token order
    batch: TableBatch
    structures: Structures
    row_box: np.ndarray      # rows/columns refit to the text extents
    col_box: np.ndarray

    def packed(self) -> list:
        """Per table: ``(cell_num, bbox, row_nums, column_nums,
        is_column_header, is_projected_row_header, cell_text)`` tuples
        ordered by (min row, min col) — the ``cells_to_html`` order
        (``src/inference.py:541-542``)."""
        first_row = [r[0] for r in self.row_nums]
        first_col = [c[0] for c in self.column_nums]
        seg = np.repeat(np.arange(len(self.confidence)), np.diff(self.start))
        order = np.lexsort((first_col, first_row, seg)).tolist()
        bbox = self.bbox.tolist()
        header = self.header.tolist()
        subheader = self.subheader.tolist()
        start = self.start.tolist()
        return [[(i, bbox[k], self.row_nums[k], self.column_nums[k],
                  header[k], subheader[k], self.text[k])
                 for i, k in enumerate(order[a:b])]
                for a, b in zip(start[:-1], start[1:])]

    def table_cells(self, i: int) -> list:
        """Cell dicts of table *i* in kernel order."""
        spans = self.batch.tok_spans
        return [{"bbox": self.bbox[k].tolist(),
                 "column_nums": list(self.column_nums[k]),
                 "row_nums": list(self.row_nums[k]),
                 "header": bool(self.header[k]),
                 "subheader": bool(self.subheader[k]),
                 "cell_text": self.text[k],
                 "spans": [spans[t] for t in self.cell_tokens[k]]}
                for k in range(self.start[i], self.start[i + 1])]

    def table_structures(self, i: int) -> dict:
        """{rows, columns, headers, supercells} of table *i*: rows and
        columns refit to the text extents, the header as the hull of the
        header rows (refined tables) or the raw header objects."""
        batch, st = self.batch, self.structures
        objects = batch.objects or [{} for _ in range(len(batch.obj_seg))]
        in_table = np.flatnonzero(batch.obj_seg == i)
        rows = np.flatnonzero(st.row_seg == i)
        cols = np.flatnonzero(st.col_seg == i)
        structures = {
            "rows": [{**objects[st.rows[r]], "bbox": self.row_box[r].tolist(),
                      "header": bool(st.row_header[r])} for r in rows],
            "columns": [{**objects[st.columns[c]],
                         "bbox": self.col_box[c].tolist()} for c in cols],
        }
        if st.refined[i]:
            hull = Box()
            for r in rows[st.row_header[rows]]:
                hull.include_rect(st.row_box[r])
            structures["headers"] = ([{"bbox": hull.tolist()}]
                                     if st.row_header[rows].any() else [])
        else:
            structures["headers"] = [
                dict(objects[o])
                for o in in_table[batch.obj_label[in_table] == HEADER]]
        structures["supercells"] = st.supercells.get(i, [])
        return structures


# --------------------------------------------------------------------------
# supercell alignment, per table (src/postprocess.py:538-689)
# --------------------------------------------------------------------------

def align_supercells(supercells, rows, columns):
    """Snap each spanning cell to the rows/columns it overlaps ≥50% of,
    with header-boundary and span-leniency rules
    (``src/postprocess.py:538-639``).

    * a supercell may not cross the header/body boundary — the smaller
      row group is dropped (``:572-576``);
    * header *span* supercells ('span' key present) get a ×2-lenient
      column test (``:598-603``) and must sit in the header (``:579-580``);
    * surviving header span supercells propagate synthetic single-row
      supercells upward so the header tree stays connected (``:625-637``).
    """
    aligned = []

    for sc in supercells:
        sc["header"] = False
        header_rows, data_rows = set(), set()
        sc_h = sc["bbox"][3] - sc["bbox"][1]
        for row_num, row in enumerate(rows):
            row_h = row["bbox"][3] - row["bbox"][1]
            overlap = (min(row["bbox"][3], sc["bbox"][3])
                       - max(row["bbox"][1], sc["bbox"][1]))
            if "span" in sc:
                frac = max(overlap / row_h if row_h > 0 else 0.0,
                           overlap / sc_h if sc_h > 0 else 0.0)
            else:
                frac = overlap / row_h if row_h > 0 else 0.0
            if frac >= 0.5:
                if row.get("header"):
                    header_rows.add(row_num)
                else:
                    data_rows.add(row_num)

        if header_rows and data_rows:
            # cannot span the header boundary: keep the larger group
            if len(data_rows) > len(header_rows):
                header_rows = set()
            else:
                data_rows = set()
        if header_rows:
            sc["header"] = True
        elif "span" in sc:
            continue  # span supercells must live in the header

        picked_rows = data_rows | header_rows
        row_hull = None
        for row_num in picked_rows:
            if row_hull is None:
                row_hull = Box(rows[row_num]["bbox"])
            else:
                row_hull.include_rect(rows[row_num]["bbox"])
        if row_hull is None:
            continue

        picked_cols = []
        col_hull = None
        sc_w = sc["bbox"][2] - sc["bbox"][0]
        for col_num, col in enumerate(columns):
            col_w = col["bbox"][2] - col["bbox"][0]
            overlap = (min(col["bbox"][2], sc["bbox"][2])
                       - max(col["bbox"][0], sc["bbox"][0]))
            if "span" in sc:
                frac = max(overlap / col_w if col_w > 0 else 0.0,
                           overlap / sc_w if sc_w > 0 else 0.0)
                if sc["header"]:
                    frac *= 2  # effectively threshold 0.25
            else:
                frac = overlap / col_w if col_w > 0 else 0.0
            if frac >= 0.5:
                picked_cols.append(col_num)
                if col_hull is None:
                    col_hull = Box(col["bbox"])
                else:
                    col_hull.include_rect(col["bbox"])
        if col_hull is None:
            continue

        sc["bbox"] = row_hull.intersect(col_hull).tolist()

        # only a true supercell if it spans >1 row or >1 column
        if picked_rows and picked_cols and (len(picked_rows) > 1 or len(picked_cols) > 1):
            sc["row_numbers"] = sorted(picked_rows)
            sc["column_numbers"] = picked_cols
            aligned.append(sc)

            if "span" in sc and sc["header"] and len(sc["column_numbers"]) > 1:
                for row_num in range(0, min(sc["row_numbers"])):
                    span_cols = [columns[i] for i in sc["column_numbers"]]
                    span_rows = [rows[i] for i in sc["row_numbers"]]
                    aligned.append({
                        "row_numbers": [row_num],
                        "column_numbers": list(sc["column_numbers"]),
                        "score": sc["score"],
                        "propagated": True,
                        "bbox": [
                            min(c["bbox"][0] for c in span_cols),
                            min(r["bbox"][1] for r in span_rows),
                            max(c["bbox"][2] for c in span_cols),
                            max(r["bbox"][3] for r in span_rows),
                        ],
                    })

    return aligned


def shrink_supercell_overlap(winner, loser):
    """Shrink *loser*'s row/column sets until it no longer shares grid
    cells with *winner*, removing whichever dimension loses fewer grid
    cells each step (``src/postprocess.py:846-893``).  Mutates *loser*.
    """
    common_rows = set(winner["row_numbers"]) & set(loser["row_numbers"])
    common_cols = set(winner["column_numbers"]) & set(loser["column_numbers"])

    while common_rows and common_cols:
        if len(loser["row_numbers"]) < len(loser["column_numbers"]):
            # fewer rows than columns → drop a column (cheaper)
            lo, hi = min(loser["column_numbers"]), max(loser["column_numbers"])
            if hi in common_cols:
                common_cols.remove(hi)
                loser["column_numbers"].remove(hi)
            elif lo in common_cols:
                common_cols.remove(lo)
                loser["column_numbers"].remove(lo)
            else:
                loser["column_numbers"] = []
                common_cols = set()
        else:
            lo, hi = min(loser["row_numbers"]), max(loser["row_numbers"])
            if hi in common_rows:
                common_rows.remove(hi)
                loser["row_numbers"].remove(hi)
            elif lo in common_rows:
                common_rows.remove(lo)
                loser["row_numbers"].remove(lo)
            else:
                loser["row_numbers"] = []
                common_rows = set()


def nms_supercells(supercells):
    """Resolve supercell overlap by shrinking the lower-confidence one,
    suppressing it when it degenerates (``src/postprocess.py:642-663``).

    Quirk preserved: a later supercell is shrunk against *every* earlier
    one, including already-suppressed ones.
    """
    supercells = order_by_score(supercells)
    suppressed = [False] * len(supercells)
    for j in range(1, len(supercells)):
        for i in range(j):
            shrink_supercell_overlap(supercells[i], supercells[j])
        sc = supercells[j]
        if ((len(sc["row_numbers"]) < 2 and len(sc["column_numbers"]) < 2)
                or not sc["row_numbers"] or not sc["column_numbers"]):
            suppressed[j] = True
    return [sc for sc, s in zip(supercells, suppressed) if not s]


def header_supercell_tree(supercells):
    """Enforce the single-parent tree property over header supercells:
    every row above a header supercell must contribute exactly one
    ancestor, else the supercell is deleted from the main list
    (``src/postprocess.py:666-689``).

    Quirk preserved: deleted supercells stay in the local candidate list
    and keep counting as ancestors for later candidates.
    """
    header_scs = [sc for sc in supercells if sc.get("header")]
    header_scs = order_by_score(header_scs)

    for sc in header_scs[:]:
        ancestors_by_row = {}
        min_row = min(sc["row_numbers"])
        for other in header_scs:
            if max(other["row_numbers"]) < min_row:
                if set(sc["column_numbers"]) <= set(other["column_numbers"]):
                    for r in other["row_numbers"]:
                        ancestors_by_row[r] = ancestors_by_row.get(r, 0) + 1
        for row in range(min_row):
            if ancestors_by_row.get(row, 0) != 1:
                supercells.remove(sc)
                break




# --------------------------------------------------------------------------
# objects → structures (src/postprocess.py:83-180,372-440,488-535)
# --------------------------------------------------------------------------

def _greedy_nms_segments(boxes, seg, match_threshold) -> np.ndarray:
    """Keep-mask of :func:`greedy_nms_keep` run per segment over boxes in
    (segment, score) order, object2-overlap criterion."""
    keep = np.ones(seg.size, dtype=bool)
    for _, a, b in _runs(seg):
        if b - a > 1:
            keep[a:b] = greedy_nms_keep(boxes[a:b], "object2_overlap",
                                        match_threshold)
    return keep


def _refine(batch, objs, axis, nms_threshold, has_text) -> np.ndarray:
    """``refine_rows`` / ``refine_columns`` (``src/postprocess.py:147-180``)
    over every table: containment NMS plus the empty-container drop on
    tables with tokens, plain greedy NMS on the others, then a stable
    sort by box center along *axis*.  Returns the surviving object
    indices grouped by table."""
    seg, box = batch.obj_seg, batch.obj_box
    objs = objs[np.lexsort((-batch.obj_score[objs], seg[objs]))]
    oseg = seg[objs]
    with_tokens = np.bincount(batch.tok_seg, minlength=batch.n_tables) > 0
    keep = np.ones(objs.size, dtype=bool)

    # containment NMS: each token's best container (ties → higher
    # score) owns it; every container but each table's first must own a
    # token (see slotting.nms_by_containment)
    con = np.flatnonzero(with_tokens[oseg])
    con_seg = oseg[con]
    ip, jc, frac = containment_pairs(batch.tok_box, batch.tok_seg,
                                     box[objs[con]], con_seg,
                                     batch.n_tables)
    best_c, best_f = best_containers(ip, jc, frac, batch.tok_seg.size)
    owns = np.bincount(best_c[best_f >= 0.5], minlength=con.size) > 0
    first = np.zeros(con.size, dtype=bool)
    first[np_run_starts(con_seg)] = True
    keep[con] = (first | owns) & drop_containers_without_text(
        ip, jc, frac, has_text, con.size)

    plain = np.flatnonzero(~with_tokens[oseg])
    keep[plain] = _greedy_nms_segments(box[objs[plain]], oseg[plain],
                                       nms_threshold)

    objs, oseg = objs[keep], oseg[keep]
    center = box[objs, axis] + box[objs, axis + 2]
    return objs[np.lexsort((center, oseg))]


def _header_rows(batch, st, class_thresholds) -> np.ndarray:
    """``align_headers`` (``src/postprocess.py:488-535``) for the refined
    tables: header flags of their rows.

    The score-filtered, NMS'd header boxes hit every row they cover
    ≥50% of the row height; the hits, listed header by header, feed the
    reference's scan.  Quirks preserved: the run is forced to start at
    row 0 by prepending ``range(first+1)`` — so a first hit below row 0
    makes rows 0..first the header — and a duplicate or skipped row
    number ends the run.
    """
    seg, box, score = batch.obj_seg, batch.obj_box, batch.obj_score
    heads = np.flatnonzero(
        (batch.obj_label == HEADER)
        & (score >= class_thresholds["table column header"])
        & st.refined[seg])
    heads = heads[np.lexsort((-score[heads], seg[heads]))]
    heads = heads[_greedy_nms_segments(box[heads], seg[heads], 0.05)]

    ih, jr = segment_pairs(seg[heads], st.row_seg, batch.n_tables)
    rows, hb = st.row_box[jr], box[heads[ih]]
    height = rows[:, 3] - rows[:, 1]
    overlap = np.minimum(rows[:, 3], hb[:, 3]) - np.maximum(rows[:, 1], hb[:, 1])
    frac = np.divide(overlap, height, out=np.zeros_like(overlap),
                     where=height > 0)
    hit = (height > 0) & (frac >= 0.5)
    hit_seg = seg[heads[ih[hit]]]
    hit_row = jr[hit] - st.row_start[hit_seg]

    n_header = np.zeros(batch.n_tables, dtype=np.intp)
    if hit_seg.size:
        starts = np_run_starts(hit_seg)
        counts = np.diff(starts, append=hit_seg.size)
        rel = np.arange(hit_seg.size) - np.repeat(starts, counts)
        run = np.minimum.reduceat(
            np.where(hit_row != rel, rel, hit_seg.size), starts)
        first = hit_row[starts]
        n_header[hit_seg[starts]] = np.where(first > 0, first + 1,
                                             np.minimum(run, counts))
    local = np.arange(st.row_seg.size) - st.row_start[st.row_seg]
    return local < n_header[st.row_seg]


def _supercells(batch, st, class_thresholds) -> dict:
    """Supercell dicts per table: spanning cells first, then projected
    row headers, each in input order.  On refined tables they are
    score-filtered, then run through ``align_supercells`` →
    ``nms_supercells`` → ``header_supercell_tree``
    (``src/postprocess.py:404-440``); other tables keep them raw, as
    the reference does."""
    label, seg, score = batch.obj_label, batch.obj_seg, batch.obj_score
    thresholds = np.where(label == SPANNING,
                          class_thresholds["table spanning cell"],
                          class_thresholds["table projected row header"])
    scs = np.flatnonzero(((label == SPANNING) | (label == PROJECTED))
                         & (~st.refined[seg] | (score >= thresholds)))
    scs = scs[np.lexsort((label[scs] == PROJECTED, seg[scs]))]
    out = {}
    for s, a, b in _runs(seg[scs]):
        supercells = [
            {**(batch.objects[o] if batch.objects
                else {"label": _LABELS[label[o]]}),
             "score": float(score[o]), "bbox": batch.obj_box[o].tolist(),
             "subheader": bool(label[o] == PROJECTED)}
            for o in scs[a:b].tolist()]
        if st.refined[s]:
            r0, c0 = st.row_start[s], st.col_start[s]
            rows = [{"bbox": bb, "header": h} for bb, h in zip(
                st.row_box[r0:r0 + st.n_rows[s]].tolist(),
                st.row_header[r0:r0 + st.n_rows[s]].tolist())]
            cols = [{"bbox": bb}
                    for bb in st.col_box[c0:c0 + st.n_cols[s]].tolist()]
            supercells = nms_supercells(
                align_supercells(supercells, rows, cols))
            header_supercell_tree(supercells)
        if supercells:
            out[s] = supercells
    return out


def build_table_structures(batch: TableBatch, class_thresholds) -> Structures:
    """Model objects → consistent rows, columns and supercells for every
    table of the batch (``src/postprocess.py:83-144``).  Row and column
    score thresholds are unused, as in the reference."""
    n = batch.n_tables
    seg, box, label = batch.obj_seg, batch.obj_box, batch.obj_label
    has_text = np.fromiter(map(span_has_text, batch.tok_spans), dtype=bool,
                           count=len(batch.tok_spans))
    rows = _refine(batch, np.flatnonzero(label == ROW), 1, 0.5, has_text)
    cols = _refine(batch, np.flatnonzero(label == COLUMN), 0, 0.25, has_text)
    row_seg, col_seg = seg[rows], seg[cols]

    # a row is a header row when ≥50% of it lies in any header box
    heads = np.flatnonzero(label == HEADER)
    ir, jh = segment_pairs(row_seg, seg[heads], n)
    hit = np_pair_iob(box[rows[ir]], box[heads[jh]]) >= 0.5
    row_header = np.bincount(ir[hit], minlength=rows.size) > 0

    # shrink the table to the hull of its rows/columns, then snap the
    # rows to its x-extent and the columns to its y-extent
    row_hull = np_segment_hull(box[rows], row_seg, n)
    col_hull = np_segment_hull(box[cols], col_seg, n)
    row_box, col_box = box[rows], box[cols]
    row_box[:, [0, 2]] = col_hull[row_seg][:, [0, 2]]
    col_box[:, [1, 3]] = row_hull[col_seg][:, [1, 3]]

    refined = ((np.bincount(row_seg, minlength=n) > 0)
               & (np.bincount(col_seg, minlength=n) > 1))
    st = Structures(rows, row_seg, row_box, row_header, cols, col_seg,
                    col_box, refined, {})
    st.row_header = np.where(refined[row_seg],
                             _header_rows(batch, st, class_thresholds),
                             row_header)
    st.supercells = _supercells(batch, st, class_thresholds)
    return st


# --------------------------------------------------------------------------
# structures → cells (src/postprocess.py:692-843)
# --------------------------------------------------------------------------

def _extreme(ufunc, index, values, size):
    """(per-slot min/max of *values* scattered to *index*, slot hit?)"""
    out = np.full(size, np.inf if ufunc is np.minimum else -np.inf)
    ufunc.at(out, index, values)
    return out, np.bincount(index, minlength=size) > 0


def structures_to_cells(batch: TableBatch, st: Structures) -> TableCells:
    """Canonical cell grid + confidence for every table with ≥1 row and
    ≥1 column (``src/postprocess.py:692-843``).

    Cell order is column-major over the grid (outer loop over columns),
    then the merged supercells, matching the reference — this order
    feeds the slotting tie-breaks.
    """
    n = batch.n_tables
    n_rows, n_cols = st.n_rows, st.n_cols
    row_start, col_start = st.row_start, st.col_start

    # grid lattice, column-major per table: each grid cell is
    # Box(row).intersect(col) with the fitz empty-box rules
    tables = np.flatnonzero((n_rows > 0) & (n_cols > 0))
    size = n_rows[tables] * n_cols[tables]
    g_seg = np.repeat(tables, size)
    k = np.arange(g_seg.size) - np.repeat(_starts(size), size)
    g_nrows = n_rows[g_seg]
    g_row = row_start[g_seg] + k % g_nrows
    g_col = col_start[g_seg] + k // g_nrows
    grid = np_fitz_intersect(st.row_box[g_row], st.col_box[g_col])

    # supercell coverage: a grid cell with > 0.5 of its area inside a
    # supercell is covered; each supercell merges the cells it covers
    sc_list = [(s, sc) for s in sorted(st.supercells)
               for sc in st.supercells[s]]
    sc_seg = np.array([s for s, _ in sc_list], dtype=np.intp)
    sc_box = _boxes([sc for _, sc in sc_list])
    ig, js, frac = containment_pairs(grid, g_seg, sc_box, sc_seg, n)
    inside = frac > 0.5
    covered = np.bincount(ig[inside], minlength=g_seg.size) > 0
    order = np.lexsort((ig[inside], js[inside]))
    ig, js = ig[inside][order], js[inside][order]
    merged = np.unique(js)
    m_box = np.zeros((merged.size, 4))
    m_header = np.zeros(merged.size, dtype=bool)
    if js.size:
        # the hull of the merged cells (all non-empty by the area
        # guard) is an order-free componentwise min/max
        starts = np_run_starts(js)
        m_box[:, :2] = np.minimum.reduceat(grid[ig, :2], starts, axis=0)
        m_box[:, 2:] = np.maximum.reduceat(grid[ig, 2:], starts, axis=0)
        # a header cell only if all merged cells are (rectangular
        # header region)
        m_header = np.logical_and.reduceat(st.row_header[g_row[ig]], starts)
    m_of = np.searchsorted(merged, js)  # merged-cell number of each pair

    # cells of each table: non-covered grid cells, then merged ones
    grid_cells = np.flatnonzero(~covered)
    n_grid = grid_cells.size
    cat_seg = np.concatenate([g_seg[grid_cells], sc_seg[merged]])
    perm = np.argsort(cat_seg, kind="stable")
    rank = np.empty_like(perm)
    rank[perm] = np.arange(perm.size)
    n_cells = perm.size
    cell_seg = cat_seg[perm]
    cell_box = np.concatenate([grid[grid_cells], m_box])[perm]
    header = np.concatenate([st.row_header[g_row[grid_cells]],
                             m_header])[perm]
    subheader = np.concatenate([
        np.zeros(n_grid, dtype=bool),
        np.array([sc_list[j][1]["subheader"] for j in merged.tolist()],
                 dtype=bool)])[perm]

    # (cell, row) and (cell, column) memberships, grouped by cell
    def members(grid_index):
        pairs = np.unique(np.stack([rank[n_grid + m_of],
                                    grid_index[ig]], axis=1), axis=0)
        cell = np.concatenate([rank[:n_grid], pairs[:, 0]])
        index = np.concatenate([grid_index[grid_cells], pairs[:, 1]])
        order = np.lexsort((index, cell))
        return cell[order], index[order]
    pr_cell, pr_row = members(g_row)
    pc_cell, pc_col = members(g_col)
    row_nums = (pr_row - row_start[st.row_seg[pr_row]]).tolist()
    col_nums = (pc_col - col_start[st.col_seg[pc_col]]).tolist()
    cell_rows = [[r] for r in row_nums[:n_cells]] if merged.size == 0 \
        else _split(row_nums, pr_cell, n_cells)
    cell_cols = [[c] for c in col_nums[:n_cells]] if merged.size == 0 \
        else _split(col_nums, pc_cell, n_cells)

    # confidence = (mean + min)/2 of each token's best containment
    # fraction (src/postprocess.py:759-767), summed in token order
    ip, jc, frac = containment_pairs(batch.tok_box, batch.tok_seg,
                                     cell_box, cell_seg, n)
    scored, _, best = first_max(ip, frac)
    confidence = [0] * n
    scores = best.tolist()
    for s, a, b in _runs(batch.tok_seg[scored]):
        part = scores[a:b]
        confidence[s] = (sum(part) / len(part) + min(part)) / 2

    # dilate every cell to (hull of its columns) ∩ (hull of its rows)
    dilated = np_fitz_intersect(
        np_segment_hull(st.col_box[pc_col], pc_cell, n_cells),
        np_segment_hull(st.row_box[pr_row], pr_cell, n_cells))

    # final token→cell assignment at a near-zero threshold
    best_c, best_f = best_containers(
        ip, jc, np_pair_iob(batch.tok_box[ip], dilated[jc]),
        batch.tok_seg.size)
    tokens = np.flatnonzero(best_f >= 0.001)
    tok_cell = best_c[tokens]
    tokens = tokens[np.argsort(tok_cell, kind="stable")]
    tok_cell = np.sort(tok_cell, kind="stable")
    cell_tokens = _split(tokens.tolist(), tok_cell, n_cells)
    spans = batch.tok_spans
    text = [assemble_text([spans[t] for t in toks],
                          remove_integer_superscripts=False) if toks else ""
            for toks in cell_tokens]

    # re-fit rows/columns to the extents of their cells' text: a token
    # widens the first column/row and the last column/row of its cell
    # (src/postprocess.py:794-841)
    lo_row, hi_row = _first_last(pr_row, pr_cell)
    lo_col, hi_col = _first_last(pc_col, pc_cell)
    tb = batch.tok_box[tokens]
    min_x, has_min_x = _extreme(np.minimum, lo_col[tok_cell], tb[:, 0],
                                st.col_seg.size)
    min_y, has_min_y = _extreme(np.minimum, lo_row[tok_cell], tb[:, 1],
                                st.row_seg.size)
    max_x, has_max_x = _extreme(np.maximum, hi_col[tok_cell], tb[:, 2],
                                st.col_seg.size)
    max_y, has_max_y = _extreme(np.maximum, hi_row[tok_cell], tb[:, 3],
                                st.row_seg.size)
    row_box, col_box = st.row_box.copy(), st.col_box.copy()
    rows = np.flatnonzero(n_cols[st.row_seg] > 0)
    first_col = col_start[st.row_seg[rows]]
    last_col = first_col + n_cols[st.row_seg[rows]] - 1
    for axis, index, values, hit in (
            (0, first_col, min_x, has_min_x), (1, rows, min_y, has_min_y),
            (2, last_col, max_x, has_max_x), (3, rows, max_y, has_max_y)):
        row_box[rows, axis] = np.where(hit[index], values[index],
                                       row_box[rows, axis])
    cols = np.flatnonzero(n_rows[st.col_seg] > 0)
    first_row = row_start[st.col_seg[cols]]
    last_row = first_row + n_rows[st.col_seg[cols]] - 1
    for axis, index, values, hit in (
            (0, cols, min_x, has_min_x), (1, first_row, min_y, has_min_y),
            (2, cols, max_x, has_max_x), (3, last_row, max_y, has_max_y)):
        col_box[cols, axis] = np.where(hit[index], values[index],
                                       col_box[cols, axis])
    fitted = np_fitz_intersect(
        np_segment_hull(row_box[pr_row], pr_cell, n_cells),
        np_segment_hull(col_box[pc_col], pc_cell, n_cells))
    ok = ((fitted[:, 2] - fitted[:, 0]) > 0) & ((fitted[:, 3] - fitted[:, 1]) > 0)
    bbox = np.where(ok[:, None], fitted, dilated)

    return TableCells(
        confidence=confidence,
        start=np.concatenate(
            ([0], np.cumsum(np.bincount(cell_seg, minlength=n)))),
        bbox=bbox, row_nums=cell_rows, column_nums=cell_cols,
        header=header, subheader=subheader, text=text,
        cell_tokens=cell_tokens, batch=batch, structures=st,
        row_box=row_box, col_box=col_box)


def _first_last(values: np.ndarray, groups: np.ndarray):
    """First and last value of each run of equal *groups*."""
    starts = np_run_starts(groups)
    ends = np.append(starts[1:], groups.size)[:starts.size]
    return values[starts], values[ends - 1]


def _split(values: list, groups: np.ndarray, n_groups: int) -> list:
    """*values* cut into one list per group id 0..n_groups-1 (*groups*
    non-decreasing, aligned with *values*)."""
    bounds = np.searchsorted(groups, np.arange(n_groups + 1)).tolist()
    return [values[a:b] for a, b in zip(bounds[:-1], bounds[1:])]


def objects_to_cells_batch(batch: TableBatch, class_thresholds) -> TableCells:
    """The ``objects_to_cells`` chain over every table of *batch*; a table
    without a row or without a column gets no cells and confidence 0
    (``src/postprocess.py:61-80``)."""
    return structures_to_cells(batch,
                               build_table_structures(batch, class_thresholds))


def objects_to_cells(table, objects_in_table, tokens_in_table,
                     class_thresholds):
    """One table: model objects + tokens → (structures, cells,
    confidence), as a one-table batch of the same kernel.  *table* is
    accepted for the reference signature: the chain derives the table
    box from the surviving rows and columns.  Inputs are not mutated.
    """
    result = objects_to_cells_batch(
        TableBatch.from_tables([(objects_in_table, tokens_in_table)]),
        class_thresholds)
    return (result.table_structures(0), result.table_cells(0),
            result.confidence[0])
