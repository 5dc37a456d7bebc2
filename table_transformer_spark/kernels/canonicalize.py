"""Corpus-construction canonicalization kernels (FinTabNet ETL family).

Faithful re-expressions of the reference's annotation-cleanup operators
(``scripts/process_fintabnet.py``), the source of PubTables-1M's
canonical cell semantics.  A *table dict* here is::

    {"cells":   [{row_nums, column_nums, text, is_column_header,
                  is_projected_row_header, bbox}],
     "rows":    {row_num: {"is_column_header": bool, ...}},
     "columns": {col_num: {}},
     "reject":  [str], "fix": [str]}

(The reference's ``json_text_content`` is ``text`` here;
``pdf_text_tight_bbox`` is ``bbox``.)  ``reject``/``fix`` accumulate
provenance exactly like the reference and feed the status table.

On the Spark side these run once per table row inside one
``mapInPandas`` pass (:func:`canonicalize_cells_df`,
:func:`standardize_tables_df`); the cumulative-renumbering step also
has an oracle-checked DataFrame twin (``cumsum_renumber`` in
driver_queries).
"""

from __future__ import annotations

from collections import defaultdict

from ..geometry import Box

__all__ = [
    "expand_to_intersecting_blocks",
    "fix_caption_and_footer",
    "complete_table_grid",
    "identify_projected_row_headers",
    "annotate_projected_row_headers",
    "merge_group",
    "remove_empty_rows",
    "remove_empty_columns",
    "merge_rows",
    "merge_columns",
    "merge_spanning_cells_in_first_column",
    "correct_header",
    "canonicalize",
    "standardize_and_fix_xml_annotation",
    "extract_pdf_text",
    "extract_pdf_text_fixpoint",
]


def expand_to_intersecting_blocks(bbox, block_bboxes):
    """Grow *bbox* to the hull of itself and every page text block it
    strictly intersects (the caption/footer expansion of
    ``fix_caption_and_footer``, scripts/process_pubmed.py:661-694)."""
    hull = Box(bbox)
    for b in block_bboxes:
        if (max(bbox[0], b[0]) < min(bbox[2], b[2])
                and max(bbox[1], b[1]) < min(bbox[3], b[3])):
            hull.include_rect(b)
    return hull.tolist()


def fix_caption_and_footer(table, block_bboxes):
    """Expand caption/footer boxes to their intersecting text blocks and
    grow the table-wrap box to cover them
    (``scripts/process_pubmed.py:661-708``).  Missing keys are skipped,
    like the reference's try/except ladder."""
    for key in ("caption_bbox", "footer_bbox"):
        if table.get(key):
            table[key] = expand_to_intersecting_blocks(table[key],
                                                       block_bboxes)
    if table.get("table_wrap_bbox"):
        wrap = Box(table["table_wrap_bbox"])
        for key in ("caption_bbox", "footer_bbox"):
            if table.get(key):
                wrap.include_rect(table[key])
        table["table_wrap_bbox"] = wrap.tolist()


def complete_table_grid(table):
    """Derive row/column/table boxes from cell-text extents and re-grid
    every cell (``scripts/process_fintabnet.py:165-242``):

    * a row's top comes from the min-y of text boxes of cells whose
      *min* row it is; its bottom from the max-y over cells whose *max*
      row it is (and symmetrically for column left/right);
    * rows snap to the table's x-extent, columns to its y-extent;
    * any boundary no cell text determined → "undetermined row/column
      boundary" reject;
    * each cell's grid bbox = hull(its rows) ∩ hull(its columns).

    Cells carry text extents in ``bbox`` (the reference's
    ``pdf_text_tight_bbox``); results land in ``rows[k]["bbox"]``,
    ``columns[k]["bbox"]``, ``table["table_bbox"]`` and
    ``cell["grid_bbox"]``.
    """
    row_rects = defaultdict(lambda: [None, None, None, None])
    col_rects = defaultdict(lambda: [None, None, None, None])
    hull = Box()

    for cell in table["cells"]:
        if not cell.get("bbox"):
            continue
        bbox = cell["bbox"]
        hull.include_rect(bbox)
        r_lo, r_hi = min(cell["row_nums"]), max(cell["row_nums"])
        c_lo, c_hi = min(cell["column_nums"]), max(cell["column_nums"])
        top = row_rects[r_lo][1]
        row_rects[r_lo][1] = bbox[1] if top is None else min(top, bbox[1])
        bot = row_rects[r_hi][3]
        row_rects[r_hi][3] = bbox[3] if bot is None else max(bot, bbox[3])
        left = col_rects[c_lo][0]
        col_rects[c_lo][0] = bbox[0] if left is None else min(left, bbox[0])
        right = col_rects[c_hi][2]
        col_rects[c_hi][2] = bbox[2] if right is None else max(right, bbox[2])

    table_bbox = hull.tolist()
    table["table_bbox"] = table_bbox
    for rect in row_rects.values():
        rect[0], rect[2] = table_bbox[0], table_bbox[2]
    for rect in col_rects.values():
        rect[1], rect[3] = table_bbox[1], table_bbox[3]

    # one reject per undetermined coordinate, matching the reference's
    # per-None-element appends (process_fintabnet.py:221-228)
    n_before = len(table["reject"])
    for k in table["rows"]:
        table["rows"][k]["bbox"] = list(row_rects[k])
        for v in row_rects[k]:
            if v is None:
                table["reject"].append("undetermined row boundary")
    for k in table["columns"]:
        table["columns"][k]["bbox"] = list(col_rects[k])
        for v in col_rects[k]:
            if v is None:
                table["reject"].append("undetermined column boundary")

    # grid-bbox intersection is skipped only for boundary rejects added
    # HERE (a None coordinate would poison the hulls); pre-existing
    # rejects don't stop the computation — the reference always runs it
    if len(table["reject"]) > n_before:
        return

    for cell in table["cells"]:
        rows_hull, cols_hull = Box(), Box()
        for r in cell["row_nums"]:
            rows_hull.include_rect(table["rows"][r]["bbox"])
        for c in cell["column_nums"]:
            cols_hull.include_rect(table["columns"][c]["bbox"])
        cell["grid_bbox"] = rows_hull.intersect(cols_hull).tolist()


def identify_projected_row_headers(table):
    """Rows that are projected row headers: not a header row, exactly one
    filled cell, all cells single-row, first column filled
    (``scripts/process_fintabnet.py:245-269``)."""
    filled_count = defaultdict(int)
    single_row_only = defaultdict(lambda: True)
    first_col_filled = defaultdict(bool)
    for cell in table["cells"]:
        if cell["text"]:
            for r in cell["row_nums"]:
                filled_count[r] += 1
            if 0 in cell["column_nums"]:
                for r in cell["row_nums"]:
                    first_col_filled[r] = True
        one_row = len(cell["row_nums"]) == 1
        for r in cell["row_nums"]:
            single_row_only[r] = single_row_only[r] and one_row

    return {r for r, row in table["rows"].items()
            if (not row.get("is_column_header")
                and filled_count[r] == 1
                and single_row_only[r]
                and first_col_filled[r])}


def annotate_projected_row_headers(table):
    """Expand PRH cells to full width, absorb their blank siblings, and
    drop trailing PRH rows (``scripts/process_fintabnet.py:271-311``)."""
    num_cols = len(table["columns"])
    prh_rows = identify_projected_row_headers(table)

    doomed = []
    for cell in table["cells"]:
        if set(cell["row_nums"]) & prh_rows:
            if cell["text"]:
                cell["column_nums"] = list(range(num_cols))
                cell["is_projected_row_header"] = True
            else:
                doomed.append(cell)
        else:
            cell["is_projected_row_header"] = False
    for cell in doomed:
        table["fix"].append("merged projected row header")
        table["cells"].remove(cell)

    for r, row in table["rows"].items():
        row["is_projected_row_header"] = r in prh_rows

    # trailing PRH rows are dropped entirely
    num_rows = len(table["rows"])
    to_delete = []
    for r in range(num_rows - 1, -1, -1):
        if table["rows"][r].get("is_projected_row_header"):
            to_delete.append(r)
        else:
            break
    for r in to_delete:
        del table["rows"][r]
        table["fix"].append("removed projected row header at bottom of table")
        for cell in table["cells"][:]:
            if r in cell["row_nums"]:
                table["cells"].remove(cell)


def merge_group(table, group):
    """Merge a group of cells into its top cell: union grid coverage,
    concatenate text, hull bboxes (``scripts/process_fintabnet.py:
    314-345``)."""
    if len(group) == 1:
        return
    group = sorted(group, key=lambda c: min(c["row_nums"]))
    head = group[0]
    hull = Box(head["bbox"]) if head.get("bbox") else Box()
    doomed = []
    for other in group[1:]:
        head["row_nums"] = sorted(set(head["row_nums"] + other["row_nums"]))
        head["column_nums"] = sorted(set(head["column_nums"]
                                         + other["column_nums"]))
        head["text"] = (head["text"].strip() + " "
                        + other["text"].strip()).strip()
        if other.get("bbox"):
            hull.include_rect(other["bbox"])
        head["bbox"] = [] if hull.get_area() == 0 else hull.tolist()
        head["is_projected_row_header"] = False
        doomed.append(other)
    try:
        for cell in doomed:
            table["cells"].remove(cell)
            table["fix"].append("merged oversegmented spanning cell")
    except ValueError:
        table["reject"].append("ambiguous spanning cell")


def _remove_empty_axis(table, axis):
    """Shared body of remove_empty_rows/columns: drop content-free
    rows/columns and densely renumber via cumulative corrections
    (``scripts/process_fintabnet.py:348-377,409-438``)."""
    nums_key = "row_nums" if axis == "rows" else "column_nums"
    n = len(table[axis])
    has_content = defaultdict(bool)
    for cell in table["cells"]:
        filled = len(cell["text"].strip()) > 0
        for k in cell[nums_key]:
            has_content[k] = has_content[k] or filled

    corrections = []
    total = 0
    for k in range(n):
        total += int(not has_content[k])
        corrections.append(total)

    doomed = []
    for cell in table["cells"]:
        cell[nums_key] = [k - corrections[k] for k in cell[nums_key]
                          if has_content[k]]
        if not cell[nums_key]:
            doomed.append(cell)
    label = "removed empty row" if axis == "rows" else "removed empty column"
    for cell in doomed:
        table["fix"].append(label)
        table["cells"].remove(cell)

    table[axis] = {k - corrections[k]: v for k, v in table[axis].items()
                   if has_content[k]}


def remove_empty_rows(table):
    _remove_empty_axis(table, "rows")


def remove_empty_columns(table):
    _remove_empty_axis(table, "columns")


def _merge_adjacent_axis(table, axis):
    """Merge adjacent rows (columns) that are spanned together by cells
    in *every* column (row) — co-occurrence weight equals the size of
    the cross axis (``scripts/process_fintabnet.py:379-406,440-467``)."""
    nums_key = "row_nums" if axis == "rows" else "column_nums"
    other_key = "column_nums" if axis == "rows" else "row_nums"
    cross_size = len(table["columns" if axis == "rows" else "rows"])
    n = len(table[axis])
    co = defaultdict(int)
    for cell in table["cells"]:
        for a in cell[nums_key]:
            for b in cell[nums_key]:
                if a < b:
                    co[(a, b)] += len(cell[other_key])

    keep = [True]
    grouping = [0]
    new_num = 0
    for k in range(n - 1):
        if co[(k, k + 1)] == cross_size:
            label = ("merged rows spanned together in every column"
                     if axis == "rows"
                     else "merged columns spanned together in every row")
            table["fix"].append(label)
            keep.append(False)
        else:
            keep.append(True)
            new_num += 1
        grouping.append(new_num)

    for cell in table["cells"]:
        cell[nums_key] = [grouping[k] for k in cell[nums_key] if keep[k]]
    table[axis] = {grouping[k]: table[axis][k] for k in range(n) if keep[k]}


def merge_rows(table):
    _merge_adjacent_axis(table, "rows")


def merge_columns(table):
    _merge_adjacent_axis(table, "columns")


def merge_spanning_cells_in_first_column(table):
    """If the second column is alphabetic-dominant, group first-column
    cells by filled-cell runs and merge blank followers into their
    filled leader (``scripts/process_fintabnet.py:471-499``)."""
    numeric = defaultdict(int)
    alpha = defaultdict(int)
    for cell in table["cells"]:
        if cell.get("is_column_header") or cell.get("is_projected_row_header"):
            continue
        n_num = sum(ch.isnumeric() for ch in cell["text"])
        n_alpha = sum(ch.isalpha() for ch in cell["text"])
        for c in cell["column_nums"]:
            numeric[c] += n_num
            alpha[c] += n_alpha
    if not alpha[1] > numeric[1]:
        return

    first = sorted((c for c in table["cells"] if 0 in c["column_nums"]),
                   key=lambda c: max(c["row_nums"]))
    groups = defaultdict(list)
    g = -1
    for cell in first:
        if cell["text"]:
            g += 1
        if g >= 0:
            groups[g].append(cell)
    for group in groups.values():
        if (len(group) > 1 and not group[0].get("is_projected_row_header")
                and not group[0].get("is_column_header")):
            merge_group(table, group)


def correct_header(table, assume_header_if_more_than_two_columns=True):
    """Header-existence + header-extension rules
    (``scripts/process_fintabnet.py:502-661``): five ways a table is
    known to have a column header, then the last-header-row computation
    from single-column-cell / blank-run / projected-row-header
    constraints."""
    num_cols = len(table["columns"])
    num_rows = len(table["rows"])
    if num_cols < 2 or num_rows < 1:
        table["reject"].append("small table")

    has_header = assume_header_if_more_than_two_columns and num_cols > 2
    if not has_header:
        has_header = bool(table["rows"]) and \
            table["rows"].get(0, {}).get("is_column_header", False)
    if not has_header:
        has_header = any(
            0 in c["column_nums"] and 0 in c["row_nums"]
            and not c["text"].strip()
            for c in table["cells"])
    if not has_header:
        has_header = any(0 in c["row_nums"] and len(c["column_nums"]) > 1
                         for c in table["cells"])
    if not has_header:
        for cell in table["cells"]:
            in_row0 = 0 in cell["row_nums"]
            if in_row0 and 0 in cell["column_nums"] and "Number" in cell["text"]:
                table["fix"].append("two column header: Number")
                has_header = True
                break
            if in_row0 and 1 in cell["column_nums"] and "Page" in cell["text"]:
                table["fix"].append("two column header: Page")
                has_header = True
                break
            if in_row0 and "in thousands" in cell["text"].lower():
                table["fix"].append("two column header: in thousands")
                has_header = True
                break
            if in_row0 and "in millions" in cell["text"].lower():
                table["fix"].append("two column header: in millions")
                has_header = True
                break
            if in_row0 and "Measurement" in cell["text"]:
                table["fix"].append("two column header: Measurement")
                has_header = True
                break
            if in_row0 and "Period" in cell["text"]:
                table["fix"].append("two column header: Period")
                has_header = True
                break

    if has_header:
        first_col_filled = defaultdict(bool)
        for cell in table["cells"]:
            if 0 in cell["column_nums"] and cell["text"]:
                for r in cell["row_nums"]:
                    first_col_filled[r] = True

        default_last = num_rows - 1
        first_single = defaultdict(lambda: default_last)
        first_filled_single = defaultdict(lambda: default_last)
        first_filled = defaultdict(lambda: default_last)
        for cell in table["cells"]:
            if len(cell["column_nums"]) == 1:
                c = cell["column_nums"][0]
                first_single[c] = min(first_single[c], max(cell["row_nums"]))
                if cell["text"].strip():
                    first_filled_single[c] = min(first_filled_single[c],
                                                 max(cell["row_nums"]))
            if cell["text"]:
                r0 = min(cell["row_nums"])
                for c in cell["column_nums"]:
                    first_filled[c] = min(first_filled[c], r0)

        prh_rows = identify_projected_row_headers(table)
        if 0 in prh_rows:
            table["reject"].append("bad projected row header")

        min_single_row = max(first_single[c] for c in range(num_cols)) \
            if num_cols else -1
        min_first_body = min(num_rows - 1,
                             max((first_filled[c] for c in range(num_cols)),
                                 default=num_rows - 1))

        min_all_following = -1
        for r in range(num_rows):
            for c1 in range(num_cols - 1):
                for c2 in range(c1 + 1, num_cols):
                    if (first_filled_single[c2] > r
                            and first_filled_single[c1]
                            < first_filled_single[c2]):
                        min_all_following = r + 1

        min_prh = min(prh_rows) if prh_rows else num_rows
        last_header_row = max(min_all_following, min_single_row,
                              min_first_body - 1)
        while (last_header_row < num_rows
               and not first_col_filled[last_header_row + 1]):
            last_header_row += 1
        if min_prh <= last_header_row:
            last_header_row = min_prh - 1

        for cell in table["cells"]:
            if max(cell["row_nums"]) <= last_header_row:
                cell["is_column_header"] = True
        for r, row in table["rows"].items():
            if r <= last_header_row:
                row["is_column_header"] = True

    if not has_header and num_cols == 2:
        import re

        keep = False
        for cell in table["cells"]:
            if 0 in cell["row_nums"] and len(cell["text"]) > 60:
                table["fix"].append("two column no header: long text")
                keep = True
                break
            if (0 in cell["row_nums"] and 1 in cell["column_nums"]
                    and re.match(r"^[0-9,%\.\$ -]+$", cell["text"])):
                table["fix"].append("two column no header: numeric")
                keep = True
                break
        if not keep:
            table["reject"].append("ambiguous header")


def _grid_index(table):
    idx = {}
    for cell in table["cells"]:
        for c in cell["column_nums"]:
            for r in cell["row_nums"]:
                idx[(r, c)] = cell
    return idx


def canonicalize(table):
    """Header canonicalization (``scripts/process_fintabnet.py:663-792``):
    split blank header spanning cells into grid cells; absorb blank
    header cells upward then downward into filled neighbors; merge
    same-column header neighbor chains; finally merge first-column
    spanning-cell runs."""
    # 1. split blank header spanning cells into blank grid cells
    doomed = []
    for cell in table["cells"][:]:
        if (cell.get("is_column_header") and not cell["text"].strip()
                and (len(cell["column_nums"]) > 1
                     or len(cell["row_nums"]) > 1)):
            doomed.append(cell)
            for c in cell["column_nums"]:
                for r in cell["row_nums"]:
                    table["cells"].append({
                        "text": "", "column_nums": [c], "row_nums": [r],
                        "is_column_header": cell["is_column_header"],
                        "bbox": [], "is_projected_row_header": False})
    for cell in doomed:
        table["cells"].remove(cell)

    # 2. bottom-up: filled header cells absorb contiguous blank rows above
    idx = _grid_index(table)
    groups = []
    for cell in table["cells"]:
        if not cell.get("is_column_header") or not cell["text"]:
            continue
        group = [cell]
        for r in range(min(cell["row_nums"]) - 1, -1, -1):
            if all(not idx[(r, c)]["text"] for c in cell["column_nums"]):
                group.extend(idx[(r, c)] for c in cell["column_nums"])
            else:
                break  # absorption must be contiguous
        if len(group) > 1:
            groups.append(group)
    for group in groups:
        merge_group(table, group)

    # 3. top-down: filled header cells absorb contiguous blank header
    # rows below
    idx = _grid_index(table)
    num_rows = len(table["rows"])
    groups = []
    for cell in table["cells"]:
        if not cell.get("is_column_header") or not cell["text"]:
            continue
        group = [cell]
        for r in range(max(cell["row_nums"]) + 1, num_rows):
            if not table["rows"][r].get("is_column_header"):
                break
            if all(not idx[(r, c)]["text"] for c in cell["column_nums"]):
                group.extend(idx[(r, c)] for c in cell["column_nums"])
            else:
                break
        if len(group) > 1:
            groups.append(group)
    for group in groups:
        merge_group(table, group)

    # 4. top-down: merge neighbor chains occupying identical column sets
    idx = _grid_index(table)
    seen = defaultdict(list)
    groups = []
    stop = False
    for r in sorted(table["rows"]):
        for c in sorted(table["columns"]):
            cell = idx[(r, c)]
            if not cell.get("is_column_header"):
                stop = True
                break
            if seen[(r, c)]:
                continue
            if not r == min(cell["row_nums"]) and c == min(cell["column_nums"]):
                continue
            group = [cell]
            nxt = max(cell["row_nums"]) + 1
            while nxt < num_rows:
                cell2 = idx[(nxt, c)]
                if (cell2.get("is_column_header")
                        and set(cell["column_nums"])
                        == set(cell2["column_nums"])):
                    group.append(cell2)
                    for r2 in cell2["row_nums"]:
                        for c2 in cell2["column_nums"]:
                            seen[(r2, c2)] = group
                else:
                    break
                nxt = max(cell2["row_nums"]) + 1
            for r2 in cell["row_nums"]:
                for c2 in cell["column_nums"]:
                    seen[(r2, c2)] = group
            if len(group) > 1:
                groups.append(group)
        if stop:
            break
    for group in groups:
        merge_group(table, group)

    # 5. first-column spanning-cell runs
    merge_spanning_cells_in_first_column(table)


def standardize_and_fix_xml_annotation(table):
    """PubMed-chain header inference, projected-row-header labeling, and
    blank-cell absorption (``scripts/process_pubmed.py:768-887``).

    Runs after location/aggregation, so cells carry expanded ``bbox``es;
    a missing bbox aborts that cell's merge, mirroring the reference's
    try/except.  Six passes, in reference order:

    1. a colspan>1 cell in row 0 forces every row-0 cell to header;
    2. headers end at the first row whose cell count (blank cells count
       their colspan, non-blank count 1) equals ``num_columns``;
    3. a blank first column extends the header down to the first
       non-blank first-column row;
    4. body rows whose only content sits in the first cell absorb their
       blank single-row cells into that cell (pre-PRH merge);
    5. body cells spanning every column are labeled projected row
       headers;
    6. blank first-column cells join the nearest content cell above
       (same columns + same header status required).
    """
    cells = table["cells"]
    num_rows = table.get("num_rows",
                         1 + max((r for c in cells for r in c["row_nums"]),
                                 default=-1))
    num_columns = table.get(
        "num_columns",
        1 + max((c2 for c in cells for c2 in c["column_nums"]), default=-1))

    def blank(cell):
        return len(cell["text"].strip()) == 0

    # --- 1. row-0 colspan forces header ---
    if any(0 in c["row_nums"] and len(c["column_nums"]) > 1 for c in cells):
        for c in cells:
            if 0 in c["row_nums"]:
                c["is_column_header"] = True

    # --- 2. headers end with a row with no supercells ---
    cell_counts_by_row = defaultdict(int)
    header_status_by_row = defaultdict(bool)
    for c in cells:
        n = len(c["column_nums"]) if blank(c) else 1
        for r in c["row_nums"]:
            cell_counts_by_row[r] += n
            if c["is_column_header"]:
                header_status_by_row[r] = True
    true_header_rows = set()
    if header_status_by_row[0]:
        for r in range(num_rows):
            true_header_rows.add(r)
            if cell_counts_by_row[r] == num_columns:
                break
    for c in cells:
        c["is_column_header"] = bool(set(c["row_nums"]) & true_header_rows)

    # --- 3. blank first column extends the header ---
    min_nonblank_first_col_row = num_rows
    header_rows = set()
    for c in cells:
        if c["is_column_header"]:
            header_rows.update(c["row_nums"])
        if 0 in c["column_nums"] and not blank(c):
            min_nonblank_first_col_row = min(min_nonblank_first_col_row,
                                             min(c["row_nums"]))
    if header_rows and min_nonblank_first_col_row > max(header_rows) + 1:
        header_rows = set(range(min_nonblank_first_col_row))
    for c in cells:
        if header_rows & set(c["row_nums"]):
            c["is_column_header"] = True

    # --- 4. absorb blank body cells into the row's first cell ---
    non_prh_row = defaultdict(bool)
    first_cell_by_row = {}
    for c in cells:
        if (not c["is_column_header"] and not blank(c)
                and min(c["column_nums"]) > 0 and len(c["row_nums"]) == 1):
            non_prh_row[c["row_nums"][0]] = True
        elif (not blank(c) and min(c["column_nums"]) == 0
              and len(c["row_nums"]) == 1):
            first_cell_by_row[c["row_nums"][0]] = c
    to_delete = []
    for c in cells:
        if (not c["is_column_header"] and blank(c)
                and min(c["column_nums"]) > 0 and len(c["row_nums"]) == 1):
            r = c["row_nums"][0]
            if non_prh_row[r]:
                continue
            target = first_cell_by_row.get(r)
            if target is None:
                continue
            try:
                merged_bbox = Box(target["bbox"]).include_rect(
                    c["bbox"]).tolist()
            except Exception:
                continue  # reference: bbox failure aborts the merge
            target["bbox"] = merged_bbox
            target["column_nums"] = sorted(set(target["column_nums"])
                                           | set(c["column_nums"]))
            to_delete.append(c)
    for c in to_delete:
        cells.remove(c)

    # --- 5. label projected row headers ---
    for c in cells:
        c["is_projected_row_header"] = (
            not c["is_column_header"]
            and len(c["column_nums"]) == num_columns)

    # --- 6. blank first-column cells join the content cell above ---
    content_above = {}
    for c in cells:
        if 0 in c["column_nums"] and not blank(c):
            for r in c["row_nums"]:
                content_above[r] = c
    to_delete = []
    for c in cells:
        if 0 in c["column_nums"] and blank(c):
            target = None
            for r in range(min(c["row_nums"]) - 1, -1, -1):
                if r in content_above:
                    target = content_above[r]
                    break
            if target is None:
                continue
            if not (set(target["column_nums"]) == set(c["column_nums"])
                    and target["is_column_header"] == c["is_column_header"]):
                continue
            target["row_nums"] = sorted(set(target["row_nums"])
                                        | set(c["row_nums"]))
            try:
                target["bbox"] = Box(target["bbox"]).include_rect(
                    c["bbox"]).tolist()
            except Exception:
                pass  # reference: bbox failure here still merges
            to_delete.append(c)
    for c in to_delete:
        cells.remove(c)


def _is_all_dots(text):
    """(``scripts/process_fintabnet.py:795-798``)"""
    return len(text) > 0 and len(text.replace(".", "")) == 0


def extract_pdf_text(table, page_words, threshold=0.5):
    """Re-extract each cell's text from the page words inside its grid
    box (``scripts/process_fintabnet.py:800-838``): words overlapping
    the grid bbox by > *threshold* of their own area become the cell's
    text; trailing dot-leader words are stripped (``fix``), a text
    still ending in ".." rejects; the text-tight bbox is rebuilt as the
    word hull.  Returns True when any tight bbox changed (the fixpoint
    driver's continue signal)."""
    adjusted = False
    for cell in table["cells"]:
        grid_bbox = cell["grid_bbox"]
        cell_page_words = [
            w for w in page_words
            if Box(w["bbox"]).get_area() > 0
            and (Box(w["bbox"]).intersect(grid_bbox).get_area()
                 / Box(w["bbox"]).get_area()) > threshold]
        cell_text = "".join(w["text"] for w in cell_page_words)

        if len(cell_text) > 2 and cell_text[-2:] == "..":
            for w in cell_page_words[::-1]:
                if _is_all_dots(w["text"]):
                    table["fix"].append("removed dots from text cell")
                    cell_page_words.remove(w)
                else:
                    break

        words_rect = Box()
        for w in cell_page_words:
            words_rect.include_rect(w["bbox"])
        cell_text = " ".join(w["text"] for w in cell_page_words)
        cell_text = cell_text.replace(" .", ".").replace(" ,", ",")
        if cell_text.endswith(".."):
            table["reject"].append("dots retained")

        cell["pdf_text_content"] = cell_text
        if words_rect.get_area() > 0:
            new_tight = words_rect.tolist()
            if cell.get("bbox") != new_tight:
                adjusted = True
                cell["bbox"] = new_tight
    return adjusted


def extract_pdf_text_fixpoint(table, page_words, max_iterations=3,
                              threshold=0.5):
    """The grid↔text fixpoint (``scripts/process_fintabnet.py:
    1241-1249``): a grid cell's bbox depends on surrounding text, which
    changes the tight bbox, which changes the grid — iterate
    ``complete_table_grid`` + ``extract_pdf_text`` until no tight bbox
    moves, at most *max_iterations* times; still moving afterwards →
    "runaway text adjustment" reject.  Returns the iteration count."""
    adjust = True
    iterations = 0
    while adjust and iterations < max_iterations:
        n_rejects = len(table["reject"])
        complete_table_grid(table)
        if len(table["reject"]) > n_rejects:
            # an undetermined boundary means no grid bboxes exist to
            # extract from — the table is rejected; stop iterating
            # (the reference's equivalent crash is swallowed by its
            # outer try/except and the table is dropped)
            return iterations
        adjust = extract_pdf_text(table, page_words, threshold=threshold)
        iterations += 1
    if adjust:
        table["reject"].append("runaway text adjustment")
    return iterations
