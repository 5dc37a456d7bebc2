"""FinTabNet-family canonicalization kernels (§2.8)."""

import random
from types import SimpleNamespace

import pytest

from table_transformer_spark.kernels.canonicalize import (
    annotate_projected_row_headers,
    canonicalize,
    correct_header,
    identify_projected_row_headers,
    merge_columns,
    merge_group,
    merge_rows,
    merge_spanning_cells_in_first_column,
    remove_empty_columns,
    remove_empty_rows,
)


def cell(rows, cols, text, header=False, prh=False):
    return {"row_nums": list(rows), "column_nums": list(cols),
            "text": text, "is_column_header": header,
            "is_projected_row_header": prh, "bbox": []}


def make_table(cells, n_rows, n_cols, header_rows=()):
    return {
        "cells": cells,
        "rows": {r: {"is_column_header": r in header_rows}
                 for r in range(n_rows)},
        "columns": {c: {} for c in range(n_cols)},
        "reject": [], "fix": [],
    }


def grid_table(texts, header_rows=()):
    cells = [cell([r], [c], texts[r][c], header=r in header_rows)
             for r in range(len(texts)) for c in range(len(texts[0]))]
    return make_table(cells, len(texts), len(texts[0]), header_rows)


def test_identify_projected_row_headers():
    t = grid_table([["H1", "H2"], ["Section", ""], ["a", "1"]],
                   header_rows=(0,))
    assert identify_projected_row_headers(t) == {1}


def test_annotate_prh_expands_and_absorbs():
    t = grid_table([["H1", "H2"], ["Section", ""], ["a", "1"]],
                   header_rows=(0,))
    annotate_projected_row_headers(t)
    prh = [c for c in t["cells"] if c["is_projected_row_header"]]
    assert len(prh) == 1
    assert prh[0]["column_nums"] == [0, 1]
    assert "merged projected row header" in t["fix"]
    # the blank sibling is gone
    assert not any(c["text"] == "" and 1 in c["row_nums"]
                   for c in t["cells"])


def test_annotate_prh_drops_trailing():
    t = grid_table([["H1", "H2"], ["a", "1"], ["Trailing", ""]],
                   header_rows=(0,))
    annotate_projected_row_headers(t)
    assert len(t["rows"]) == 2
    assert not any(2 in c["row_nums"] for c in t["cells"])
    assert "removed projected row header at bottom of table" in t["fix"]


def test_remove_empty_rows_renumbers():
    t = grid_table([["a", "b"], ["", ""], ["c", "d"]])
    remove_empty_rows(t)
    assert sorted(t["rows"]) == [0, 1]
    rows_used = sorted({r for c in t["cells"] for r in c["row_nums"]})
    assert rows_used == [0, 1]
    assert t["fix"].count("removed empty row") == 2  # two blank cells


def test_remove_empty_columns_renumbers():
    t = grid_table([["a", "", "b"], ["c", "", "d"]])
    remove_empty_columns(t)
    assert sorted(t["columns"]) == [0, 1]
    cols_used = sorted({c2 for c in t["cells"] for c2 in c["column_nums"]})
    assert cols_used == [0, 1]


def test_merge_rows_fully_spanned():
    # rows 0 and 1 joined by spanning cells in EVERY column → merge
    cells = [cell([0, 1], [0], "x"), cell([0, 1], [1], "y"),
             cell([2], [0], "a"), cell([2], [1], "b")]
    t = make_table(cells, 3, 2)
    merge_rows(t)
    assert sorted(t["rows"]) == [0, 1]
    assert cells[0]["row_nums"] == [0]
    assert "merged rows spanned together in every column" in t["fix"]


def test_merge_rows_partial_span_kept():
    cells = [cell([0, 1], [0], "x"), cell([0], [1], "y"),
             cell([1], [1], "z")]
    t = make_table(cells, 2, 2)
    merge_rows(t)
    assert sorted(t["rows"]) == [0, 1]  # not merged


def test_merge_columns_fully_spanned():
    cells = [cell([0], [0, 1], "x"), cell([1], [0, 1], "y"),
             cell([0], [2], "a"), cell([1], [2], "b")]
    t = make_table(cells, 2, 3)
    merge_columns(t)
    assert sorted(t["columns"]) == [0, 1]


def test_merge_group_concatenates():
    a = cell([0], [0], "Total")
    b = cell([1], [0], "")
    t = make_table([a, b], 2, 1)
    merge_group(t, [a, b])
    assert a["row_nums"] == [0, 1]
    assert a["text"] == "Total"
    assert len(t["cells"]) == 1


def test_merge_spanning_cells_in_first_column():
    t = grid_table([["Assets", "desc a"], ["", "desc b"], ["Debt", "desc c"]])
    merge_spanning_cells_in_first_column(t)
    first = [c for c in t["cells"] if 0 in c["column_nums"]]
    assert len(first) == 2
    merged = next(c for c in first if c["text"] == "Assets")
    assert merged["row_nums"] == [0, 1]


def test_correct_header_assumes_for_wide_tables():
    t = grid_table([["a", "b", "c"], ["1", "2", "3"]])
    correct_header(t)
    assert t["rows"][0]["is_column_header"] is True
    assert not t["rows"][1].get("is_column_header")


def test_correct_header_spanning_first_row():
    cells = [cell([0], [0, 1], "Title"), cell([0], [2], "X"),
             cell([1], [0], "x"), cell([1], [1], "y"), cell([1], [2], "z")]
    t = make_table(cells, 2, 3)
    correct_header(t, assume_header_if_more_than_two_columns=False)
    assert t["rows"][0]["is_column_header"] is True


def test_correct_header_prh_in_first_row_rejects():
    # a lone filled first-row cell looks like a projected row header →
    # the reference rejects and retracts the header entirely
    # (scripts/process_fintabnet.py:603-606,637-638)
    cells = [cell([0], [0, 1], "Title"), cell([1], [0], "x"),
             cell([1], [1], "y")]
    t = make_table(cells, 2, 2)
    correct_header(t, assume_header_if_more_than_two_columns=False)
    assert "bad projected row header" in t["reject"]
    assert not t["rows"][0].get("is_column_header")


def test_correct_header_two_col_ambiguous_rejected():
    t = grid_table([["alpha", "beta"], ["gamma", "delta"]])
    correct_header(t, assume_header_if_more_than_two_columns=False)
    assert "ambiguous header" in t["reject"]


def test_canonicalize_blank_header_absorption():
    # blank header cell above a filled one is absorbed upward
    t = grid_table([["", "Q1"], ["Year", "Q2"], ["2020", "1.0"]],
                   header_rows=(0, 1))
    canonicalize(t)
    year = next(c for c in t["cells"] if "Year" in c["text"])
    assert sorted(year["row_nums"]) == [0, 1]


def test_canonicalize_cells_df_distributed(spark):
    from table_transformer_spark.fixtures.spark_io import documents_df, media_df
    from table_transformer_spark.operators.canonicalize_df import (
        canonicalize_cells_df,
    )
    from table_transformer_spark.pipeline.extract import run_tables

    docs = documents_df(spark, 6)
    media = media_df(spark, 6)
    out = canonicalize_cells_df(run_tables(docs, media, mode="clean"))
    rows = out.collect()
    assert rows
    n_cols_by_table = {}
    for r in rows:
        key = (r.doc_id, r.media_ref, r.table_num)
        n_cols_by_table.setdefault(key, 0)
        n_cols_by_table[key] = max(n_cols_by_table[key],
                                   max(r.column_nums) + 1)
    for r in rows:
        # canonical invariant: projected row headers span the full width
        if r.is_projected_row_header:
            key = (r.doc_id, r.media_ref, r.table_num)
            assert list(r.column_nums) == list(range(n_cols_by_table[key]))
        # canonical invariant: no blank multi-cell header cells survive
        if r.is_column_header and not r.cell_text.strip():
            assert len(r.column_nums) == 1 and len(r.row_nums) == 1


@pytest.fixture(scope="module")
def fused_tables():
    """Every table the fused page kernel emits over the corpus and
    perturbed page samples of ``test_fused_kernel``, in both modes, as
    (doc_id, media_ref, table_num, canonicalize-input cells)."""
    from test_fused_kernel import _corpus_pages, _frame, _perturb_page

    from table_transformer_spark.pipeline.fused import make_fused_page_fn

    samples = [_corpus_pages(1000, 300),
               [(d, r, o, _perturb_page(p))
                for d, r, o, p in _corpus_pages(2000, 200)]]
    tables = []
    for pages in samples:
        pdf = _frame(pages)
        for mode in ("clean", "noisy"):
            for out in make_fused_page_fn(mode)(iter([pdf])):
                for row in out.itertuples(index=False):
                    cells = [{"row_nums": list(c[2]),
                              "column_nums": list(c[3]),
                              "cell_text": c[6],
                              "is_column_header": bool(c[4]),
                              "is_projected_row_header": bool(c[5]),
                              "bbox": list(c[1])} for c in row.cells]
                    tables.append((row.doc_id, row.media_ref,
                                   int(row.table_num), cells))
    return tables


def _canonicalize_rows(doc_id, media_ref, table_num, cells):
    from table_transformer_spark.operators.canonicalize_df import (
        _canonicalize_table,
    )

    rec = SimpleNamespace(doc_id=doc_id, media_ref=media_ref,
                          table_num=table_num, cells=cells)
    return _canonicalize_table(rec)


def _standardize_rows(doc_id, media_ref, table_num, cells):
    from table_transformer_spark.operators.canonicalize_df import (
        _standardize_table,
    )

    rec = SimpleNamespace(doc_id=0, cells=[
        {"text": c["cell_text"], "row_nums": c["row_nums"],
         "column_nums": c["column_nums"],
         "is_column_header": c["is_column_header"],
         "x0": c["bbox"][0], "y0": c["bbox"][1],
         "x1": c["bbox"][2], "y1": c["bbox"][3]} for c in cells])
    return _standardize_table(rec)


@pytest.mark.parametrize("kernel", [_canonicalize_rows, _standardize_rows],
                         ids=["canonicalize", "standardize"])
def test_cell_numbering_ignores_input_cell_order(fused_tables, kernel):
    """A table's output rows, ``cell_num`` included, do not depend on
    the order its cells arrive in.  Among these tables some cells tie on
    (min row, min col), e.g. a header spanning three columns and one
    spanning three rows that both start at (0, 0)."""
    for i, (doc_id, media_ref, table_num, cells) in enumerate(fused_tables):
        want = kernel(doc_id, media_ref, table_num, cells)
        shuffled = list(cells)
        random.Random(i).shuffle(shuffled)
        for order in (cells[::-1], shuffled):
            assert kernel(doc_id, media_ref, table_num, order) == want, \
                (doc_id, media_ref, table_num)


def test_canonicalize_splits_blank_spanning_header():
    cells = [cell([0], [0, 1], "", header=True),
             cell([1], [0], "A", header=True),
             cell([1], [1], "B", header=True),
             cell([2], [0], "1"), cell([2], [1], "2")]
    t = make_table(cells, 3, 2, header_rows=(0, 1))
    canonicalize(t)
    # the blank spanning cell was split, then absorbed into A and B
    a = next(c for c in t["cells"] if c["text"] == "A")
    assert sorted(a["row_nums"]) == [0, 1]
    assert not any(len(c["column_nums"]) > 1 and not c["text"]
                   for c in t["cells"])


def test_complete_table_grid():
    from table_transformer_spark.kernels.canonicalize import (
        complete_table_grid,
    )

    def tcell(rows, cols, bbox):
        return {"row_nums": rows, "column_nums": cols, "text": "x",
                "is_column_header": False, "is_projected_row_header": False,
                "bbox": bbox}

    t = make_table([
        tcell([0], [0], [12, 5, 40, 15]),
        tcell([0], [1], [60, 6, 90, 14]),
        tcell([1], [0], [10, 30, 42, 40]),
        tcell([1], [1], [61, 31, 95, 39]),
    ], 2, 2)
    complete_table_grid(t)
    assert t["reject"] == []
    assert t["table_bbox"] == [10.0, 5.0, 95.0, 40.0]
    # row 0 spans from its min text top to its max text bottom, snapped
    # to the table x-extent
    assert t["rows"][0]["bbox"] == [10.0, 5, 95.0, 15]
    assert t["columns"][1]["bbox"] == [60, 5.0, 95, 40.0]
    # cell grid bbox = row hull ∩ column hull
    c = next(c for c in t["cells"] if c["row_nums"] == [1]
             and c["column_nums"] == [1])
    assert c["grid_bbox"] == [60.0, 30.0, 95.0, 40.0]


def test_complete_table_grid_undetermined_boundary():
    from table_transformer_spark.kernels.canonicalize import (
        complete_table_grid,
    )

    t = make_table([
        {"row_nums": [0], "column_nums": [0], "text": "x", "bbox": [],
         "is_column_header": False, "is_projected_row_header": False},
        {"row_nums": [1], "column_nums": [0], "text": "y",
         "bbox": [0, 10, 10, 20],
         "is_column_header": False, "is_projected_row_header": False},
    ], 2, 1)
    complete_table_grid(t)
    assert "undetermined row boundary" in t["reject"]


def test_fix_caption_and_footer():
    from table_transformer_spark.kernels.canonicalize import (
        fix_caption_and_footer,
    )

    blocks = [[0, 0, 100, 12],      # intersects caption
              [0, 50, 100, 62],     # intersects footer
              [0, 200, 100, 212]]   # unrelated
    t = {"caption_bbox": [10, 5, 60, 10],
         "footer_bbox": [10, 52, 60, 58],
         "table_wrap_bbox": [10, 15, 90, 45],
         "reject": [], "fix": []}
    fix_caption_and_footer(t, blocks)
    assert t["caption_bbox"] == [0.0, 0.0, 100.0, 12.0]
    assert t["footer_bbox"] == [0.0, 50.0, 100.0, 62.0]
    # wrap grows to cover both
    assert t["table_wrap_bbox"] == [0.0, 0.0, 100.0, 62.0]

    # touching (no strict overlap) does not absorb
    t2 = {"caption_bbox": [0, 12, 50, 20], "reject": [], "fix": []}
    fix_caption_and_footer(t2, [[0, 0, 100, 12]])
    assert t2["caption_bbox"] == [0.0, 12.0, 50.0, 20.0]
