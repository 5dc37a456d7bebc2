"""GriTS metric kernel + distributed evaluation tests."""

import pytest

from table_transformer_spark.kernels.adjacency import (
    adjacency_pairs,
    adjacency_pairs_with_blanks,
    dar_con,
)
from table_transformer_spark.kernels.grits import (
    cells_to_grid,
    cells_to_relspan_grid,
    fscore,
    grits_con,
    grits_loc,
    grits_top,
    lcs_similarity,
)


def cell(r, c, text, rows=None, cols=None):
    rows = rows or [r]
    cols = cols or [c]
    return {"row_nums": rows, "column_nums": cols, "cell_text": text,
            "header": False,
            "bbox": [min(cols) * 10.0, min(rows) * 10.0,
                     (max(cols) + 1) * 10.0, (max(rows) + 1) * 10.0]}


def grid_2x2(texts):
    return [cell(r, c, texts[r][c]) for r in range(2) for c in range(2)]


def test_fscore_conventions():
    # empty sides: precision/recall default to 1 (src/grits.py:13-36)
    assert fscore(0, 0, 0) == (1, 1, 1)
    assert fscore(0, 5, 0)[1] == 1      # no predictions → precision 1
    assert fscore(0, 0, 5)[2] == 1      # no truth → recall 1
    f, p, r = fscore(3, 4, 4)
    assert f == pytest.approx(0.75)


def test_lcs_similarity():
    assert lcs_similarity("", "") == 1
    assert lcs_similarity("abc", "abc") == 1
    assert lcs_similarity("abc", "xyz") == 0
    assert lcs_similarity("abcd", "abxd") == pytest.approx(2 * 3 / 8)


def test_grids():
    cells = [cell(0, 0, "a"), cell(0, 1, "b", rows=[0], cols=[1]),
             cell(1, 0, "c", rows=[1], cols=[0, 1])]
    g = cells_to_grid(cells, key="cell_text")
    assert g == [["a", "b"], ["c", "c"]]
    rel = cells_to_relspan_grid(cells)
    assert rel[0][0] == [0, 0, 1, 1]
    assert rel[1][0] == [0, 0, 2, 1]
    assert rel[1][1] == [-1, 0, 1, 1]


def test_grits_self_identity():
    cells = grid_2x2([["aa", "bb"], ["cc", "dd"]])
    for metric in (grits_top, grits_loc, grits_con):
        f, p, r, ub = metric(cells, cells)
        assert f == pytest.approx(1.0)
        assert ub == pytest.approx(1.0)


def test_grits_con_known_value():
    true = grid_2x2([["aa", "bb"], ["cc", "dd"]])
    pred = grid_2x2([["aa", "bb"], ["cc", "zz"]])
    f, p, r, ub = grits_con(true, pred)
    assert f == pytest.approx(0.75)


def test_grits_handles_shape_mismatch():
    true = grid_2x2([["aa", "bb"], ["cc", "dd"]])
    pred = [cell(0, 0, "aa"), cell(0, 1, "bb")]  # one-row prediction
    f, p, r, ub = grits_con(true, pred)
    # 2 matched of 4 true / 2 pred → p=1, r=0.5, f=2/3
    assert f == pytest.approx(2 / 3)


def test_adjacency_pairs_skip_blanks():
    cells = [cell(0, 0, "a"), cell(0, 1, ""), cell(0, 2, "b"),
             cell(1, 0, "c"), cell(1, 1, "d"), cell(1, 2, "e")]
    pairs = adjacency_pairs(cells)
    # a→b horizontally skips the blank with gap 1
    assert ("a", "b", "H", 1) in pairs
    assert ("a", "c", "V", 0) in pairs
    assert not any(p[0] == "" or p[1] == "" for p in pairs)


def test_adjacency_with_blanks_counts_blanks():
    cells = [cell(0, 0, "a"), cell(0, 1, ""), cell(1, 0, "c"),
             cell(1, 1, "d")]
    pairs = adjacency_pairs_with_blanks(cells)
    assert ("a", "", "H", 0) in pairs
    assert ("", "d", "V", 0) in pairs


def test_dar_multiset():
    true = [("a", "b", "H", 0), ("a", "b", "H", 0), ("b", "c", "V", 0)]
    pred = [("a", "b", "H", 0), ("b", "c", "V", 0), ("x", "y", "H", 0)]
    recall, precision, f = dar_con(true, pred)
    assert recall == pytest.approx(2 / 3)
    assert precision == pytest.approx(2 / 3)


def test_distributed_grits_clean_vs_clean_is_one(spark):
    from table_transformer_spark.eval.grits_distributed import (
        grits_summary,
        grits_table_metrics,
    )
    from table_transformer_spark.fixtures.spark_io import documents_df, media_df
    from table_transformer_spark.pipeline.extract import run_tables

    docs = documents_df(spark, 6)
    media = media_df(spark, 6)
    tables = run_tables(docs, media, mode="clean").cache()
    metrics = grits_table_metrics(tables, tables)
    rows = metrics.collect()
    assert rows
    for row in rows:
        assert row.grits_top == pytest.approx(1.0)
        assert row.grits_loc == pytest.approx(1.0)
        assert row.grits_con == pytest.approx(1.0)
        assert row.acc_con == 1
        assert row.dar_con == pytest.approx(1.0)
    summary = grits_summary(metrics).collect()
    slices = {r.slice: r for r in summary}
    assert slices["all"].n_tables == len(rows)
    assert slices["all"].avg_grits_con == pytest.approx(1.0)


def test_distributed_grits_noisy_vs_clean(spark):
    from table_transformer_spark.eval.grits_distributed import grits_table_metrics
    from table_transformer_spark.fixtures.spark_io import documents_df, media_df
    from table_transformer_spark.pipeline.extract import run_tables

    docs = documents_df(spark, 6)
    media = media_df(spark, 6)
    true_tables = run_tables(docs, media, mode="clean")
    pred_tables = run_tables(docs, media, mode="noisy")
    rows = grits_table_metrics(true_tables, pred_tables).collect()
    assert rows
    # noisy boxes keep the same grid/text at these perturbation levels,
    # so content should stay perfect while loc may dip below 1
    for row in rows:
        assert 0.0 <= row.grits_loc <= 1.0
        assert row.grits_con == pytest.approx(1.0)


def test_distributed_grits_one_sided_tables(spark):
    """A table present on only one side still gives one metrics row,
    with the kernels' empty-side values (the join is full outer)."""
    from table_transformer_spark.eval.grits_distributed import grits_table_metrics

    schema = ("doc_id string, media_ref string, table_num int, "
              "cells array<struct<bbox:array<double>, row_nums:array<int>, "
              "column_nums:array<int>, cell_text:string>>")

    def row(table_num, cells):
        return ("d0", "img://d0/p0", table_num,
                [(c["bbox"], c["row_nums"], c["column_nums"], c["cell_text"])
                 for c in cells])

    both = grid_2x2([["aa", "bb"], ["cc", "dd"]])
    true_only = grid_2x2([["ee", "ff"], ["gg", "hh"]])
    pred_only = grid_2x2([["ii", "jj"], ["kk", "ll"]])
    true = spark.createDataFrame([row(0, both), row(1, true_only)], schema)
    pred = spark.createDataFrame([row(0, both), row(2, pred_only)], schema)
    rows = {r.table_num: r for r in grits_table_metrics(true, pred).collect()}
    assert sorted(rows) == [0, 1, 2]
    assert rows[0].grits_con == pytest.approx(1.0)
    assert (rows[0].num_true_cells, rows[0].num_pred_cells) == (4, 4)

    for table_num, t, p in ((1, true_only, []), (2, [], pred_only)):
        r = rows[table_num]
        assert (r.num_true_cells, r.num_pred_cells) == (len(t), len(p))
        top_f, _, _, top_ub = grits_top(t, p)
        con_f = grits_con(t, p)[0]
        assert r.grits_top == pytest.approx(top_f)
        assert r.grits_top_upper_bound == pytest.approx(top_ub)
        assert r.grits_loc == pytest.approx(grits_loc(t, p)[0])
        assert r.grits_con == pytest.approx(con_f)
        assert r.acc_con == int(con_f == 1)
        assert r.dar_con_original == pytest.approx(
            dar_con(adjacency_pairs(t), adjacency_pairs(p))[2])
        assert r.dar_con == pytest.approx(
            dar_con(adjacency_pairs_with_blanks(t),
                    adjacency_pairs_with_blanks(p))[2])
        assert r.num_spanning_true == 0


def test_grits_from_html():
    from table_transformer_spark.kernels.grits import grits_from_html
    from table_transformer_spark.operators.export import cells_to_html

    cells = grid_2x2([["aa", "bb"], ["cc", "dd"]])
    html = cells_to_html(cells)
    m = grits_from_html(html, html)
    assert m["grits_top"] == pytest.approx(1.0)
    assert m["grits_con"] == pytest.approx(1.0)

    other = cells_to_html(grid_2x2([["aa", "bb"], ["cc", "zz"]]))
    m2 = grits_from_html(html, other)
    assert m2["grits_con"] == pytest.approx(0.75)


def test_table_statistics(spark):
    from table_transformer_spark.eval.statistics import table_statistics
    from table_transformer_spark.fixtures.spark_io import documents_df, media_df
    from table_transformer_spark.pipeline.extract import run_cells

    docs = documents_df(spark, 6)
    media = media_df(spark, 6)
    cells = run_cells(docs, media, mode="clean").cache()
    stats = {(r.doc_id, r.media_ref, r.table_num): r
             for r in table_statistics(cells).collect()}
    assert stats
    # cross-check one table against its cells
    by_table = {}
    for c in cells.collect():
        by_table.setdefault((c.doc_id, c.media_ref, c.table_num),
                            []).append(c)
    for key, tcells in by_table.items():
        s = stats[key]
        assert s.num_cells == len(tcells)
        assert s.num_rows == max(max(c.row_nums) for c in tcells) + 1
        assert s.num_columns == max(max(c.column_nums) for c in tcells) + 1
        n_span = sum(1 for c in tcells
                     if len(c.row_nums) > 1 or len(c.column_nums) > 1)
        assert s.num_spanning_cells == n_span
        assert s.row_height_cv >= 0.0


def test_raw_bbox_grid_and_rawloc():
    from table_transformer_spark.kernels.grits import (
        grits_rawloc,
        raw_output_to_bbox_grid,
    )

    objects = [
        {"label": "table row", "score": 1.0, "bbox": [0, 0, 100, 30]},
        {"label": "table row", "score": 1.0, "bbox": [0, 30, 100, 60]},
        {"label": "table column", "score": 1.0, "bbox": [0, 0, 50, 60]},
        {"label": "table column", "score": 1.0, "bbox": [50, 0, 100, 60]},
        {"label": "table spanning cell", "score": 0.9,
         "bbox": [0, 0, 100, 30]},
    ]
    grid = raw_output_to_bbox_grid(objects)
    assert len(grid) == 2 and len(grid[0]) == 2
    # the spanning cell claims both positions of row 0 → same bbox
    assert grid[0][0] == grid[0][1]
    assert grid[1][0] == [0.0, 30.0, 50.0, 60.0]

    f, p, r, ub = grits_rawloc(objects, objects)
    assert f == pytest.approx(1.0)


def test_spanning_grid_first_claim_wins():
    from table_transformer_spark.kernels.grits import (
        spanning_cell_grid_matches,
    )

    rows = [{"bbox": [0, 0, 100, 30]}, {"bbox": [0, 30, 100, 60]}]
    cols = [{"bbox": [0, 0, 50, 60]}, {"bbox": [50, 0, 100, 60]}]
    sc1 = {"bbox": [0, 0, 100, 30], "score": 1.0}
    sc2 = {"bbox": [0, 0, 100, 30], "score": 0.5}  # same claim, loses
    matches = spanning_cell_grid_matches([sc1, sc2], rows, cols)
    assert sorted(matches[0]) == [(0, 0), (0, 1)]
    assert matches[1] == []
