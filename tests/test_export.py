"""HTML/CSV exporters + HTML inverse parser."""

import pytest

from table_transformer_spark.operators.export import (
    cells_to_csv,
    cells_to_html,
    html_to_cells,
)


def cell(rows, cols, text, header=False):
    return {"row_nums": rows, "column_nums": cols, "cell_text": text,
            "header": header}


def simple_cells():
    return [
        cell([0], [0], "H1", header=True),
        cell([0], [1], "H2", header=True),
        cell([1], [0], "a"),
        cell([1], [1], "b"),
        cell([2], [0], "c"),
        cell([2], [1], "d"),
    ]


def test_html_shape():
    html = cells_to_html(simple_cells())
    assert html.startswith("<table>")
    assert "<thead>" in html and "<th>H1</th>" in html
    assert "<tr><td>a</td><td>b</td></tr>" in html


def test_html_spans():
    cells = [
        cell([0], [0, 1], "TITLE", header=True),
        cell([1, 2], [0], "tall"),
        cell([1], [1], "x"),
        cell([2], [1], "y"),
    ]
    html = cells_to_html(cells)
    assert 'colspan="2"' in html
    assert 'rowspan="2"' in html


def test_csv_flattens_multirow_header():
    cells = [
        cell([0], [0], "A", header=True),
        cell([0], [1], "B", header=True),
        cell([1], [0], "A", header=True),   # repeated → deduped
        cell([1], [1], "B2", header=True),
        cell([2], [0], "1"),
        cell([2], [1], "2"),
    ]
    csv = cells_to_csv(cells)
    lines = csv.strip().splitlines()
    assert lines[0] == "A,B | B2"
    assert lines[1] == "1,2"


def test_csv_empty_cells_returns_none():
    assert cells_to_csv([]) is None


def test_html_roundtrip():
    cells = [
        cell([0], [0, 1], "TITLE", header=True),
        cell([1], [0], "a"),
        cell([1], [1], "b"),
        cell([2], [0, 1], "wide"),
    ]
    back = html_to_cells(cells_to_html(cells))
    got = sorted((tuple(c["row_nums"]), tuple(c["column_nums"]),
                  c["cell_text"], c["header"]) for c in back)
    want = sorted((tuple(c["row_nums"]), tuple(c["column_nums"]),
                   c["cell_text"], c["header"]) for c in cells)
    assert got == want


def test_html_to_cells_standard_markup():
    html = ("<table><thead><tr><th>A</th><th>B</th></tr></thead>"
            "<tr><td colspan=\"2\">wide</td></tr>"
            "<tr><td>x</td><td>y</td></tr></table>")
    cells = html_to_cells(html)
    by_text = {c["cell_text"]: c for c in cells}
    assert by_text["A"]["row_nums"] == [0]
    assert by_text["A"]["header"] is True
    assert by_text["wide"]["column_nums"] == [0, 1]
    assert by_text["x"]["row_nums"] == [2]


def test_export_tables_distributed(spark):
    from table_transformer_spark.fixtures.spark_io import documents_df, media_df
    from table_transformer_spark.operators.export import export_tables
    from table_transformer_spark.pipeline.extract import run_tables

    docs = documents_df(spark, 4)
    media = media_df(spark, 4)
    out = export_tables(run_tables(docs, media, mode="clean")).collect()
    assert out
    for r in out:
        assert r.html.startswith("<table>")
        assert r.csv  # every fixture table has at least one body row
