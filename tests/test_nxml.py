"""NXML table-wrap scanning + parsing (scripts/process_pubmed.py:207-343)."""

import pytest

from table_transformer_spark.operators.nxml import (
    find_table_wraps,
    parse_nxml_table,
)

NXML_DOC = """<article><body><p>intro</p>
<table-wrap id="t1"><label>Table 1</label>
<caption><p>Study results</p></caption>
<table>
<thead><tr><th>Group</th><th colspan="2">Scores</th></tr></thead>
<tbody>
<tr><td> indented</td><td>1</td><td>2</td></tr>
<tr><td rowspan="2">tall</td><td>3</td><td>4</td></tr>
<tr><td>5</td><td>6</td></tr>
</tbody>
</table>
<table-wrap-foot><p>n = 42</p></table-wrap-foot>
</table-wrap>
<p>middle text</p>
<table-wrap><table><tr><td>solo</td></tr></table></table-wrap>
</body></article>"""


def test_find_table_wraps():
    wraps = find_table_wraps(NXML_DOC)
    assert len(wraps) == 2
    a, b = wraps[0]
    assert NXML_DOC[a:].startswith("<table-wrap ")
    assert NXML_DOC[:b].endswith("</table-wrap>")


def test_find_table_wraps_mismatch_returns_none():
    assert find_table_wraps("<table-wrap><table-wrap></table-wrap>") is None


def test_parse_nxml_table():
    a, b = find_table_wraps(NXML_DOC)[0]
    t = parse_nxml_table(NXML_DOC[a:b])
    assert t["label_text"] == "Table 1"
    assert t["caption_text"] == "Study results"
    assert t["footer_text"] == "n = 42"
    assert t["num_rows"] == 4
    assert t["num_columns"] == 3

    by_text = {c["text"]: c for c in t["cells"]}
    assert by_text["Group"]["is_column_header"] is True
    assert by_text["Scores"]["column_nums"] == [1, 2]
    assert by_text["indented"]["indented"] is True
    assert by_text["tall"]["row_nums"] == [2, 3]
    # the cell after the rowspan in the next row shifts right
    assert by_text["5"]["column_nums"] == [1]


def test_parse_invalid_returns_none():
    assert parse_nxml_table("<table-wrap><broken") is None


def test_scan_nxml_tables_distributed(spark):
    from table_transformer_spark.operators.nxml import scan_nxml_tables

    df = spark.createDataFrame([("d1", NXML_DOC), ("d2", "<article/>")],
                               ["doc_id", "xml"])
    rows = scan_nxml_tables(df, "doc_id", "xml").collect()
    assert len(rows) == 2  # two tables in d1, none in d2
    assert {r.table_idx for r in rows} == {0, 1}
    first = next(r for r in rows if r.table_idx == 0)
    assert first.num_columns == 3
    assert len(first.cells) == 10  # 2 header + 3 + 3 + 2 body cells


@pytest.mark.parametrize("xml", [
    "<article><p>no tables here</p></article>",
    NXML_DOC.replace("</table-wrap>", "", 1),   # wraps do not pair up
])
def test_scan_nxml_tables_typed_empty(spark, xml):
    from table_transformer_spark.operators.nxml import (
        _SCAN_SCHEMA,
        scan_nxml_tables,
    )

    df = spark.createDataFrame([("d1", xml), ("d2", xml)],
                               ["doc_id", "xml"])
    out = scan_nxml_tables(df, "doc_id", "xml")
    assert out.schema == _SCAN_SCHEMA
    assert out.collect() == []
