"""Tests of the benchmark's own input generation and output checks.

    python3 -m pytest perfbench -q
"""

import duckdb

from perfbench import inputs
from perfbench.checks import oracle_rows, spans_match, spark_rows
from table_transformer_spark.fixtures.generate import (
    expected_spans_clean,
    gen_document,
)


def test_same_seed_same_fingerprint():
    assert inputs.fingerprint(7) == inputs.fingerprint(7)


def test_other_seed_other_fingerprint():
    assert inputs.fingerprint(7) != inputs.fingerprint(8)


def test_window_skips_ambiguous_ids():
    # DOC0001755 has page prose inside a table crop (seed 3's window
    # of 500 ids)
    ids = inputs.doc_ids(3, n=500)
    assert "DOC0001755" not in ids
    assert len(ids) == 499
    assert inputs.ambiguous("DOC0001755")


def test_corpus_tables_match_window():
    ids, docs, media = inputs.corpus_tables(3, n=20)
    assert ids == inputs.doc_ids(3, n=20)
    assert docs.column("doc_id").to_pylist() == ids
    assert media.num_rows >= len(ids)


def _expected_rows(ids):
    return [(d, s["kind"], s["text"], s["media_ref"], s["offset"])
            for d in ids for s in expected_spans_clean(gen_document(d))]


def test_span_check_accepts_expected_output_in_any_order():
    ids = inputs.doc_ids(3, n=6)
    assert spans_match(list(reversed(_expected_rows(ids))), ids)


def test_span_check_catches_one_dropped_span():
    ids = inputs.doc_ids(3, n=6)
    rows = _expected_rows(ids)
    for drop in (0, len(rows) // 2, len(rows) - 1):
        assert not spans_match(rows[:drop] + rows[drop + 1:], ids)


def test_span_check_catches_changed_text_and_missing_doc():
    ids = inputs.doc_ids(3, n=6)
    rows = _expected_rows(ids)
    d, kind, text, ref, off = rows[-1]
    assert not spans_match(rows[:-1] + [(d, kind, text + "x", ref, off)], ids)
    assert not spans_match([r for r in rows if r[0] != ids[0]], ids)


def test_oracle_check_catches_corrupted_row():
    con = duckdb.connect()
    expected = oracle_rows(
        con, "SELECT * FROM (VALUES (1, 0.5::DOUBLE, 'a'), "
             "(2, 0.25::DOUBLE, 'b')) v(id, score, label)")
    columns = ["label", "id", "score"]
    good = [("b", 2, 0.25), ("a", 1, 0.5)]
    assert spark_rows(good, columns) == expected
    assert spark_rows([("b", 2, 0.25), ("a", 1, 0.51)], columns) != expected
    assert spark_rows(good[:1], columns) != expected
