"""Corpus QC gates (scripts/process_fintabnet.py:841-902)."""

import pytest

from table_transformer_spark.kernels.quality import (
    check_structure_validity,
    check_word_coverage,
    levenshtein,
    strip_markup_tags,
    table_text_edit_distance,
)


def test_levenshtein():
    assert levenshtein("", "") == 0
    assert levenshtein("abc", "abc") == 0
    assert levenshtein("kitten", "sitting") == 3
    assert levenshtein("abc", "") == 3


def test_edit_distance_normalization():
    cells = [{"text": "Total 100.", "pdf_text": "Total100"}]
    # spaces removed and trailing period stripped → identical
    assert table_text_edit_distance(cells) == 0
    cells = [{"text": "abcd", "pdf_text": "abxd"}]
    assert table_text_edit_distance(cells) == pytest.approx(0.25)
    assert table_text_edit_distance([]) == 0


def test_word_coverage_gate():
    table = {"bbox": [0, 0, 100, 100], "reject": [],
             "cells": [{"bbox": [0, 0, 50, 100]},
                       {"bbox": [50, 0, 100, 100]}]}
    inside = [([5, 5, 20, 15], "word"), ([60, 5, 80, 15], "word")]
    check_word_coverage(table, inside)
    assert table["reject"] == []

    # a word ≥50% in the table but hanging off every cell
    bad = {"bbox": [0, 0, 100, 100], "reject": [],
           "cells": [{"bbox": [0, 0, 10, 10]}]}
    check_word_coverage(bad, [([40, 40, 60, 60], "stray")])
    assert "poor text cell fit" in bad["reject"]

    # '.'-only words are ignored
    dots = {"bbox": [0, 0, 100, 100], "reject": [],
            "cells": [{"bbox": [0, 0, 10, 10]}]}
    check_word_coverage(dots, [([40, 40, 60, 60], ".")])
    assert dots["reject"] == []


def test_structure_validity_gate():
    ok = {"rows": {0: {"bbox": [0, 0, 100, 30]},
                   1: {"bbox": [0, 30.5, 100, 60]}},
          "columns": {0: {"bbox": [0, 0, 50, 60]},
                      1: {"bbox": [50, 0, 100, 60]}},
          "reject": []}
    check_structure_validity(ok)
    assert ok["reject"] == []

    bad = {"rows": {0: {"bbox": [0, 0, 100, 35]},
                    1: {"bbox": [0, 30, 100, 60]}},  # >1pt overlap
           "columns": {}, "reject": []}
    check_structure_validity(bad)
    assert "rows intersect" in bad["reject"]

    # edit-distance gate
    t = {"rows": {}, "columns": {}, "reject": []}
    cells = [{"text": "alpha", "pdf_text": "omega"}]
    check_structure_validity(t, edit_distance_cells=cells)
    assert "text annotation quality" in t["reject"]


def test_strip_markup():
    cells = [{"text": "a<i>b</i> <sup>1</sup>c"}]
    strip_markup_tags(cells)
    # a single replace("  ", " ") pass leaves the double space that
    # the space after "</i>" and the stripped "<sup>" produce together
    assert cells[0]["text"] == "a b  1 c"


def test_is_portrait_majority_vote():
    from table_transformer_spark.kernels.quality import is_portrait

    lines = [
        {"bbox": [0, 0, 50, 10], "dir": (1, 0)},
        {"bbox": [0, 20, 50, 30], "dir": (1, 0)},
        {"bbox": [60, 0, 70, 50], "dir": (0, -1)},
    ]
    assert is_portrait(lines) is True
    assert is_portrait(lines, bbox=[55, 0, 100, 100]) is False  # only the
    # rotated line falls inside the region
    assert is_portrait([]) is True  # tie → portrait
