"""Character-DP alignment with gap taxonomy (scripts/process_pubmed.py:348-429)."""

import pytest

from table_transformer_spark.kernels.alignment import align_chars


def test_exact_substring_aligns_cleanly():
    page = "intro text THE TABLE CONTENT trailing text"
    table = "THE TABLE CONTENT"
    (a_page, a_table), score = align_chars(page, table)
    # the table chars align 1:1 inside the page; page boundary chars
    # become cheap gaps in the table string
    assert a_page == page
    assert a_table.replace("_", "") == table
    start = a_table.index("T")
    assert a_page[start:start + len(table)] == table


def test_score_only_matches_full():
    page, table = "abc def ghi", "def"
    s1 = align_chars(page, table, score_only=True)
    _, s2 = align_chars(page, table)
    assert s1 == pytest.approx(s2)


def test_match_scores_order_pages():
    table = "alpha beta gamma"
    right = "xx alpha beta gamma yy"
    wrong = "something else entirely unrelated"
    assert align_chars(right, table, score_only=True) > \
        align_chars(wrong, table, score_only=True)


def test_boundary_gaps_cheaper_than_interior():
    # skipping page text before/after the table is rewarded, skipping in
    # the middle of the table match is punished
    table = "ab cd"
    clean = align_chars("zzz ab cd zzz", table, score_only=True)
    torn = align_chars("ab zzzzzzzzz cd", table, score_only=True)
    assert clean > torn


def test_gap_after_space_preferred():
    # opening a table-side gap after a space is cheaper than after a
    # non-space (hyphenation-style penalty)
    (ap1, at1), s_space = align_chars("aa bb", "aa XY bb",
                                      new_gap_penalty=-1)
    assert "X" in at1 and "Y" in at1


def test_empty_sides():
    assert align_chars("", "", score_only=True) == 0
    (ap, at), s = align_chars("abc", "")
    assert at == "___"
    assert ap == "abc"


def test_align_chars_fast_equals_slow_hypothesis():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from table_transformer_spark.kernels.alignment import (
        align_chars,
        align_chars_slow,
    )

    alphabet = "ab c.x"

    @settings(max_examples=200, deadline=None)
    @given(st.text(alphabet=alphabet, min_size=0, max_size=40),
           st.text(alphabet=alphabet, min_size=0, max_size=25),
           st.sampled_from([
               # locate params and page-location params
               dict(match_reward=3, mismatch_penalty=-2,
                    new_gap_penalty=-10, continue_gap_penalty=-0.05,
                    page_boundary_gap_reward=0.2, gap_character="~"),
               dict(match_reward=2, mismatch_penalty=-2,
                    new_gap_penalty=-10, continue_gap_penalty=-0.0005,
                    page_boundary_gap_reward=0.0001, gap_character="~"),
               dict(),
           ]))
    def check(page, table, kw):
        fast = align_chars(page, table, score_only=False, **kw)
        slow = align_chars_slow(page, table, score_only=False, **kw)
        assert fast == slow
        assert (align_chars(page, table, score_only=True, **kw)
                == align_chars_slow(page, table, score_only=True, **kw))

    check()
