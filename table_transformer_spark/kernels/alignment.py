"""Character-level sequence alignment with the corpus-ETL gap taxonomy.

Re-expresses the reference's ``align`` (``scripts/process_pubmed.py:
348-429``): a Needleman-Wunsch variant whose gap costs distinguish
opening vs continuing a gap, gaps after non-space characters, and free
"page boundary" gaps (page text before/after the table should cost
almost nothing).  Used by :mod:`.locate` (the ``locate_table`` and
``locate_caption`` ports) to anchor page words to table and caption
text.

Pointer conventions match the reference exactly (0 diag, -1 up/page,
1 left/table; tie preference diag ≻ up ≻ left) because the traceback
determines which characters anchor to which — the coordinates of every
downstream bbox hull.
"""

from __future__ import annotations

import numpy as np

__all__ = ["align_chars", "align_chars_slow"]


def align_chars_slow(page_text: str, table_text: str,
                     match_reward: float = 2, mismatch_penalty: float = -5,
                     new_gap_penalty: float = -2,
                     continue_gap_penalty: float = -0.05,
                     page_boundary_gap_reward: float = 0.01,
                     gap_not_after_space_penalty: float = -1,
                     score_only: bool = False, gap_character: str = "_"):
    """Align *table_text* into *page_text* — literal per-cell DP, kept
    as the parity reference for :func:`align_chars` (hypothesis-tested
    equal on scores, pointers, and tracebacks).

    Returns ``score`` when ``score_only`` else
    ``((aligned_page, aligned_table), score)`` with gap characters
    marking skips, like the reference.
    """
    n, m = len(page_text), len(table_text)
    scores = np.zeros((n + 1, m + 1))
    pointers = np.zeros((n + 1, m + 1), dtype=np.int8)

    # skipping page characters at the boundary is (mildly) rewarded
    scores[1:, 0] = np.arange(1, n + 1) * page_boundary_gap_reward
    pointers[1:, 0] = -1
    pointers[0, 1:] = 1

    for i in range(1, n + 1):
        pc = page_text[i - 1]
        row = scores[i]
        prev_row = scores[i - 1]
        ptr_row = pointers[i]
        prev_ptr = pointers[i - 1]
        for j in range(1, m + 1):
            tc = table_text[j - 1]
            diag = prev_row[j - 1] + (match_reward if pc == tc
                                      else mismatch_penalty)

            # gap in the page string (consume table char)
            if ptr_row[j - 1] == 1:
                left = row[j - 1] + continue_gap_penalty
            else:
                left = row[j - 1] + new_gap_penalty
                if tc != " ":
                    left += gap_not_after_space_penalty

            # gap in the table string (consume page char)
            if j == m:
                up = prev_row[j] + page_boundary_gap_reward
            elif prev_ptr[j] == -1:
                up = prev_row[j] + continue_gap_penalty
            else:
                up = prev_row[j] + new_gap_penalty
                if pc != " ":
                    up += gap_not_after_space_penalty

            best = max(diag, up, left)
            row[j] = best
            if diag == best:
                ptr_row[j] = 0
            elif up == best:
                ptr_row[j] = -1
            else:
                ptr_row[j] = 1

    score = float(scores[n, m])
    if score_only:
        return score

    i, j = n, m
    a_page, a_table = [], []
    while not (i == 0 and j == 0):
        p = pointers[i, j]
        if p == -1:
            i -= 1
            a_table.append(gap_character)
            a_page.append(page_text[i])
        elif p == 1:
            j -= 1
            a_page.append(gap_character)
            a_table.append(table_text[j])
        else:
            i -= 1
            j -= 1
            a_page.append(page_text[i])
            a_table.append(table_text[j])
    return ["".join(reversed(a_page)), "".join(reversed(a_table))], score



def align_chars(page_text: str, table_text: str,
                match_reward: float = 2, mismatch_penalty: float = -5,
                new_gap_penalty: float = -2,
                continue_gap_penalty: float = -0.05,
                page_boundary_gap_reward: float = 0.01,
                gap_not_after_space_penalty: float = -1,
                score_only: bool = False, gap_character: str = "_"):
    """Anti-diagonal-vectorized twin of :func:`align_chars_slow`.

    Cell (i, j) depends on (i-1, j-1) [two anti-diagonals back] and on
    (i, j-1) / (i-1, j) [one back] — including their POINTERS (the
    continue-vs-new gap costs) — so sweeping anti-diagonals i+j=k and
    vectorizing over the cells of each is exact: every dependency is
    already final.  Same scores, same pointers (tie order diag ≻ up ≻
    left), same traceback as the literal DP; ~an order of magnitude
    faster on real page×table sizes.  Hypothesis-tested equal to the
    slow twin on scores and tracebacks.
    """
    n, m = len(page_text), len(table_text)
    if n == 0 or m == 0:
        return align_chars_slow(
            page_text, table_text, match_reward, mismatch_penalty,
            new_gap_penalty, continue_gap_penalty,
            page_boundary_gap_reward, gap_not_after_space_penalty,
            score_only, gap_character)

    page_np = np.frombuffer(page_text.encode("utf-32-le"), dtype=np.uint32)
    table_np = np.frombuffer(table_text.encode("utf-32-le"), dtype=np.uint32)
    space = np.uint32(ord(" "))
    tc_extra = np.where(table_np != space, gap_not_after_space_penalty, 0.0)
    pc_extra = np.where(page_np != space, gap_not_after_space_penalty, 0.0)

    scores = np.zeros((n + 1, m + 1))
    pointers = np.zeros((n + 1, m + 1), dtype=np.int8)
    scores[1:, 0] = np.arange(1, n + 1) * page_boundary_gap_reward
    pointers[1:, 0] = -1
    pointers[0, 1:] = 1

    for k in range(2, n + m + 1):
        lo = max(1, k - m)
        hi = min(n, k - 1)
        if lo > hi:
            continue
        i = np.arange(lo, hi + 1)
        j = k - i

        diag = scores[i - 1, j - 1] + np.where(
            page_np[i - 1] == table_np[j - 1],
            match_reward, mismatch_penalty)

        # NOTE association: the literal DP adds new_gap and the
        # not-after-space extra in TWO steps ((base + new) + extra);
        # pre-summing the constants changes float rounding and breaks
        # bit-exact parity, so each branch is computed separately
        left_base = scores[i, j - 1]
        left = np.where(
            pointers[i, j - 1] == 1,
            left_base + continue_gap_penalty,
            (left_base + new_gap_penalty) + tc_extra[j - 1])

        up_base = scores[i - 1, j]
        up = np.where(
            j == m, up_base + page_boundary_gap_reward,
            np.where(pointers[i - 1, j] == -1,
                     up_base + continue_gap_penalty,
                     (up_base + new_gap_penalty) + pc_extra[i - 1]))

        best = np.maximum(diag, np.maximum(up, left))
        ptr = np.where(diag == best, 0,
                       np.where(up == best, -1, 1)).astype(np.int8)
        scores[i, j] = best
        pointers[i, j] = ptr

    score = float(scores[n, m])
    if score_only:
        return score

    i, j = n, m
    a_page, a_table = [], []
    while not (i == 0 and j == 0):
        ptr = pointers[i, j]
        if ptr == -1:
            i -= 1
            a_table.append(gap_character)
            a_page.append(page_text[i])
        elif ptr == 1:
            j -= 1
            a_page.append(gap_character)
            a_table.append(table_text[j])
        else:
            i -= 1
            j -= 1
            a_page.append(page_text[i])
            a_table.append(table_text[j])
    return ["".join(reversed(a_page)), "".join(reversed(a_table))], score
