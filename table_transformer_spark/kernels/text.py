"""Reading-order text assembly from word/token spans.

Replicates the string-assembly contract of the reference's
``extract_text_from_spans`` (``src/postprocess.py:307-355``): spans are
ordered by (block_num, line_num, span_num) via three stable sorts, words
within a line join with a single space, and a line break contributes a
space *unless* the line already ends in a space or in a hyphen preceded
by a non-space (soft hyphenation).

Note: the reference's superscript-removal path calls an ``is_int`` helper
that is never defined anywhere in the repo (latent NameError at
``src/postprocess.py:324``) — it only triggers when a span has the
superscript flag bit set. We implement the evidently-intended behavior
(drop spans whose text parses as an integer).
"""

from __future__ import annotations

__all__ = ["assemble_text", "span_has_text", "text_inside_bbox",
           "spans_inside_bbox"]

from ..geometry import overlaps


def _parses_as_int(text: str) -> bool:
    try:
        int(text)
        return True
    except (TypeError, ValueError):
        return False


def assemble_text(spans, join_with_space: bool = True,
                  remove_integer_superscripts: bool = True) -> str:
    """Assemble token spans into one string, reference semantics.

    Each span is a mapping with ``text`` plus reading-order keys
    ``block_num`` / ``line_num`` / ``span_num`` and optionally ``flags``
    (bit 0 = superscript, ``src/postprocess.py:318-327``).
    """
    join_char = " " if join_with_space else ""

    kept = list(spans)
    if remove_integer_superscripts:
        filtered = []
        for span in kept:
            flags = span.get("flags")
            if flags is not None and flags & 1 and _parses_as_int(span["text"]):
                continue  # integer superscript: drop (footnote marker)
            filtered.append(span)
        kept = filtered

    if not kept:
        return ""
    if len(kept) == 1:
        # single span: ordering, line grouping, and hyphen logic are
        # all no-ops — the result is just the stripped text (the final
        # join below would produce exactly this)
        return kept[0]["text"].strip()

    # (block, line, span) ordering via stable sorts, matching the
    # reference's sort cascade at src/postprocess.py:332-334.
    kept.sort(key=lambda s: (s["block_num"], s["line_num"], s["span_num"]))

    lines = []
    current = [kept[0]["text"]]
    for prev, nxt in zip(kept[:-1], kept[1:]):
        same_line = (prev["block_num"] == nxt["block_num"]
                     and prev["line_num"] == nxt["line_num"])
        if same_line:
            current.append(nxt["text"])
            continue
        line = join_char.join(current).strip()
        if (line
                and line[-1] != " "
                and not (len(line) > 1 and line[-1] == "-" and line[-2] != " ")):
            # reference quirk: the explicit space is only appended in the
            # join_with_space=False mode; in the default mode the final
            # join supplies it (src/postprocess.py:343-347).
            if not join_with_space:
                line += " "
        lines.append(line)
        current = [nxt["text"]]
    lines.append(join_char.join(current))

    return join_char.join(lines).strip()


def span_has_text(span) -> bool:
    """Whether *span* puts a non-blank character into
    ``assemble_text(spans, remove_integer_superscripts=True)``: it is not
    blank and not an integer superscript.  The assembled text of a span
    set is non-empty after ``strip()`` exactly when one of its spans has
    text, since joining and stripping never drop a non-blank character.
    """
    text = span["text"]
    if not text.strip():
        return False
    flags = span.get("flags")
    return not (flags is not None and flags & 1 and _parses_as_int(text))


def spans_inside_bbox(spans, bbox, threshold: float = 0.5):
    """Spans whose own area overlaps *bbox* by ≥ threshold
    (``src/postprocess.py:283-293``)."""
    return [s for s in spans if overlaps(s["bbox"], bbox, threshold)]


def text_inside_bbox(spans, bbox) -> str:
    """Text of the spans ≥50% inside *bbox*
    (``src/postprocess.py:273-280``; superscript ints removed)."""
    subset = spans_inside_bbox(spans, bbox)
    return assemble_text(subset, remove_integer_superscripts=True)
