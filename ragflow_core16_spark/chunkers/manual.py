"""Manual chunk template — heading-level question-stack chunking.

Reference: ``rag/app/manual.py``.  Two routes:

  * docx (manual.py:107-170): walk paragraphs; a paragraph whose style is
    "Heading N" (N ≤ 6) is a *question* at level N
    (``docx_question_level``, rag/nlp/__init__.py:544-554); everything else
    accumulates into the running answer.  On each new question the pending
    (question-stack, answer) pair is emitted as ``"\\n".join(stack) + "\\n"
    + answer`` and the stack pops to the new level.  Tables render to HTML
    with the reference's consecutive-equal-cell colspan merge
    (manual.py:152-170).
  * pdf (manual.py:173-250): boxes → bullets_category/title_frequency →
    most-level pivot merge — the ``paper_merge`` algorithm (chunkers/
    paper.py); no manual operator wires a PDF route.
"""

from __future__ import annotations

import re

from .hierarchy import BULLET_PATTERN


def docx_question_level(text: str, style_name: str,
                        bull: int = -1) -> tuple[int, str]:
    """(level, text): "Heading N" style → N; else bullet-pattern level
    (rag/nlp/__init__.py:544-554); 0 = not a question."""
    txt = re.sub(r"　", " ", text).strip()
    if style_name.startswith("Heading"):
        try:
            return int(style_name.split(" ")[-1]), txt
        except ValueError:
            return 0, txt
    if bull < 0:
        return 0, txt
    for j, title in enumerate(BULLET_PATTERN[bull]):
        if re.match(title, txt):
            return j + 1, txt
    return len(BULLET_PATTERN[bull]), txt


def manual_docx_chunks(paragraphs: list[tuple[str, str]]) -> list[str]:
    """Question-stack chunking over (text, style) paragraphs
    (manual.py:115-150, images omitted — no codecs in this engine)."""
    last_answer = ""
    question_stack: list[str] = []
    level_stack: list[int] = []
    out: list[str] = []
    for text, style in paragraphs:
        question_level, p_text = 0, ""
        if text.strip():
            question_level, p_text = docx_question_level(text, style)
        if not question_level or question_level > 6:  # not a question
            last_answer = f"{last_answer}\n{p_text}"
        else:
            if last_answer:
                sum_question = "\n".join(question_stack)
                if sum_question:
                    out.append(f"{sum_question}\n{last_answer}")
                last_answer = ""
            i = question_level
            while question_stack and i <= level_stack[-1]:
                question_stack.pop()
                level_stack.pop()
            question_stack.append(p_text)
            level_stack.append(question_level)
    if last_answer:
        sum_question = "\n".join(question_stack)
        if sum_question:
            out.append(f"{sum_question}\n{last_answer}")
    return out


def docx_table_html(grid: list[list[str]]) -> str:
    """Row HTML with the reference's consecutive-equal-cell colspan merge
    (manual.py:154-169) — including its quirk that a later equal cell
    extends the span and skips the cells in between."""
    html = "<table>"
    for row in grid:
        html += "<tr>"
        i = 0
        while i < len(row):
            span = 1
            c = row[i]
            for j in range(i + 1, len(row)):
                if c == row[j]:
                    span += 1
                    i = j
            i += 1
            html += (f"<td>{c}</td>" if span == 1
                     else f"<td colspan='{span}'>{c}</td>")
        html += "</tr>"
    html += "</table>"
    return html


def laws_docx_sections(paragraphs: list[tuple[str, str]]) -> list[str]:
    """Laws docx level-tree grouping (rag/app/laws.py:57-100): bullet
    taxonomy elected over all paragraphs; each line gets a question level
    from its Heading style or bullet pattern; each section = a parent line
    plus its children at the first non-empty deeper level.  The reference's
    visit-skip quirk (a visited leaf suppresses only single-line spans) is
    reproduced as-is."""
    from .hierarchy import bullets_category
    bull = bullets_category([t for t, _s in paragraphs])
    lines: list[tuple[int, str]] = []
    for text, style in paragraphs:
        question_level, p_text = docx_question_level(text, style, bull)
        if not p_text.strip("\n"):
            continue
        lines.append((question_level, p_text))

    visit = [False] * len(lines)
    sections: list[str] = []
    for s in range(len(lines)):
        e = s + 1
        while e < len(lines):
            if lines[e][0] <= lines[s][0]:
                break
            e += 1
        if e - s == 1 and visit[s]:
            continue
        sec: list[str] = []
        next_level = lines[s][0] + 1
        while not sec and next_level < 22:
            for i in range(s + 1, e):
                if lines[i][0] != next_level:
                    continue
                sec.append(lines[i][1])
                visit[i] = True
            next_level += 1
        sec.insert(0, lines[s][1])
        sections.append("\n".join(sec))
    return [s for s in sections if s]
