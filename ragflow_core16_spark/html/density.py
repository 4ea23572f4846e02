"""Language-neutral text-density boilerplate stripping — the second
extraction strategy beside the readability-0.8.1 port.

Public-algorithm lineage: block segmentation + per-block link-density /
length classification with context promotion of short blocks follows
JusText (Pomikálek 2011, "Removing boilerplate and duplicate content
from web corpora") restricted to its language-neutral core; the idea of
classifying on shallow text features (word count, link density) rather
than DOM scores is Boilerpipe's (Kohlschütter et al., WSDM 2010).  Full
JusText additionally uses per-language stop-word density; that feature
is deliberately omitted here — stoplists are external assets, and every
remaining rule is deterministic from the markup alone.

Reference comparison point: ``deepdoc/parser/html_parser.py:30-50``
routes extraction through readability scoring; this module is the
alternative a density-first pipeline would use.  The two strategies are
required to agree byte-for-byte on the synthetic corpus — the
``extract_density_e2e`` query is pinned to the SAME DuckDB oracle as the
readability route (``operators/extract_e2e.py::EXTRACT_PAGES_SQL``), so
any divergence on clean pages breaks the value hash.  Genuine behavioral
differences (they exist — density drops link-heavy blocks that
readability's class-weight scoring can keep) are pinned by
``tests/test_html_density.py``.

Thresholds:

* ``MAX_LINK_DENSITY = 0.2`` — JusText's default: any block whose
  anchor-text share exceeds 20% is boilerplate regardless of length.
* ``LENGTH_LOW = 20`` chars — the ctx-free "good" gate.  JusText's
  default (70) pushes mid-length blocks into the stop-word test this
  port omits; 20 keeps single-sentence documents exactly like the
  readability path does, and everything between 20 and 70 that IS
  boilerplate in practice is caught by the link-density gate first
  (nav/footer/related blocks are link-dominated, not merely short).

Scale note: the whole module is per-document pure Python invoked inside
the one Arrow-batched ``mapInArrow`` extraction stage — no shuffles, no
driver participation; strategy choice is a per-row branch.
"""

from __future__ import annotations

from .dom import Node, parse_html

# tags that OPEN/CLOSE a block (JusText: blocks are the text runs between
# block-level boundaries).  Superset of the emitting tags: purely
# structural containers (div, ul, table, …) split blocks too.
BLOCK_BOUNDARY = frozenset(
    "p h1 h2 h3 h4 h5 h6 li dd dt td th pre blockquote caption figcaption "
    "div body html ul ol dl table tr thead tbody tfoot section article "
    "header footer nav aside form center fieldset hr br".split())

# subtrees that contribute no text at all
SKIP_TAGS = frozenset(
    "script style noscript template head title svg math iframe".split())

MAX_LINK_DENSITY = 0.2
LENGTH_LOW = 20

GOOD, BAD, SHORT = "good", "bad", "short"


def _norm(s: str) -> str:
    return " ".join(s.split())


def blocks_of(root: Node) -> list[tuple[str, int, int]]:
    """Segment the DOM into text blocks: ``(normalized_text, chars,
    link_chars)`` in document order.  A block is a maximal text run not
    crossing any block-level boundary; characters inside ``<a>`` subtrees
    count toward ``link_chars``."""
    out: list[tuple[str, int, int]] = []
    pieces: list[str] = []
    link_pieces: list[str] = []

    def flush():
        if not pieces:
            return
        text = _norm("".join(pieces))
        pieces.clear()
        if not text:
            link_pieces.clear()
            return
        ltext = _norm("".join(link_pieces))
        link_pieces.clear()
        out.append((text, len(text), len(ltext)))

    def walk(n: Node, in_link: bool):
        for c in n.children:
            if isinstance(c, str):
                pieces.append(c)
                # block text joins with single spaces; pad link pieces the
                # same way so density ratios match the normalized text
                if in_link:
                    link_pieces.append(c + " ")
                continue
            tag = c.tag
            if tag in SKIP_TAGS:
                continue
            boundary = tag in BLOCK_BOUNDARY
            if boundary:
                flush()
            walk(c, in_link or tag == "a")
            if boundary:
                flush()
            else:
                # inline elements separate words in the whitespace model
                # only via their own text; nothing to add here
                pass

    walk(root, False)
    flush()
    return out


def classify(blocks: list[tuple[str, int, int]]) -> list[str]:
    """Ctx-free classification + JusText context promotion of shorts."""
    cls = []
    for _text, chars, link_chars in blocks:
        if chars and link_chars / chars > MAX_LINK_DENSITY:
            cls.append(BAD)
        elif chars >= LENGTH_LOW:
            cls.append(GOOD)
        else:
            cls.append(SHORT)
    # context pass: a short block is promoted to good iff its nearest
    # non-short neighbor on EITHER side is good (simplified from
    # JusText's near-good neighborhood rule; behavior pinned by tests)
    n = len(cls)
    prev_ns = [None] * n
    last = None
    for i in range(n):
        prev_ns[i] = last
        if cls[i] != SHORT:
            last = cls[i]
    next_ns = [None] * n
    last = None
    for i in range(n - 1, -1, -1):
        next_ns[i] = last
        if cls[i] != SHORT:
            last = cls[i]
    return [GOOD if (c == SHORT and (prev_ns[i] == GOOD or
                                     next_ns[i] == GOOD))
            else (BAD if c == SHORT else c)
            for i, c in enumerate(cls)]


def _title(root: Node) -> str:
    """First <title> in DOCUMENT order, exactly like the readability
    route's ``Document.title()`` (``Node.find`` is a document-order DFS,
    so a head <title> always precedes an inline ``<svg><title>`` and the
    two strategies agree byte-for-byte; title-less pages fall back to the
    same '[no-title]' placeholder)."""
    t = root.find("title")
    s = _norm(t.text_content()) if t is not None else ""
    return s if s else "[no-title]"


def density_sections(txt: str) -> list[str]:
    """Density-strategy twin of ``HtmlParser.parser_txt``: first element
    is the page title, the rest are the kept content blocks in document
    order.  Same output contract so the extraction operator can swap
    strategies per row."""
    root = parse_html(txt)
    blocks = blocks_of(root)
    cls = classify(blocks)
    kept = [b[0] for b, c in zip(blocks, cls) if c == GOOD]
    return [_title(root)] + kept
