"""readability-lxml 0.8.1 main-content extraction, re-implemented natively.

The reference delegates boilerplate stripping to readability-lxml 0.8.1
(``deepdoc/parser/html_parser.py:45-47``: ``Document(txt).summary(
html_partial=True)``).  lxml is not available here, so this module
re-implements that library's PUBLISHED ALGORITHM over our stdlib DOM —
not generic Arc90, but the 0.8.1 behaviors specifically (each pinned by a
test in ``tests/test_html.py::TestReadability081Checklist``):

  1.  the exact 0.8.1 regex sets (unlikelyCandidates / okMaybeItsACandidate
      / positive / negative / divToPElements) — no additions;
  2.  ``remove_unlikely_candidates``: class+id concatenated, <html>/<body>
      exempt, okMaybe overrides unlikely;
  3.  div→p transform driven by the SERIALIZED child markup (a block tag
      anywhere in the subtree keeps the div — not just direct children),
      plus the second pass that wraps stray div text/tails into <p> and
      drops <br> children;
  4.  paragraph scoring ``1 + len(text.split(',')) + min(len(text)/100,
      3)`` (the split yields pieces, so a comma-less paragraph scores 2+),
      parent ×1 / grandparent ×0.5, candidate init by tag prior +
      class weight, final scale by (1 − link_density);
  5.  sibling re-attachment at ``max(10, best_score·0.2)``; the extra <p>
      rules use the sibling's LEADING TEXT (lxml ``.text``), link density
      thresholds 0.25 / 0, and the ``\\.( |$)`` sentence test;
  6.  ``html_partial=True`` wraps the article in a bare <div> fragment
      (no html/body shell);
  7.  sanitize: headers with negative class weight or link density > 0.33
      removed; conditional cleaning of table/ul/div/aside/header/footer/
      section by the 0.8.1 counts rules (img vs p, li vs p outside lists,
      input density, short-content, link-density by weight band, embeds).

One annotated post-order walk records every element's normalized text
length, comma count and anchor text length (``_annotate``); scoring, the
sibling rules and sanitize read those instead of re-deriving subtree
text per candidate.  Pure Python, runs only inside Arrow-batched UDFs.
"""

from __future__ import annotations

import functools
import re

from .dom import Node, parse_html, inner_html

# the 0.8.1 regex sets, verbatim
UNLIKELY_RE = re.compile(
    r"combx|comment|community|disqus|extra|foot|header|menu|remark|rss|"
    r"shoutbox|sidebar|sponsor|ad-break|agegate|pagination|pager|popup|"
    r"tweet|twitter",
    re.I,
)
MAYBE_RE = re.compile(r"and|article|body|column|main|shadow", re.I)
POSITIVE_RE = re.compile(
    r"article|body|content|entry|hentry|main|page|pagination|post|text|"
    r"blog|story", re.I,
)
NEGATIVE_RE = re.compile(
    r"combx|comment|com-|contact|foot|footer|footnote|masthead|media|meta|"
    r"outbrain|promo|related|scroll|shoutbox|sidebar|sponsor|shopping|tags|"
    r"tool|widget",
    re.I,
)
DIV_TO_P_RE = re.compile(r"<(a|blockquote|dl|div|img|ol|p|pre|table|ul)",
                         re.I)

# tag → does DIV_TO_P_RE match "<tag"?  The tag vocabulary of a corpus is
# tiny, so memoizing keeps the exact 0.8.1 PREFIX semantics ("<address"
# matches the "a" alternative) without re-running the regex per descendant.
@functools.lru_cache(maxsize=None)
def _is_div_to_p_blocker(tag: str) -> bool:
    return DIV_TO_P_RE.match("<" + tag) is not None


MIN_TEXT_LEN = 25


def _norm_text(n: Node) -> str:
    # ' '.join(s.split()) ≡ re.sub(r'\s+', ' ', s).strip() — verified
    # exhaustively over all codepoints (str.split's whitespace set equals
    # \s), and the regex-free form is ~2× faster
    return " ".join(n.text_content().split())


def _annotate(n: Node, ann: dict) -> None:
    """``ann[n]`` = (non-whitespace chars, words, starts / ends with
    non-whitespace, commas, anchor text length) of ``n.text_content()``,
    from its children's entries.  Two pieces meeting without whitespace
    share a word, so ``len(_norm_text(n)) == _text_len(ann[n])`` without
    building strings; the edge flags are ``None`` for empty text."""
    nws = words = commas = alen = 0
    first = last = None
    for c in n.children:
        if type(c) is str:
            if not c:
                continue
            cc = ca = 0
            if c.isspace():
                cn = cw = 0
                cf = cl = False
            else:
                parts = c.split()
                cn, cw = len("".join(parts)), len(parts)
                cf, cl = not c[0].isspace(), not c[-1].isspace()
                cc = c.count(",")
        else:
            cn, cw, cf, cl, cc, ca = ann[c]
            if cf is None:
                continue
        if last and cf:
            words -= 1
        if first is None:
            first = cf
        last = cl
        nws += cn
        words += cw
        commas += cc
        alen += ca
    if n.tag == "a":
        # 0.8.1 sums every <a> in the subtree, self included, so nested
        # anchors count once per enclosing anchor
        alen += nws + words - 1 if words else 0
    ann[n] = (nws, words, first, last, commas, alen)


def _text_len(a: tuple) -> int:
    """``len(_norm_text(n))`` from ``n``'s annotation."""
    return a[0] + a[1] - 1 if a[1] else 0


def _density(a: tuple) -> float:
    """0.8.1 link density from ``n``'s annotation: anchor text over the
    normalized text length, capped at 1."""
    total = _text_len(a)
    return min(a[5] / total, 1.0) if total else 0.0


def _leading_text(n: Node) -> str:
    """lxml ``elem.text``: the text before the first child ELEMENT."""
    out = []
    for c in n.children:
        if isinstance(c, str):
            out.append(c)
        else:
            break
    return "".join(out)


def _class_weight(n: Node) -> float:
    w = 0.0
    for attr in ("class", "id"):
        v = n.get(attr)
        if v:
            if NEGATIVE_RE.search(v):
                w -= 25
            if POSITIVE_RE.search(v):
                w += 25
    return w


def _score_node(n: Node) -> float:
    score = _class_weight(n)
    t = n.tag
    if t == "div":
        score += 5
    elif t in ("pre", "td", "blockquote"):
        score += 3
    elif t in ("address", "ol", "ul", "dl", "dd", "dt", "li", "form"):
        score -= 3
    elif t in ("h1", "h2", "h3", "h4", "h5", "h6", "th"):
        score -= 5
    return score


class Document:
    """API-compatible subset of readability.Document: title() + summary()."""

    def __init__(self, html: str):
        self._raw = html
        self._root = None
        self._title: str | None = None

    def _dom(self) -> Node:
        if self._root is None:
            self._root = parse_html(self._raw)
        return self._root

    def title(self) -> str:
        if self._title is None:
            t = self._dom().find("title")
            self._title = _norm_text(t) if t is not None else ""
        return self._title if self._title else "[no-title]"

    # ------------------------------------------------------------------
    def summary(self, html_partial: bool = True) -> str:
        """Main-article fragment as an HTML string.  ``html_partial=True``
        (the reference's mode) returns the bare <div> fragment, as 0.8.1
        does with ``fragment_fromstring('<div/>')``."""
        node = self.summary_node()
        body = inner_html(node)
        return f"<div>{body}</div>" if html_partial else body

    def summary_node(self) -> Node:
        """Main-article fragment as a DOM node (fast path: callers that only
        need text extract it directly from this node, skipping the
        serialize→re-parse round trip)."""
        root = parse_html(self._raw)  # fresh tree; we mutate it
        # reuse this parse for title() too (single-parse fast path)
        if self._title is None:
            t = root.find("title")
            self._title = _norm_text(t) if t is not None else ""
        # 0.8.1's lxml Cleaner pass (scripts/javascript/style); forms are
        # NOT cleaned here (Cleaner(forms=False)) — form/textarea drop at
        # the START of sanitize, and input/button/select survive
        # throughout so sanitize's input-density rule has inputs to count.
        # The Cleaner drop and remove_unlikely_candidates share ONE
        # traversal: both snapshot the same original tree, and the drops
        # are order-independent (script subtrees hold no element nodes, and
        # a double-detach of a node inside an already-dropped subtree is a
        # no-op on the final tree).
        bad_tags = []
        unlikely = []
        for n in root.iter():
            t = n.tag
            if t in ("script", "style", "noscript", "iframe"):
                bad_tags.append(n)
                continue
            if t in ("#document", "html", "body"):
                continue
            attrs = f"{n.get('class', '')} {n.get('id', '')}"
            if len(attrs) < 2:
                continue
            if UNLIKELY_RE.search(attrs) and not MAYBE_RE.search(attrs):
                unlikely.append(n)
        for n in bad_tags:
            n.drop()
        for n in unlikely:
            n.drop()
        ann = self._divs_to_paragraphs(root)
        candidates = self._score_paragraphs(root, ann)
        if not candidates:
            return root.find("body") or root
        best = max(candidates.items(), key=lambda kv: kv[1])
        best_node, best_score = best
        article = self._join_siblings(best_node, best_score, candidates,
                                      ann)
        self._sanitize(article, candidates, ann)
        return article

    # ------------------------------------------------------------------
    def _divs_to_paragraphs(self, root: Node) -> dict:
        """The two 0.8.1 div→p passes; returns every element node's text
        annotation (``_annotate``), taken in the same post-order walk.

        Pass 1: a div whose SERIALIZED subtree markup contains no block
        tag becomes a <p> — the test is over tostring(children), so a
        block element at ANY depth keeps the div.  Equivalent to
        searching tostring(children): text/tails cannot contain a literal
        '<' post-parse, so the descendant tag openings are exactly what
        the regex can match.  A node "has a block" if any element child
        is a blocker tag or itself has one.  Pass 2 wraps stray div
        text/tails into <p> and drops <br>s.  Neither pass changes any
        subtree's text, so only the new <p> wrappers need entries."""
        order = []
        stack = [root]
        while stack:
            n = stack.pop()
            order.append(n)
            for c in n.children:
                if type(c) is Node:
                    stack.append(c)
        ann: dict[Node, tuple] = {}
        has_block = set()
        for n in reversed(order):       # every child before its parent
            for c in n.children:
                if type(c) is Node and (_is_div_to_p_blocker(c.tag)
                                        or c in has_block):
                    has_block.add(n)
                    break
            _annotate(n, ann)
        for n in order:
            if n.tag != "div":
                continue
            if n not in has_block:
                n.tag = "p"             # pass 1
                continue
            new_children = []
            for c in n.children:
                if isinstance(c, str):
                    if c.strip():
                        p = Node("p", {})
                        p.append(c)
                        p.parent = n
                        _annotate(p, ann)
                        new_children.append(p)
                    # whitespace-only stray text is dropped with its wrap
                    else:
                        new_children.append(c)
                elif c.tag == "br":
                    continue
                else:
                    new_children.append(c)
            n.children[:] = new_children
        return ann

    def _score_paragraphs(self, root: Node, ann: dict) -> dict:
        candidates: dict[Node, float] = {}
        ordered: list[Node] = []
        for p in root.find_all("p", "pre", "td"):
            parent = p.parent
            if parent is None:
                continue
            grand = parent.parent
            a = ann[p]
            length = _text_len(a)
            if length < MIN_TEXT_LEN:
                continue
            # 0.8.1: 1 + len(split(',')) + min(len/100, 3) — the split
            # yields pieces (commas+1), so a comma-less paragraph adds 2+
            score = 2.0 + a[4] + min(length / 100.0, 3.0)
            for node, share in ((parent, 1.0), (grand, 0.5)):
                if node is None or node.tag in ("#document", "html"):
                    continue
                if node not in candidates:
                    candidates[node] = _score_node(node)
                    ordered.append(node)
                candidates[node] += score * share
        for node in ordered:
            candidates[node] *= (1.0 - _density(ann[node]))
        return candidates

    def _join_siblings(self, best: Node, best_score: float,
                       candidates: dict, ann: dict) -> Node:
        article = Node("div", {})
        threshold = max(10.0, best_score * 0.2)
        parent = best.parent
        siblings = list(parent.children) if parent is not None else [best]
        kept = []
        for sib in siblings:
            if not isinstance(sib, Node):
                continue
            keep = False
            if sib is best:
                keep = True
            elif candidates.get(sib, -1e9) >= threshold:
                keep = True
            elif sib.tag == "p":
                # 0.8.1 uses the sibling's LEADING text (lxml .text), not
                # the full text_content, for these two rules
                node_content = _leading_text(sib)
                node_length = len(node_content)
                ld = _density(ann[sib])
                if node_length > 80 and ld < 0.25:
                    keep = True
                elif node_length <= 80 and ld == 0 \
                        and re.search(r"\.( |$)", node_content):
                    keep = True
            if keep:
                kept.append(sib)
        if not kept:
            kept = [best]
        # 0.8.1 appends the ORIGINAL scored elements (lxml append MOVES the
        # node) — identity must survive so _sanitize can read candidate
        # scores; the tree is a per-call parse, so moving is safe
        for sib in kept:
            sib.drop()
            article.append(sib)
        return article

    def _sanitize(self, article: Node, candidates: dict, ann: dict):
        def drop(n):
            # a drop changes the text of every ancestor up to the article
            up = n.parent
            n.drop()
            while up is not None and up is not article:
                _annotate(up, ann)
                up = up.parent

        # 0.8.1: headers go when negatively classed or link-dense
        for h in list(article.find_all("h1", "h2", "h3", "h4", "h5", "h6")):
            if _class_weight(h) < 0 or _density(ann[h]) > 0.33:
                drop(h)
        # 0.8.1 drops whole form/textarea trees here — AFTER scoring (they
        # contributed to candidate scores) and BEFORE conditional cleanup
        # (so input counts below come only from bare inputs outside forms)
        for n in list(article.find_all("form", "textarea")):
            drop(n)
        # conditional cleaning (0.8.1 clean_conditionally), deepest-first
        targets = [n for n in article.iter()
                   if n is not article and n.tag in (
                       "table", "ul", "div", "aside", "header", "footer",
                       "section")]
        def attached(n):
            while n is not None:
                if n is article:
                    return True
                n = n.parent
            return False

        for n in reversed(targets):
            if not attached(n):
                continue        # already dropped with an ancestor
            weight = _class_weight(n)
            if weight + candidates.get(n, 0.0) < 0:
                drop(n)
                continue
            a = ann[n]
            if a[4] >= 10:
                continue
            counts = n.count_tags(
                {"p": 0, "img": 0, "li": 0, "input": 0, "embed": 0})
            counts["li"] -= 100
            content_length = _text_len(a)
            ld = _density(a)
            remove = False
            if counts["img"] > 1 + counts["p"] * 1.3:
                remove = True           # too many images
            elif counts["li"] > counts["p"] and n.tag not in ("ol", "ul"):
                remove = True           # more list items than paragraphs
            elif counts["input"] > counts["p"] / 3:
                remove = True           # form-like
            elif content_length < MIN_TEXT_LEN and counts["img"] == 0:
                remove = True           # short with nothing to show
            elif content_length < MIN_TEXT_LEN and counts["img"] > 2:
                remove = True
            elif weight < 25 and ld > 0.2:
                remove = True           # link farm, unclassed
            elif weight >= 25 and ld > 0.5:
                remove = True           # link farm, even well-classed
            elif (counts["embed"] == 1 and content_length < 75) \
                    or counts["embed"] > 1:
                remove = True
            if remove:
                drop(n)

