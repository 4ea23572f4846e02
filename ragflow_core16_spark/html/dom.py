"""Lightweight DOM built on stdlib ``html.parser.HTMLParser``.

The reference's HTML path (``deepdoc/parser/html_parser.py:41-50``) relies on
lxml via readability-lxml + html-text.  Neither lxml nor those libraries exist
in this environment, so the extraction engine carries its own from-scratch DOM:
tolerant of malformed markup (unclosed tags, stray end tags — FIXTURES.md §1.1
injects 10% malformed pages), with the implicit-close rules browsers apply to
``p``/``li``/``tr``/``td``/``th``/``option``.

This code runs *inside* Arrow-batched pandas UDFs only — never per-row at the
DataFrame level.  It is pure Python with no per-node regex; parse cost is
O(bytes) and dominates the extraction UDF profile, which is expected (same as
lxml parse dominating the reference's profile).
"""

from __future__ import annotations

from html.parser import HTMLParser

VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# tag → set of open ancestor tags it implicitly closes (nearest first)
_IMPLICIT_CLOSE = {
    "p": {"p"},
    "li": {"li"},
    "tr": {"tr", "td", "th"},
    "td": {"td", "th"},
    "th": {"td", "th"},
    "option": {"option"},
    "dd": {"dd", "dt"},
    "dt": {"dd", "dt"},
    "thead": {"tr", "td", "th"},
    "tbody": {"tr", "td", "th", "thead"},
}

# block-level elements whose start implicitly closes an open <p>
_P_CLOSERS = frozenset(
    "address article aside blockquote div dl fieldset figure footer form "
    "h1 h2 h3 h4 h5 h6 header hr main nav ol p pre section table ul".split()
)


class Node:
    __slots__ = ("tag", "attrs", "children", "parent")

    def __init__(self, tag: str, attrs=None, parent=None):
        self.tag = tag
        self.attrs = dict(attrs or {})
        self.children: list = []  # Node or str (text)
        self.parent = parent

    # -- tree ops ---------------------------------------------------------
    def append(self, child):
        if isinstance(child, Node):
            child.parent = self
        self.children.append(child)

    def remove_child(self, child):
        self.children = [c for c in self.children if c is not child]
        if isinstance(child, Node):
            child.parent = None

    def drop(self):
        if self.parent is not None:
            self.parent.remove_child(self)

    def iter(self):
        """Depth-first over element nodes (self included).  Iterative —
        the generator-per-level form dominated the extraction profile.
        (``type(c) is Node`` instead of isinstance: Node is final, and this
        loop is the hottest line of the whole extraction UDF.)"""
        stack = [self]
        while stack:
            n = stack.pop()
            yield n
            for c in reversed(n.children):
                if type(c) is Node:
                    stack.append(c)

    def find_all(self, *tags):
        """Non-generator DFS: one flat loop, no per-node genexpr frames."""
        out = []
        stack = [self]
        while stack:
            n = stack.pop()
            if n.tag in tags:
                out.append(n)
            for c in reversed(n.children):
                if type(c) is Node:
                    stack.append(c)
        return out

    def count_tags(self, counts: dict) -> dict:
        """Increment ``counts[tag]`` for every descendant (self included)
        whose tag is a key — the 5-tag sanitize census in ONE traversal."""
        stack = [self]
        while stack:
            n = stack.pop()
            if n.tag in counts:
                counts[n.tag] += 1
            for c in n.children:
                if type(c) is Node:
                    stack.append(c)
        return counts

    def find(self, tag):
        for n in self.iter():
            if n.tag == tag:
                return n
        return None

    # -- text -------------------------------------------------------------
    def text_content(self) -> str:
        out = []
        stack = [self]
        while stack:
            n = stack.pop()
            if isinstance(n, str):
                out.append(n)
            else:
                stack.extend(reversed(n.children))
        return "".join(out)

    def get(self, attr, default=""):
        return self.attrs.get(attr, default)

    def __repr__(self):
        return f"<Node {self.tag} {self.attrs.get('class', '')!r}>"


# Browsers cap tree depth (~512); we cap at 256 so the recursive
# serialize/clone/extract passes stay far from Python's recursion limit even
# on adversarial pages. Elements beyond the cap attach flat to the current
# node instead of nesting.
MAX_DEPTH = 256


class _DomBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Node("#document")
        self.stack = [self.root]

    # current open element
    @property
    def top(self) -> Node:
        return self.stack[-1]

    def _close_implicit(self, tag: str):
        closers = _IMPLICIT_CLOSE.get(tag)
        if tag in _P_CLOSERS and self.top.tag == "p":
            self.stack.pop()
            return
        if closers and self.top.tag in closers:
            self.stack.pop()
            # td/th after closing may expose a tr that a new tr must close too
            if tag == "tr" and self.top.tag == "tr":
                self.stack.pop()

    def handle_starttag(self, tag, attrs):
        tag = tag.lower()
        if tag in ("script", "style"):
            # HTMLParser delivers raw script/style content via handle_data;
            # we keep the node so cleaners can drop it subtree-wise.
            pass
        self._close_implicit(tag)
        top = self.stack[-1]
        node = Node(tag, attrs, top)
        top.children.append(node)   # parent already set by the constructor
        if tag not in VOID_TAGS and len(self.stack) < MAX_DEPTH:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        tag = tag.lower()
        top = self.stack[-1]
        top.children.append(Node(tag, attrs, top))

    def handle_endtag(self, tag):
        tag = tag.lower()
        if tag in VOID_TAGS:
            return
        # pop to the nearest matching open tag; ignore stray end tags
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return

    def handle_data(self, data):
        if data:
            self.stack[-1].children.append(data)

    def error(self, message):  # pragma: no cover - py<3.10 compat hook
        pass


def parse_html_stdlib(text: str) -> Node:
    """stdlib-``HTMLParser``-driven parse — the reference tokenizer the
    fast path is differential-tested against (and the fallback when the
    fast path hits anything unexpected)."""
    b = _DomBuilder()
    try:
        b.feed(text)
        b.close()
    except Exception:
        # extremely malformed input: salvage whatever tree was built
        pass
    return b.root


# ------------------------------------------------------------ fast path
#
# The stdlib event loop (goahead → parse_starttag → handle_*) costs ~50%
# of the extraction UDF: per-event method dispatch, incremental rawdata
# buffering, and line/column bookkeeping (updatepos) that a batch parser
# doesn't need.  This tokenizer reuses the stdlib's OWN compiled regexes
# (tagfind_tolerant / attrfind_tolerant / locatestarttagend_tolerant /
# endtagfind / commentclose / piclose), so token boundaries match the
# stdlib exactly where they matter, and builds Nodes inline.  Fidelity is
# pinned by a differential test over every adversarial fixture, generator
# page, and a malformed-snippet fuzz corpus
# (tests/test_html.py::TestFastParserDifferential); any internal surprise
# falls back to the stdlib builder wholesale.

import re as _re

from html import unescape as _unescape
from html.parser import (attrfind_tolerant as _ATTR,
                         commentclose as _COMMENT_END,
                         endtagfind as _ENDTAG,
                         locatestarttagend_tolerant as _STARTEND,
                         piclose as _PICLOSE,
                         tagfind_tolerant as _TAGNAME)

_CDATA_CLOSE = {t: _re.compile(r"</\s*%s" % t, _re.IGNORECASE)
                for t in ("script", "style")}

# attribute-less start tag (~40% of start tags on web text): one match
# replaces the STARTEND + TAGNAME + attr-loop machinery.  The name class
# is NARROWER than tagfind_tolerant's ([a-zA-Z][^\t\n\r\f />\x00]*), so
# anything this doesn't match falls through to the exact stdlib path.
_SIMPLE_START = _re.compile(r"<([a-zA-Z][a-zA-Z0-9]*)\s*(/?)>")
# quoted-attribute start tag (the other ~60%): every attribute is
# whitespace-separated, name=quoted-value, with no '&' in the value (no
# unescape needed).  Within this shape the stdlib path produces exactly
# name.lower() → raw value, duplicates resolved last-wins by the Node
# dict — identical to the pair scan below.  Anything wider (valueless
# attrs, unquoted values, entities, junk between attrs) falls through.
_ATTRS_START = _re.compile(
    r"<([a-zA-Z][a-zA-Z0-9]*)"
    r"((?:\s+[a-zA-Z][-a-zA-Z0-9_:.]*=(?:\"[^\"&]*\"|'[^'&]*'))+)\s*(/?)>")
_ATTR_PAIR = _re.compile(r"([a-zA-Z][-a-zA-Z0-9_:.]*)=(\"[^\"]*\"|'[^']*')")


def _fast_parse(text: str) -> Node:
    root = Node("#document")
    stack = [root]
    i, n = 0, len(text)
    cdata: _re.Pattern | None = None
    find = text.find
    startswith = text.startswith

    def _recover(i: int) -> int:
        """stdlib goahead's close() recovery for an unterminated
        construct: emit (unescaped) data up to and including the next
        '>', else up to the next '<', else one char — then resume."""
        k = find(">", i + 1)
        if k < 0:
            k = find("<", i + 1)
            if k < 0:
                k = i + 1
        else:
            k += 1
        chunk = text[i:k]
        if "&" in chunk:
            chunk = _unescape(chunk)
        if chunk:
            stack[-1].children.append(chunk)
        return k
    while i < n:
        from_cdata = cdata
        if cdata is not None:
            m = cdata.search(text, i)
            cdata = None
            if m is None:
                break           # stdlib drops unterminated cdata at EOF
            if m.start() > i:
                stack[-1].children.append(text[i:m.start()])  # raw
            i = m.start()
            # fall through: text[i:] starts with '</tagname'
        lt = find("<", i)
        if lt < 0:
            lt = n
        if lt > i:
            data = text[i:lt]
            if "&" in data:
                data = _unescape(data)
            if data:                      # charref of a stripped control
                stack[-1].children.append(data)
            i = lt
        if i >= n:
            break
        c = text[i + 1:i + 2]
        if c and (("a" <= c <= "z") or ("A" <= c <= "Z")):
            # ----- fast paths: '<name>' and '<name a="v" ...>' shapes
            sm = _SIMPLE_START.match(text, i)
            if sm:
                tag = sm.group(1).lower()
                fattrs: tuple | list = ()
                fself = sm.group(2)
                end = sm.end()
            else:
                am = _ATTRS_START.match(text, i)
                if am:
                    tag = am.group(1).lower()
                    fattrs = [(a.lower(), v[1:-1])
                              for a, v in _ATTR_PAIR.findall(am.group(2))]
                    fself = am.group(3)
                    end = am.end()
                else:
                    tag = None
            if tag is not None:
                top = stack[-1]
                if fself:                  # self-closing
                    top.children.append(Node(tag, fattrs, top))
                    i = end
                    continue
                closers = _IMPLICIT_CLOSE.get(tag)
                if tag in _P_CLOSERS and top.tag == "p":
                    stack.pop()
                    top = stack[-1]
                elif closers and top.tag in closers:
                    stack.pop()
                    if tag == "tr" and stack[-1].tag == "tr":
                        stack.pop()
                    top = stack[-1]
                node = Node(tag, fattrs, top)
                top.children.append(node)
                if tag not in VOID_TAGS and len(stack) < MAX_DEPTH:
                    stack.append(node)
                if tag in _CDATA_CLOSE:
                    cdata = _CDATA_CLOSE[tag]
                i = end
                continue
            # ----- start tag (mirrors parse_starttag, tolerant mode)
            m = _STARTEND.match(text, i)
            k = m.end()
            if startswith(">", k):
                end = k + 1
            elif startswith("/>", k):
                end = k + 2
            else:
                i = _recover(i)     # unterminated tag at EOF
                continue
            # tagfind_tolerant consumes the name plus trailing
            # whitespace/non-final slashes, exactly like parse_starttag
            tm = _TAGNAME.match(text, i + 1)
            tag = tm.group(1).lower()
            attrs = []
            j = tm.end()
            while j < k:
                am = _ATTR.match(text, j)
                if not am:
                    break
                name, rest, value = am.group(1, 2, 3)
                if not rest:
                    value = None
                elif value[:1] == "'" == value[-1:] or \
                        value[:1] == '"' == value[-1:]:
                    value = value[1:-1]
                if value and "&" in value:
                    value = _unescape(value)
                attrs.append((name.lower(), value))
                j = am.end()
            # stdlib: the stretch between the last attribute and the
            # located end must be exactly '>' or '/>', else the whole
            # tag text is emitted as data (parse_starttag's junk check)
            rem = text[j:end].strip()
            if rem == ">":
                selfclosing = False
            elif rem == "/>":
                selfclosing = True
            else:
                stack[-1].children.append(text[i:end])  # raw, no unescape
                i = end
                continue
            # ----- tree insertion (same rules as _DomBuilder)
            top = stack[-1]
            if selfclosing:
                top.children.append(Node(tag, attrs, top))
                i = end
                continue
            closers = _IMPLICIT_CLOSE.get(tag)
            if tag in _P_CLOSERS and top.tag == "p":
                stack.pop()
                top = stack[-1]
            elif closers and top.tag in closers:
                stack.pop()
                if tag == "tr" and stack[-1].tag == "tr":
                    stack.pop()
                top = stack[-1]
            node = Node(tag, attrs, top)
            top.children.append(node)
            if tag not in VOID_TAGS and len(stack) < MAX_DEPTH:
                stack.append(node)
            if tag in _CDATA_CLOSE:
                cdata = _CDATA_CLOSE[tag]
            i = end
        elif c == "/":
            gt = find(">", i + 1)
            if gt < 0:
                i = _recover(i)     # unterminated '</…' at EOF
                continue
            m = _ENDTAG.match(text, i)
            if m:
                tag = m.group(1).lower()
                i = m.end()
            else:
                if from_cdata is not None:
                    # stdlib: a non-conforming end tag inside script/style
                    # is DATA and cdata mode continues
                    stack[-1].children.append(text[i:gt + 1])
                    cdata = from_cdata
                    i = gt + 1
                    continue
                nm = _TAGNAME.match(text, i + 2)
                if nm:
                    # '</p junk>' still closes p (parse_endtag's
                    # consume-and-ignore path)
                    tag = nm.group(1).lower()
                    i = gt + 1
                elif startswith("</>", i):
                    i += 3          # html5 end-tag-open: ignored
                    continue
                else:
                    # bogus comment: '</' + junk swallowed up to '>'
                    i = gt + 1
                    continue
            if tag not in VOID_TAGS:
                for d in range(len(stack) - 1, 0, -1):
                    if stack[d].tag == tag:
                        del stack[d:]
                        break
        elif c == "!":
            if startswith("<!--", i):
                m = _COMMENT_END.search(text, i + 4)
                i = m.end() if m else _recover(i)
            elif startswith("<![", i):
                # marked section: stdlib scans for ']>' / ']]>'
                gt = find("]>", i + 3)
                i = (gt + 2) if gt >= 0 else _recover(i)
            else:
                gt = find(">", i + 2)
                i = (gt + 1) if gt >= 0 else _recover(i)
        elif c == "?":
            m = _PICLOSE.search(text, i + 2)
            i = m.end() if m else _recover(i)
        else:
            stack[-1].children.append("<")
            i += 1
    return root


def parse_html(text: str) -> Node:
    """Parse (possibly malformed) HTML into a DOM; never raises on bad
    markup — worst case the content lands as text under a wrong parent,
    mirroring lenient browser behavior.  Fast batch tokenizer
    (differential-tested against the stdlib builder), stdlib on any
    fast-path surprise."""
    try:
        return _fast_parse(text)
    except Exception:
        return parse_html_stdlib(text)


def inner_html(node: Node) -> str:
    """Serialize children of node back to HTML (used by summary())."""
    out = []
    _serialize_children(node, out)
    return "".join(out)


def _serialize_children(node: Node, out: list):
    from html import escape
    for c in node.children:
        if isinstance(c, str):
            out.append(escape(c, quote=False))
        else:
            attrs = "".join(f' {k}="{escape(str(v or ""))}"' for k, v in c.attrs.items())
            if c.tag in VOID_TAGS:
                out.append(f"<{c.tag}{attrs}/>")
            else:
                out.append(f"<{c.tag}{attrs}>")
                _serialize_children(c, out)
                out.append(f"</{c.tag}>")
