"""Tolerant HTML → Node-tree parser.

Plays the role html5ever/kuchikiki parsing plays in the reference
(``src/dom/mod.rs:44-48``). Implements the HTML5 tree-construction rules that
matter for real-world extraction: void elements, implied end tags
(p/li/td/tr/dt/dd/option...), raw-text elements, stray end-tag recovery, and
table-ish nesting tolerance. The tree builder takes html.parser's handler
callbacks; :func:`parse_html` drives it with the one-shot tokenizer in
:mod:`trek_spark.dom.tokenizer`, which decodes entities exactly once, as
html.parser does with ``convert_charrefs=True``.
"""

from __future__ import annotations

from html.parser import HTMLParser

from .node import ELEMENT, TEXT, VOID_ELEMENTS, Node, bump_tick
from .tokenizer import scan

# Tags whose open implies closing an open <p> (HTML5 "closes a p element").
_P_CLOSERS = frozenset(
    """address article aside blockquote details dialog dd div dl dt fieldset
    figcaption figure footer form h1 h2 h3 h4 h5 h6 header hgroup hr main
    menu nav ol p pre section table ul""".split()
)

# tag -> set of open tags it implicitly closes when encountered
_IMPLIED_END = {
    "li": frozenset(("li",)),
    "dt": frozenset(("dt", "dd")),
    "dd": frozenset(("dt", "dd")),
    "tr": frozenset(("tr", "td", "th")),
    "td": frozenset(("td", "th")),
    "th": frozenset(("td", "th")),
    "thead": frozenset(("thead", "tbody", "tfoot", "tr", "td", "th")),
    "tbody": frozenset(("thead", "tbody", "tfoot", "tr", "td", "th")),
    "tfoot": frozenset(("thead", "tbody", "tfoot", "tr", "td", "th")),
    "option": frozenset(("option",)),
    "optgroup": frozenset(("option", "optgroup")),
    "colgroup": frozenset(("colgroup",)),
    "caption": frozenset(("caption",)),
}

# Implied-end search stops at these boundaries (don't close an <li> across a
# nested <ul>, or a <td> across a nested <table>).
_SCOPE_BOUNDARY = {
    "li": frozenset(("ul", "ol")),
    "dt": frozenset(("dl",)),
    "dd": frozenset(("dl",)),
    "tr": frozenset(("table", "thead", "tbody", "tfoot")),
    "td": frozenset(("table", "tr")),
    "th": frozenset(("table", "tr")),
    "thead": frozenset(("table",)),
    "tbody": frozenset(("table",)),
    "tfoot": frozenset(("table",)),
    "option": frozenset(("select", "datalist")),
    "optgroup": frozenset(("select",)),
    "colgroup": frozenset(("table",)),
    "caption": frozenset(("table",)),
}

_FORMATTING = frozenset(
    "a b i em strong small s cite q u mark span sub sup code".split()
)


# HTML5 "adjust SVG attributes" table: foreign-content attributes whose
# canonical form is camelCase (HTMLParser lowercases all attr names)
_SVG_ATTR_ADJUST = {a.lower(): a for a in (
    "attributeName attributeType baseFrequency baseProfile calcMode "
    "clipPathUnits diffuseConstant edgeMode filterUnits glyphRef "
    "gradientTransform gradientUnits kernelMatrix kernelUnitLength "
    "keyPoints keySplines keyTimes lengthAdjust limitingConeAngle "
    "markerHeight markerUnits markerWidth maskContentUnits maskUnits "
    "numOctaves pathLength patternContentUnits patternTransform "
    "patternUnits pointsAtX pointsAtY pointsAtZ preserveAlpha "
    "preserveAspectRatio primitiveUnits refX refY repeatCount repeatDur "
    "requiredExtensions requiredFeatures specularConstant "
    "specularExponent spreadMethod startOffset stdDeviation stitchTiles "
    "surfaceScale systemLanguage tableValues targetX targetY textLength "
    "viewBox viewTarget xChannelSelector yChannelSelector zoomAndPan"
).split()}


# tags whose open can trigger implied closes — everything else skips the
# _close_implied call entirely (the common case: span/a/b/em/…)
_CLOSE_TRIGGERS = _P_CLOSERS | frozenset(_IMPLIED_END)


class _TreeBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Node.document()
        self.stack: list[Node] = [self.root]
        self._svg_depth = 0

    def _pop_to(self, i: int) -> None:
        """del stack[i:] with svg-depth bookkeeping."""
        stack = self.stack
        for n in stack[i:]:
            if n.tag == "svg":
                self._svg_depth -= 1
        del stack[i:]

    # -- helpers ---------------------------------------------------------
    def _top(self) -> Node:
        return self.stack[-1]

    def _set_attrs(self, el: Node, attrs) -> None:
        """First-declared attribute wins, per spec; inside <svg> names get
        their SVG case. ``_svg_depth`` counts the open <svg> elements on
        the stack, so the check is O(1), not a scan of the stack."""
        adjust = el.tag == "svg" or self._svg_depth > 0
        adict = el.attrs
        for k, v in attrs:
            if adjust:
                k = _SVG_ATTR_ADJUST.get(k, k)
            if k not in adict:
                adict[k] = v if v is not None else ""

    def _close_implied(self, tag: str) -> None:
        if tag in _P_CLOSERS:
            # close an open <p> within the nearest block scope
            for i in range(len(self.stack) - 1, 0, -1):
                t = self.stack[i].tag
                if t == "p":
                    self._pop_to(i)
                    break
                if t in ("div", "section", "article", "td", "th", "li",
                         "body", "blockquote", "template"):
                    break
        closers = _IMPLIED_END.get(tag)
        if closers:
            boundary = _SCOPE_BOUNDARY.get(tag, frozenset())
            cut = -1
            for i in range(len(self.stack) - 1, 0, -1):
                t = self.stack[i].tag
                if t in closers:
                    cut = i  # keep scanning: close the deepest run (td AND tr)
                elif t in boundary:
                    break
            if cut >= 0:
                self._pop_to(cut)

    # -- HTMLParser hooks ------------------------------------------------
    def handle_starttag(self, tag, attrs):
        if tag in _CLOSE_TRIGGERS:
            self._close_implied(tag)
        stack = self.stack
        # HTML5 implied <tr>: a cell opening directly inside a row-group
        # (or table) gets a synthesized row.
        if tag in ("td", "th") and stack[-1].tag in (
                "thead", "tbody", "tfoot", "table"):
            tr = Node(ELEMENT, "tr")
            stack[-1].append(tr)
            stack.append(tr)
        el = Node(ELEMENT, tag)
        if attrs:
            self._set_attrs(el, attrs)
        # a new element has no parent to detach from; parse_html bumps the
        # mutation tick once for the whole tree
        top = stack[-1]
        el.parent = top
        top.children.append(el)
        if tag not in VOID_ELEMENTS:
            stack.append(el)
            if tag == "svg":
                self._svg_depth += 1

    def handle_startendtag(self, tag, attrs):
        # <tag/> — treat as start; non-void elements become empty elements
        el = Node(ELEMENT, tag)
        if attrs:
            # before the implied closes: SVG naming follows the stack as
            # the tag found it
            self._set_attrs(el, attrs)
        self._close_implied(tag)
        self._top().append(el)

    def handle_endtag(self, tag):
        if tag in VOID_ELEMENTS:
            return
        stack = self.stack
        if len(stack) > 1 and stack[-1].tag == tag:
            # the common well-nested close
            stack.pop()
            if tag == "svg":
                self._svg_depth -= 1
            return
        # find the matching open tag
        for i in range(len(stack) - 1, 0, -1):
            if stack[i].tag == tag:
                self._pop_to(i)
                return
        # stray end tag: ignore (html5 parse-error recovery)

    def handle_data(self, data):
        if not data:
            return
        top = self.stack[-1]
        kids = top.children
        if kids and kids[-1].type == 3:  # merge adjacent text
            kids[-1].text += data
        else:
            t = Node(TEXT, text=data)
            t.parent = top
            kids.append(t)

    def handle_comment(self, data):
        self._top().append(Node.comment(data))

    def handle_decl(self, decl):
        pass

    def unknown_decl(self, data):
        pass

    def handle_pi(self, data):
        pass


def parse_html(html: str) -> Node:
    """Parse an HTML document/fragment into a DOCUMENT Node.

    Ensures html/body structure exists so passes can rely on ``body()``.

    Tokenization runs through :mod:`trek_spark.dom.tokenizer` — a one-shot
    fast path with byte-parity to html.parser driving the same builder
    (enforced by tests/test_tokenizer_parity.py).
    """
    tb = _TreeBuilder()
    try:
        scan(html, tb)
    except Exception:
        # the tokenizer is already tolerant; belt-and-braces so one hostile
        # doc never kills a whole Arrow batch.
        pass
    bump_tick()
    return tb.root


def body_of(doc: Node) -> Node:
    """Return the <body> element, synthesizing the html/body wrapper for
    fragment inputs so downstream passes have a stable root."""
    html_el = None
    for c in doc.children:
        if c.type == ELEMENT and c.tag == "html":
            html_el = c
            break
    if html_el is not None:
        for c in html_el.children:
            if c.type == ELEMENT and c.tag == "body":
                return c
        body = Node.element("body")
        html_el.append(body)
        return body
    for c in doc.children:
        if c.type == ELEMENT and c.tag == "body":
            return c
    # fragment: wrap everything in a synthetic body
    body = Node.element("body")
    for c in list(doc.children):
        body.append(c)
    doc.children = []
    doc.append(body)
    return body
