"""Clutter-removal and standardization passes over the DOM.

Implements the observable semantics of the reference's string/streaming and
kuchikiki passes as mutations of one parsed tree:

* ``remove_clutter`` — exact-tag removal, svg chrome, navigation/sidebar
  classes, partial-selector matching over TEST_ATTRIBUTES with Tailwind
  arbitrary-variant skips (`src/lib.rs:606-769`). The reference masks
  ``<pre>`` regions before its streaming pass; here pre/code subtrees are
  simply exempted from matching, which has the same effect.
* legacy standardize — embed-iframe rewrite, comment removal, empty p/div
  removal, wrapper-div flattening (`src/standardize_legacy.rs`).
* removals pre — selector long-tail + hidden-element removal
  (`src/removals/selectors.rs`, `src/removals/hidden.rs`).
* standardize DOM passes — flatten_wrappers, promote_semantics,
  relative_urls, figure_image, footnotes, tables, headings
  (`src/standardize/*.rs`).
"""

from __future__ import annotations

import re
from typing import Optional
from urllib.parse import urljoin

from ..constants import PARTIAL_SELECTORS, TEST_ATTRIBUTES
from ..dom.node import COMMENT, ELEMENT, TEXT, Node, descendants_under

_HEADING_TAGS = frozenset(("h1", "h2", "h3", "h4", "h5", "h6"))
_CLUTTER_TAGS = frozenset(("script", "style", "nav", "footer", "header",
                           "aside", "noscript", "title", "meta", "link",
                           "template"))
_PARTIAL_CHECK_TAGS = frozenset((
    "div", "section", "article", "main", "span", "p", "ul", "ol", "li",
    "h1", "h2", "h3", "h4", "h5", "h6",
))

_HIDDEN_STYLE_RE = re.compile(
    r"(?:^|;\s*)(?:display\s*:\s*none|visibility\s*:\s*hidden"
    r"|opacity\s*:\s*(?:0|0?\.0+\d*))(?:\s*;|\s*$)",
    re.I,
)

_YT_IFRAME_SRC_RE = re.compile(
    r"^(?:https?:)?//(?:www\.)?youtube(?:-nocookie)?\.com/embed/([A-Za-z0-9_\-]+)", re.I)
_TW_IFRAME_SRC_RE = re.compile(
    r"^(?:https?:)?//(?:www\.)?(?:twitter|x)\.com/([A-Za-z0-9_]+)/status/(\d+)", re.I)
_TW_EMBED_SRC_RE = re.compile(
    r"^(?:https?:)?//platform\.twitter\.com/embed/Tweet\.html\?[^\"]*?id=(\d+)",
    re.I)

# Precompile the partial-selector list into one alternation regex for speed
# (matching ~529 substrings against every attribute value).
_PARTIAL_RE = re.compile("|".join(re.escape(p) for p in PARTIAL_SELECTORS))

# The partial-selector alternation is ~300 branches and runs once per class
# token per candidate node; tokens ("container", "row", "post-content", …)
# repeat across every document a worker processes, so a pure-function cache
# has a near-total hit rate in steady state. Bounded to stop adversarial
# unique-token streams from growing it without limit.
_partial_hit_cache: dict = {}


def _partial_hit(tl: str) -> bool:
    r = _partial_hit_cache.get(tl)
    if r is None:
        if len(_partial_hit_cache) > 200_000:
            _partial_hit_cache.clear()
        r = _PARTIAL_RE.search(tl) is not None
        _partial_hit_cache[tl] = r
    return r
# Writerside-style structural markers ("h2-related" = belongs to the h2
# section) — not "related posts" chrome (issues--217 fixture).
_HEADING_LEVEL_TOKEN_RE = re.compile(r"h\d-related$")
# Elementor widget classes that ARE chrome (all other elementor-* tokens
# are structural wrappers around real content)
_ELEMENTOR_CHROME_RE = re.compile(
    r"location-header|location-footer|nav-menu|site-logo|jet-ajax-search|"
    r"jet-engine-maps|jet-listing-grid|jet-search")


def _inside_footnotes_container(node: Node) -> bool:
    cur = node.parent
    while cur is not None:
        if cur.type == ELEMENT:
            if cur.get("data-footnotes") is not None:
                return True
            if any("footnote" in c for c in cur.classes()):
                return True
        cur = cur.parent
    return False


_PRE_CODE = frozenset(("pre", "code"))


def value_matches_partial(value: str, attr: str) -> bool:
    """Ref `src/lib.rs:607-634`: class tokenized on whitespace, Tailwind
    arbitrary-variant tokens skipped; other attrs whole-value substring."""
    if attr == "class":
        for tok in value.split():
            if "[" in tok or "]" in tok:
                continue
            tl = tok.lower()
            if tl.startswith("mw-heading"):
                continue  # MediaWiki section-heading wrappers are content
            if _HEADING_LEVEL_TOKEN_RE.match(tl):
                continue  # Writerside "h2-related" structural classes
            if tl in ("footnote-footer", "footnotes-footer"):
                continue  # wikidot footnote definitions are content
            if tl.startswith("elementor-"):
                # page builders wrap ALL content in *-widget-* classes —
                # only explicit chrome widgets remove
                if _ELEMENTOR_CHROME_RE.search(tl):
                    return True
                continue
            if _partial_hit(tl):
                return True
        return False
    return _partial_hit(value.lower())


def _class_token_matches_partial(value: str, attr: str) -> bool:
    """Ref `src/removals/selectors.rs:57-88`: like value_matches_partial but
    honours responsive-show classes (`sm:flex` keeps bare `hidden`)."""
    if attr == "class":
        tokens = value.split()
        has_responsive_show = any(
            ":" in t and (t.endswith(":flex") or t.endswith(":block")
                          or t.endswith(":inline"))
            for t in tokens)
        for t in tokens:
            if "[" in t or "]" in t:
                continue
            tl2 = t.lower()
            if tl2.startswith("mw-heading") or _HEADING_LEVEL_TOKEN_RE.match(tl2):
                continue
            if tl2 in ("footnote-footer", "footnotes-footer"):
                continue  # wikidot footnote definitions are content
            if tl2.startswith("elementor-"):
                if _ELEMENTOR_CHROME_RE.search(tl2):
                    return True
                continue
            if has_responsive_show and t in ("hidden", "invisible"):
                continue
            if _partial_hit(tl2):
                return True
        return False
    return _partial_hit(value.lower())


def _captioned_header_block(node: Node) -> bool:
    """An article-title header region: holds a heading plus a captioned
    figure (issues--227 `div.Article-header`). Card-grid chrome carries
    bare imgs, never figcaptions — those still remove."""
    if node.tag not in ("div", "section", "header"):
        return False
    has_heading = any(d.tag in ("h1", "h2") for d in node.iter_elements())
    if not has_heading:
        return False
    return any(d.tag == "figcaption" for d in node.iter_elements())


def _contains_footnote_defs(node: Node) -> bool:
    for d in node.iter_elements():
        if d.get("role") in ("doc-footnote", "doc-endnotes"):
            return True
        cls = d.classes()
        if any(c in ("footdef", "footnotes", "footnote-definition",
                     "footnotes-list") for c in cls):
            return True
    return False


def _mark_orphaned_heading(removed: Node) -> None:
    """Tag the heading that introduced `removed` (its nearest preceding
    heading sibling, or the one inside a preceding wrapper) so the
    dangling-heading cleanup knows its section was emptied by REMOVAL
    rather than authored empty."""
    parent = removed.parent
    if parent is None:
        return
    siblings = parent.children
    for i in range(removed.index_in_parent() - 1, -1, -1):
        cur = siblings[i]
        if cur.type == ELEMENT:
            if cur.tag in _HEADING_TAGS:
                cur.set("data-trek-orphaned", "1")
                return
            inner = _first_heading(cur)
            if inner is not None:
                head_text = " ".join(inner.text_content().split())
                if not _spaced_text_longer(cur, len(head_text) + 10):
                    inner.set("data-trek-orphaned", "1")
            return
        if cur.type == TEXT and cur.text.strip():
            return


def _first_heading(node: Node) -> Optional[Node]:
    """First heading element of ``node``'s subtree in document order,
    walking only as far as it."""
    stack = [node]
    while stack:
        n = stack.pop()
        if n.tag in _HEADING_TAGS:
            return n
        for c in reversed(n.children):
            if c.type == ELEMENT:
                stack.append(c)
    return None


def _spaced_text_longer(node: Node, limit: int) -> bool:
    """``len(" ".join(node.text_content().split())) > limit``, reading
    text nodes only until the answer is known.

    The length is the non-space characters plus one per gap between
    words; a word may run across text nodes. It never shrinks as text is
    appended, so the walk stops as soon as it passes ``limit``."""
    chars = words = 0
    glued = False  # the text so far ends inside a word
    stack = [node]
    while stack:
        n = stack.pop()
        if n.type != TEXT:
            stack.extend(reversed(n.children))
            continue
        t = n.text
        if not t:
            continue
        toks = t.split()
        if toks:
            chars += sum(map(len, toks))
            words += len(toks) - (glued and not t[0].isspace())
            if chars + words - 1 > limit:
                return True
        glued = not t[-1].isspace()
    return False


def remove_clutter(body: Node, remove_exact: bool = True,
                   remove_partial: bool = True) -> int:
    to_remove = []
    total_text = len(body.text_content())
    in_code = descendants_under(body, _PRE_CODE)
    for n in body.descendants_snapshot():
        if n.parent is None:
            continue
        if n in in_code:
            continue
        t = n.tag
        if t in _CLUTTER_TAGS:
            if remove_exact:
                # a <header>/<footer> that wraps the bulk of the document
                # text IS the article (Webflow-style markup) — keep it
                if t in ("header", "footer", "aside") and total_text > 0:
                    frac = len(n.text_content()) / total_text
                    if frac > 0.5:
                        continue
                    if t == "footer" and _contains_footnote_defs(n):
                        continue  # footers holding footnote definitions
                if t == "aside" and any(
                        "callout" in c or "admonition" in c
                        for c in n.classes()):
                    continue  # callout asides convert to blockquotes later
                if t == "aside":
                    kids = n.element_children()
                    if len(kids) == 1 and kids[0].tag == "ol" \
                            and kids[0].get("start") is not None:
                        # numbered sidenote aside (footnotes--aside-ol-start)
                        continue
                    if any("fna-content" in c for c in n.classes()):
                        # data-definition footnote body (footnotes--hidden-
                        # aside-data-definition)
                        continue
                to_remove.append(n)
            continue
        if t == "svg":
            if remove_exact:
                role = n.get("role") or ""
                is_content = (role.lower() == "img"
                              or n.get("aria-label") is not None
                              or n.get("title") is not None
                              or n.find_first("title", "text") is not None)
                if not is_content:
                    to_remove.append(n)
            continue
        if t == "table" and remove_exact and (
                n.get("id") == "toc" or "toc" in n.classes()
                or "infobox" in n.classes()):
            to_remove.append(n)
            continue
        if t in _PARTIAL_CHECK_TAGS or t == "img":
            should_remove = False
            # elements-only snapshot: attrs is always a dict here
            aget = n.attrs.get
            if remove_exact:
                cls = aget("class")
                if cls:
                    lc = cls.lower()
                    if "splash" in lc or "readingprogress" in lc \
                            or "progressbar" in lc:
                        should_remove = True
                    for c in cls.split():
                        if c in ("navigation", "sidebar", "toc"):
                            should_remove = True
                            break
                if aget("id") == "toc":
                    should_remove = True
            if t == "span" and "mw-headline" in n.classes():
                continue  # heading label span is content; [edit] spans go
            if not should_remove and remove_partial and n.attrs:
                is_heading = t in _HEADING_TAGS
                for attr in TEST_ATTRIBUTES:
                    if is_heading and attr != "class":
                        continue
                    v = aget(attr)
                    if v is not None and value_matches_partial(v, attr):
                        if _captioned_header_block(n):
                            break
                        if n.find_first("pre") is not None:
                            break  # code-tab chrome wrapping real code
                        if attr == "class" and any(
                                "signature" in (d.get("class") or "")
                                for d in n.iter_elements()):
                            break  # email-signature footer is content
                        should_remove = True
                        break
            if should_remove and t in _HEADING_TAGS \
                    and "sr-only" in n.classes() \
                    and _inside_footnotes_container(n):
                should_remove = False
            if should_remove and total_text > 500 \
                    and len(n.text_content()) / total_text > 0.5:
                # never remove the element holding the bulk of the article
                # (sidebar-/ad-classed wrappers around real content)
                should_remove = False
            if should_remove:
                to_remove.append(n)
    removed = 0
    for n in to_remove:
        if n.parent is not None:
            _mark_orphaned_heading(n)
            n.detach()
            removed += 1
    return removed


# ------------------------------------------------------------- removals pre

def selectors_pass(body: Node) -> int:
    """Long-tail partial-selector removal (`src/removals/selectors.rs:88-142`)."""
    to_remove = []
    # hoisted: the scan phase never mutates, and recomputing the full body
    # text per matched candidate was quadratic on widget-heavy documents
    total = len(body.text_content())
    in_code = descendants_under(body, _PRE_CODE)
    for n in body.descendants_snapshot():
        if n.parent is None:
            continue
        if n in in_code:
            continue
        if n.tag == "span" and "mw-headline" in n.classes():
            continue
        is_h = n.tag in _HEADING_TAGS
        matched = False
        # custom elements (dash in the tag name) match partials by TAG —
        # e.g. <ads-breadcrumbs> ("breadcrumb"); standard tags never do
        if "-" in n.tag and _PARTIAL_RE.search(n.tag):
            matched = True
        # direct attrs access: descendants_snapshot() yields elements
        # only, whose attrs is always a dict (7 n.get() calls per node
        # were ~5% of the pass)
        a = n.attrs
        if a and not matched:
            # interactive ARIA widgets are UI chrome (stripe docs
            # toolbar / code-language listbox)
            if (a.get("role") or "").lower() in ("toolbar", "listbox"):
                matched = True
            else:
                aget = a.get
                for attr in TEST_ATTRIBUTES:
                    if is_h and attr != "class":
                        continue
                    v = aget(attr)
                    if v is not None and \
                            _class_token_matches_partial(v, attr):
                        matched = True
                        break
        if matched and n.tag in _HEADING_TAGS \
                and "sr-only" in n.classes() \
                and _inside_footnotes_container(n):
            # screen-reader "Footnotes" headings inside footnote sections
            # are real structure in the golden corpus
            matched = False
        if matched and n.tag not in ("html", "body"):
            if _captioned_header_block(n):
                continue
            if n.find_first("pre") is not None:
                continue  # code-tab chrome wrapping real code blocks
            if total > 500 and len(n.text_content()) / total > 0.5:
                continue
            to_remove.append(n)
    removed = 0
    for n in to_remove:
        if n.parent is None:
            continue
        if n.tag == "a" and n.has_ancestor_tag(*_HEADING_TAGS):
            continue
        _mark_orphaned_heading(n)
        n.detach()
        removed += 1
    return removed


def _contains_math(node: Node) -> bool:
    for d in node.iter_elements():
        if d.tag == "math":
            return True
        cls = d.get("class")
        if cls:
            lc = cls.lower()
            if "katex-mathml" in lc or "mathml" in lc:
                return True
        if d.get("data-mathml") is not None:
            return True
    return False


def _class_marks_hidden(cls: str) -> bool:
    for tok in cls.split():
        if "[" in tok or "]" in tok:
            continue
        if tok in ("hidden", "invisible"):
            return True
        if tok.endswith(":hidden") or tok.endswith(":invisible"):
            return True
    return False


def _has_responsive_show(cls: str) -> bool:
    return any(
        ":" in t and (t.endswith(":flex") or t.endswith(":block")
                      or t.endswith(":inline") or t.endswith(":grid"))
        for t in cls.split())


def hidden_pass(body: Node) -> int:
    """Remove inline-style/class hidden elements (`src/removals/hidden.rs`).
    `<template>` content is an inert document fragment per HTML5 — never
    rendered, so it goes here unconditionally."""
    to_remove = []
    for n in body.descendants_snapshot():
        if n.tag == "template" and n.parent is not None:
            to_remove.append(n)
    for n in body.descendants_snapshot():
        if n.parent is None or n.tag in ("html", "body", "head"):
            continue
        # elements-only snapshot: attrs is always a dict here
        a = n.attrs
        if not a:
            continue
        aget = a.get
        style = aget("style")
        if style and _HIDDEN_STYLE_RE.search(style):
            # hidden-until-hover footnote bodies are content: the footnote
            # normalizer collects them into definitions
            if not (n.has_class("footnoteContent")
                    or n.has_class("fna-content")
                    or (n.parent is not None and n.parent.type == ELEMENT
                        and n.parent.has_class("inline-footnote"))):
                to_remove.append(n)
                continue
        if aget("hidden") is not None:
            # React streaming-SSR stashes real content in `<div hidden
            # id="S:n">` and unhides it with JS — keep those
            if not (aget("id") or "").startswith("S:"):
                to_remove.append(n)
                continue
        cls = aget("class")
        if cls:
            if _has_responsive_show(cls):
                continue
            if _class_marks_hidden(cls):
                to_remove.append(n)
    # math-bearing subtrees survive hidden removal (katex renders the
    # visible half from the "hidden" MathML). Checked here on the few
    # candidates, not on every node — the scan above is read-only, so the
    # result is identical and the subtree walk runs ~100x less often.
    to_remove = [n for n in to_remove
                 if n.tag == "template" or not _contains_math(n)]
    removed = 0
    for n in to_remove:
        if n.parent is not None:
            _mark_orphaned_heading(n)
            n.detach()
            removed += 1
    return removed


# ------------------------------------------------------------- legacy passes

def rewrite_embed_iframes(body: Node) -> None:
    """YouTube/Twitter embed iframes → plain links (`src/standardize_legacy.rs:38-67`)."""
    for n in body.descendants_snapshot():
        if n.tag != "iframe" or n.parent is None:
            continue
        src = (n.get("src") or "").strip()
        m = _YT_IFRAME_SRC_RE.match(src)
        if m:
            vid = m.group(1)
            img = Node.element(
                "img", {"src": f"https://www.youtube.com/watch?v={vid}",
                        "alt": ""})
            n.replace_with(img)
            continue
        m = _TW_IFRAME_SRC_RE.match(src)
        if m:
            user, tid = m.group(1), m.group(2)
            img = Node.element(
                "img", {"src": f"https://x.com/{user}/status/{tid}",
                        "alt": ""})
            n.replace_with(img)
            continue
        m = _TW_EMBED_SRC_RE.match(src)
        if m:
            img = Node.element(
                "img", {"src": f"https://x.com/i/status/{m.group(1)}",
                        "alt": ""})
            n.replace_with(img)


def remove_comments(body: Node) -> None:
    for n in list(body.iter()):
        if n.type == COMMENT and n.parent is not None:
            n.detach()


def remove_empty_elements(body: Node) -> None:
    """Empty <p>/<div> removal (`src/standardize_legacy.rs:147-157`)."""
    changed = True
    while changed:
        changed = False
        for n in body.descendants_snapshot():
            if n.parent is None or n.tag not in ("p", "div"):
                continue
            if not n.children or all(
                c.type == TEXT and not c.text.strip() for c in n.children
            ):
                n.detach()
                changed = True


_LEGACY_FLATTEN_KEEP_ATTRS = (
    "role", "aria-label", "aria-hidden", "hidden", "itemscope",
    "data-callout", "data-callout-fold", "data-callout-metadata",
    "data-floating-buttons", "data-fade-overlay",
    "data-rehype-pretty-code-figure", "data-component-name",
)
_LEGACY_CLASS_HINTS = ("article", "content", "footnote", "reference",
                       "bibliography", "callout", "footdef", "footpara",
                       "sidenote", "codeblock")


def _legacy_div_flattenable(n: Node) -> bool:
    attrs = n.attrs  # element: attrs is always a dict
    if not attrs:
        return True
    aget = attrs.get
    for a in _LEGACY_FLATTEN_KEEP_ATTRS:
        if aget(a) is not None:
            return False
    style = aget("style")
    if style and _HIDDEN_STYLE_RE.search(style):
        return False  # keep the wrapper so hidden_pass removes the subtree
    cls = aget("class")
    if cls and _class_marks_hidden(cls) and not _has_responsive_show(cls):
        return False  # ditto for class-hidden wrappers (sm:hidden)
    if cls and "disclaimer" in cls.lower():
        return False  # trailing-disclaimer removal needs the wrapper intact
    if cls:
        cl = cls.lower()
        if any(h in cl for h in _LEGACY_CLASS_HINTS):
            return False
        for t in cl.split():
            if (t.startswith("language-") or t.startswith("lang-")
                    or t in ("highlight", "highlighter-rouge",
                             "expressive-code", "code-block",
                             "highlight-source")
                    or t.startswith("highlight-source-")):
                return False
    return True


def flatten_wrapper_elements_legacy(body: Node) -> None:
    """Unwrap attribute-safe <div>s (`src/standardize_legacy.rs:166-251`).
    Pre subtrees exempt (the reference carves out pre regions)."""
    in_code = descendants_under(body, _PRE_CODE)
    for n in body.descendants_snapshot():
        if n.parent is None or n.tag != "div":
            continue
        if n in in_code:
            continue
        if not n.element_children():
            # text-only wrappers stay discrete so content-pattern removals
            # can still target them ("8 min read", "Pinned", bylines)
            continue
        if _legacy_div_flattenable(n):
            n.unwrap()


# ------------------------------------------------------- standardize passes

_SEMANTIC_CLASS_HINTS = (
    "article", "content", "footnote", "reference", "bibliography", "callout",
    "admonition", "note", "highlight", "language-", "math", "katex",
    "mathjax", "footnotes", "footdef", "footpara", "sidenote",
)
_BLOCK_TAGS = frozenset((
    "div", "section", "article", "aside", "header", "footer", "nav", "main",
    "p", "pre", "blockquote", "table", "ul", "ol", "dl", "figure", "form",
    "fieldset", "details", "summary", "h1", "h2", "h3", "h4", "h5", "h6", "hr",
))


def _has_semantic_attrs(n: Node) -> bool:
    attrs = n.attrs  # element: attrs is always a dict
    if not attrs:
        return False
    aget = attrs.get
    for a in ("role", "aria-label", "itemscope", "data-callout",
              "data-callout-fold", "data-callout-metadata", "data-mathml",
              "data-component-name"):
        if aget(a) is not None:
            return True
    cls = aget("class")
    if cls:
        cl = cls.lower()
        if any(h in cl for h in _SEMANTIC_CLASS_HINTS):
            return True
    return False


def _is_unwrappable_wrapper(n: Node) -> bool:
    if n.tag not in ("div", "section", "main"):
        return False
    if _has_semantic_attrs(n):
        return False
    if n.parent is None or n.parent.type != ELEMENT:
        return False
    if n.parent.tag == "html":
        return False
    children = n.element_children()
    if not children:
        return False
    if len(children) == 1:
        return True
    has_text = any(c.type == TEXT and c.text.strip() for c in n.children)
    if has_text:
        return False
    return all(c.tag in _BLOCK_TAGS for c in children)


def _post_order(root: Node) -> list[Node]:
    # shared tick-memoized element post-order (see dom.node)
    from ..dom.node import post_order_elements
    return post_order_elements(root)


def flatten_wrappers(body: Node) -> None:
    """Iterative decorative-wrapper unwrap (`src/standardize/flatten_wrappers.rs`)."""
    for _ in range(6):
        changed = False
        for n in _post_order(body):
            if n is body or n.parent is None:
                continue
            if _is_unwrappable_wrapper(n):
                n.unwrap()
                changed = True
        if not changed:
            break


_PROMOTE_TARGETS = frozenset(("p", "h1", "h2", "h3", "h4", "h5", "h6", "li",
                              "blockquote"))


def promote_semantics(body: Node) -> None:
    """`src/standardize/promote_semantics.rs` — data-as renames, block spans
    → p, bare-span drop, code-anchor unwrap, heading-anchor inversion."""
    for n in _post_order(body):
        if n.tag not in ("span", "div") or n.parent is None:
            continue
        target = n.get("data-as")
        if target and target.lower() in _PROMOTE_TARGETS:
            n.tag = target.lower()

    for n in _post_order(body):
        if n.tag != "span" or n.parent is None:
            continue
        promote = False
        cls = n.get("class")
        if cls and any(c in ("block", "is-block", "block-text")
                       for c in cls.lower().split()):
            promote = True
        style = n.get("style")
        if style:
            sl = style.lower()
            if "display:block" in sl or "display: block" in sl:
                promote = True
        if promote:
            n.tag = "p"

    in_code = descendants_under(body, _PRE_CODE)
    for n in _post_order(body):
        if n.tag != "span" or n.parent is None:
            continue
        if n in in_code:
            continue
        if not n.attrs:
            n.unwrap()

    for n in _post_order(body):
        if n.tag != "a" or n.parent is None:
            continue
        href = (n.get("href") or "").strip().lower()
        inside_code = False
        cur = n.parent
        while cur is not None:
            if cur.type == ELEMENT and cur.tag == "code":
                inside_code = True
                break
            cur = cur.parent
        if inside_code or href.startswith("javascript:"):
            n.unwrap()

    for n in _post_order(body):
        if n.tag != "a" or n.parent is None:
            continue
        kids = n.element_children()
        headings_in = [k for k in kids if k.tag in _HEADING_TAGS]
        in_embed = False
        cur = n.parent
        hops = 0
        while cur is not None and hops < 3:
            if cur.type == ELEMENT:
                hint = ((cur.get("class") or "")
                        + (cur.get("data-component-name") or "")).lower()
                if any(k in hint for k in ("embed", "digest", "related",
                                           "recirc", "promo")):
                    in_embed = True
                    break
            cur = cur.parent
            hops += 1
        if len(kids) > 1 and len(headings_in) == 1 and not in_embed:
            # card link wrapping heading + description: move the link onto
            # the heading text, splice the rest out of the anchor
            h = headings_in[0]
            new_a = Node.element("a", dict(n.attrs or {}))
            for c in list(h.children):
                new_a.append(c)
            h.clear_children()
            h.append(new_a)
            n.unwrap()
            continue
        if len(kids) == 1 and kids[0].tag in _HEADING_TAGS:
            h = kids[0]
            new_a = Node.element("a", dict(n.attrs or {}))
            for c in list(h.children):
                new_a.append(c)
            n.insert_before(h)
            h.clear_children()
            h.append(new_a)
            n.detach()


def relative_urls(body: Node, url: Optional[str]) -> None:
    if not url:
        return
    for n in body.descendants_snapshot():
        if n.tag in ("a", "link"):
            _rewrite_rel(n, "href", url)
        if n.tag in ("img", "video", "audio", "source", "iframe", "script"):
            _rewrite_rel(n, "src", url)


def _rewrite_rel(n: Node, attr: str, base: str) -> None:
    val = n.get(attr)
    if val is None:
        return
    t = val.strip()
    if (not t or t.startswith("#") or t.startswith("data:")
            or t.startswith("javascript:") or t.startswith("mailto:")
            or t.startswith("tel:")):
        return
    if re.match(r"^[a-zA-Z][a-zA-Z0-9+.\-]*:", t):
        return  # already absolute (any scheme)
    try:
        n.set(attr, urljoin(base, t))
    except ValueError:
        pass


def _looks_like_base64_placeholder(src: str) -> bool:
    if src.startswith("data:image/svg+xml"):
        return True
    return src.startswith("data:") and len(src) < 300


def figure_image(body: Node) -> None:
    """Lazy-src promotion + <picture> flattening (`src/standardize/figure_image.rs`)."""
    for n in body.descendants_snapshot():
        if n.tag != "img":
            continue
        cur = n.get("src") or ""
        if not cur or _looks_like_base64_placeholder(cur):
            for key in ("data-src", "data-lazy-src", "data-original",
                        "data-img-src", "data-image-loader"):
                v = n.get(key)
                if v:
                    n.set("src", v)
                    break
        if not (n.get("srcset") or ""):
            v = n.get("data-srcset")
            if v:
                n.set("srcset", v)

    # credit links inside figcaptions unwrap to plain text ("Source One")
    for cap in [x for x in body.descendants_snapshot()
                if x.tag == "figcaption"]:
        for a in [n for n in cap.iter_elements() if n.tag == "a"]:
            a.unwrap()

    # a figure whose sole image carries a descriptive alt but no
    # figcaption renders the alt as its caption (maggieappleton astro
    # image component)
    for fig in [x for x in body.descendants_snapshot() if x.tag == "figure"]:
        if fig.parent is None or fig.find_first("figcaption") is not None:
            continue
        imgs = [d for d in fig.iter_elements() if d.tag == "img"]
        if len(imgs) != 1:
            continue
        alt = (imgs[0].get("alt") or "").strip()
        if alt and len(alt.split()) >= 4:
            cap = Node.element("figcaption")
            cap.append(Node.text_node(alt))
            fig.append(cap)

    for pic in [x for x in body.descendants_snapshot() if x.tag == "picture"]:
        if pic.parent is None:
            continue
        img = pic.find_first("img")
        chosen = None
        for c in pic.element_children():
            if c.tag == "source":
                ss = c.get("srcset")
                if ss:
                    from .markdown import _pick_from_srcset
                    chosen = _pick_from_srcset(ss) or None
                    if chosen is None:
                        first = ss.split(",")[0].strip().split()
                        chosen = first[0] if first else None
                    break
        if img is not None:
            # the first <source> (usually the webp variant) wins over the
            # img's own src/srcset — golden corpus picks its largest entry
            if chosen:
                img.set("src", chosen)
                img.del_attr("srcset")
            pic.insert_before(img)
            pic.detach()
        else:
            pic.detach()


def footnotes_std(body: Node) -> None:
    """Wrap bare footnote-ref anchors in <sup> (`src/standardize/footnotes.rs`)."""
    for n in _post_order(body):
        if n.tag != "a" or n.parent is None:
            continue
        href = n.get("href") or ""
        cls = (n.get("class") or "").lower()
        is_ref = (href.startswith("#fn") or href.startswith("#footnote")
                  or "footnote-ref" in cls)
        if not is_ref:
            continue
        p = n.parent
        if p.type == ELEMENT and p.tag in ("sup", "li"):
            continue
        sup = Node.element("sup")
        n.insert_before(sup)
        n.detach()
        sup.append(n)


def _is_visually_empty(n: Node) -> bool:
    if n.text_content().strip():
        return False
    for d in n.iter_elements():
        if d.tag in ("img", "svg", "video", "audio", "iframe", "picture",
                     "math", "input"):
            return False
    return True


def tables_std(body: Node) -> None:
    """Drop empty tables, unwrap layout tables (`src/standardize/tables.rs`)."""
    # inner-first: unwrapping a nested layout table lets the outer shell
    # qualify on the re-count (blogger two-column nest)
    for t in [x for x in reversed(body.descendants_snapshot())
              if x.tag == "table"]:
        if t.parent is None:
            continue
        if _is_visually_empty(t):
            t.detach()
            continue
        def own(tag_names):
            # direct structural children: nearest table ancestor is t
            res = []
            for c in t.iter_elements():
                if c.tag not in tag_names or c is t:
                    continue
                cur = c.parent
                while cur is not None and cur.tag != "table":
                    cur = cur.parent
                if cur is t:
                    res.append(c)
            return res

        cells = own(("td", "th"))
        if not cells:
            continue
        rows = own(("tr",))
        filled = sum(1 for c in cells
                     if c.text_content().strip()
                     or any(d.tag in ("img", "picture", "svg")
                            for d in c.iter_elements()))
        words = len(t.text_content().split())
        layout = len(cells) == 1 or (
            len(rows) == 1 and not any(c.tag == "th" for c in cells)
            # page-scale two-column shells (content + sidebar) unwrap even
            # with both cells filled; small presentation tables stay
            and (filled <= 1 or words > 150))
        if layout:
            if len(cells) == 1:
                for c in list(cells[0].children):
                    t.insert_before(c)
            else:
                # keep each column's content grouped so column-level
                # removals (link-dense sidebar) still see one block
                for cell in cells:
                    div = Node.element("div")
                    for c in list(cell.children):
                        div.append(c)
                    t.insert_before(div)
            t.detach()

    for d in body.descendants_snapshot():
        if d.tag in ("tbody", "thead", "tfoot") and d.parent is not None:
            kids = d.element_children()
            if not kids:
                d.detach()
            elif len(kids) == 1 and kids[0].tag == "table":
                d.unwrap()


def _has_replaced_content(n: Node) -> bool:
    for d in n.iter_elements():
        if d.tag in ("img", "video", "audio", "iframe", "picture", "svg",
                     "math", "table"):
            return True
    return False


def headings_std(body: Node) -> None:
    """Permalink-anchor strip, H1 demotion, trailing-heading drop
    (`src/standardize/headings.rs`)."""
    for h in [x for x in body.descendants_snapshot() if x.tag in _HEADING_TAGS]:
        for k in h.element_children():
            if k.tag == "a" and not k.text_content().strip():
                k.detach()

    h1s = [x for x in body.descendants_snapshot() if x.tag == "h1"]
    for h in h1s[1:]:
        h.tag = "h2"

    kids = body.element_children()
    content_seen = False
    for k in reversed(kids):
        if k.tag not in _HEADING_TAGS:
            if k.text_content().strip() or _has_replaced_content(k):
                content_seen = True
            continue
        if content_seen:
            break
        txt = k.text_content()
        if len(txt.split()) <= 12 and k.parent is not None:
            k.detach()
        else:
            break


_ENTRY_POINT_IDS = ("post", "article-content")
_ENTRY_POINT_CLASSES = ("post-content", "article-content", "article_post",
                        "article-wrapper", "entry-content", "content-article",
                        "markdown-body")


def find_entry_point(body: Node):
    """Strong content-container selection (`src/constants.rs:10-26`
    ENTRY_POINT_ELEMENTS): a node explicitly id/class-marked as the article
    body wins over whole-<body> extraction (entry-point--js-article-content:
    `div.js-article-content`). Generic article/main fallbacks are left to
    the clutter passes. Returns None when no marked container with real
    text exists."""
    for n in body.iter_elements():
        a = n.attrs  # elements-only walk: attrs is always a dict
        if not a:
            continue
        nid = a.get("id") or ""
        cls = a.get("class") or ""
        hit = nid in _ENTRY_POINT_IDS
        if not hit and cls:
            for tok in cls.split():
                tl = tok.lower()
                if tl in _ENTRY_POINT_CLASSES \
                        or tl.endswith("-article-content"):
                    hit = True
                    break
        if not hit:
            continue
        words = len(n.text_content().split())
        if words >= 25:
            return n
        return None  # marked container is a JS shell — keep whole body
    return None


def extract_body_substring(html: str) -> str:
    """Substring between <body…> and </body> (`src/lib.rs:533-548`)."""
    m = re.search(r"<body[^>]*>", html, re.I)
    if m:
        start = m.end()
        end = html.rfind("</body>")
        if end < 0:
            end = len(html)
        return html[start:end].lstrip("\n")
    return html
