"""Post-normalization removal passes (small images, metadata blocks,
content patterns, scoring).

Order and semantics per reference ``src/removals/mod.rs:18-25``:
small_images → metadata_block → content_patterns → scoring.
"""

from __future__ import annotations

import re

from ..constants import NAVIGATION_INDICATORS
from ..dom import node as _nodemod
from ..dom.node import ELEMENT, TEXT, Node, descendants_under

_HEADING_TAGS = frozenset(("h1", "h2", "h3", "h4", "h5", "h6"))

MIN_DIMENSION = 33

_STYLE_W = re.compile(r"width\s*:\s*(\d+)", re.I)
_STYLE_H = re.compile(r"height\s*:\s*(\d+)", re.I)

_SOCIAL_COUNT_RE = re.compile(
    r"^\s*\d+\s+(?:like|likes|comment|comments|reply|replies|share|shares)\s*$", re.I)
_READ_TIME_RE = re.compile(r"^\s*\d+\s*(?:min|minute|minutes)\s+read\s*$", re.I)
# capital required after "by" — "By the residue theorem…" is prose
_BYLINE_BY_RE = re.compile(r"^\s*[Bb]y\s+[A-Z][\w'\-]+(?:\s+[A-Z][\w'\-]+)*")
_SHARE_FOLLOW_RE = re.compile(
    r"^\s*(?:share|follow|tweet|like|subscribe|sign up|sign in|copy link|"
    r"share this post|ready for more\??|no posts)\s*$", re.I)
_NEWSLETTER_RE = re.compile(
    r"\b(?:subscribe to (?:our|the) newsletter|join (?:our|the) newsletter|"
    r"sign up for (?:our|the) newsletter|email(?: address)? to subscribe|"
    r"never miss a (?:post|story))\b", re.I)
_DATE_PATTERN = re.compile(
    r"(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]*\s+\d{1,2}|"
    r"\d{1,2}\s+(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)|"
    r"\d{4}[-/]\d{1,2}[-/]\d{1,2}", re.I)
_TRAILING_DATE_RE = re.compile(
    r"(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]*\s+\d{1,2},?\s*\d{0,4}|"
    r"\d{4}[-/]\d{1,2}[-/]\d{1,2}", re.I)
_ISO_DATE_RE = re.compile(r"^\s*\d{4}-\d{1,2}-\d{1,2}\s*$")
_LONG_DATE_RE = re.compile(
    r"^\s*(?:\d{1,2}\s+)?(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)"
    r"[a-z]*\s+\d{1,2},?\s*\d{0,4}\s*$", re.I)

_SENTENCE_PUNCT = ".!?:;\u3002\uff01\uff1f\u2026\u061f\u060c\uff1b\uff1a"

_LEGAL_RE = re.compile(
    r"(?i)\b(?:all rights reserved|re-?use permitted|copyright \u00a9?|"
    r"\u00a9 \d{4}|terms of (?:use|service))\b")

_LABELS = (
    "share this article", "share this story", "pinned", "advertisement",
    "loading…", "loading...", "loading", "more like this",
    "table of contents", "categories", "tags",
)


def _words(s: str) -> int:
    return len(s.split())


# Tick-invalidated memos: the ~22 content-pattern sub-passes re-ask for
# the same nodes' text (72% repeat rate measured on the corpus). Keyed by
# the node OBJECT (identity hash; strong ref prevents id-reuse aliasing)
# and cleared whenever the global mutation tick moves — including in-place
# text edits, which call bump_tick().
_text_memo: dict = {}
_ltl_memo: dict = {}
_memo_tick = [-1]


def _memo_fresh() -> None:
    if _nodemod._TICK != _memo_tick[0]:
        _text_memo.clear()
        _ltl_memo.clear()
        _memo_tick[0] = _nodemod._TICK


def release_memos() -> None:
    """Drop the memos' hold on the last document's nodes (see
    ``dom.node.release_memos``)."""
    _text_memo.clear()
    _ltl_memo.clear()


def _text(n: Node) -> str:
    _memo_fresh()
    r = _text_memo.get(n)
    if r is None:
        r = n.text_content()
        _text_memo[n] = r
    return r


def _link_text_length(n: Node) -> int:
    _memo_fresh()
    r = _ltl_memo.get(n)
    if r is None:
        r = 0
        for d in n.iter_elements():
            if d.tag == "a":
                r += len(" ".join(d.text_content().split()))
        _ltl_memo[n] = r
    return r


def _link_density(n: Node) -> float:
    # whitespace-normalized on both sides — markup indentation must not
    # dilute the density of a link list
    t = len(" ".join(_text(n).split()))
    if t == 0:
        return 0.0
    return _link_text_length(n) / t


def _post_order_elements(root: Node) -> list[Node]:
    # delegated to the shared tick-memoized walker in the DOM layer
    # (passes.py and code_blocks.py walk the identical order; one memo
    # serves all three). Callers iterate read-only.
    from ..dom.node import post_order_elements
    return post_order_elements(root)


# ------------------------------------------------------------- small images

def _looks_like_math_img(n: Node) -> bool:
    alt = n.get("alt")
    if alt:
        a = alt.lower()
        if "\\(" in a or "\\[" in a or a.startswith("$") or "latex" in a \
                or re.search(r"\\[a-zA-Z]{2,}", alt):
            return True
    cls = n.get("class")
    if cls:
        lc = cls.lower()
        if any(k in lc for k in ("latex", "tex", "equation", "math")):
            return True
    return n.get("data-latex") is not None or n.get("data-math") is not None


def small_images(root: Node) -> None:
    to_remove = []
    for d in root.descendants_snapshot():
        if d.tag not in ("img", "svg") or d.parent is None:
            continue
        if _looks_like_math_img(d):
            continue
        if d.tag == "img":
            fig = None
            cur = d.parent
            while cur is not None:
                if cur.type == ELEMENT and cur.tag == "figure":
                    fig = cur
                    break
                cur = cur.parent
            if fig is not None:
                img_count = sum(1 for x in fig.iter_elements() if x.tag == "img")
                if img_count == 1:
                    continue

        def parse_u(v):
            if not v:
                return 0
            try:
                return int(v)
            except ValueError:
                return 0

        aw, ah = parse_u(d.get("width")), parse_u(d.get("height"))
        style = d.get("style") or ""
        mw = _STYLE_W.search(style)
        mh = _STYLE_H.search(style)
        sw = int(mw.group(1)) if mw else 0
        sh = int(mh.group(1)) if mh else 0
        vw = vh = 0
        if d.tag == "svg":
            vb = d.get("viewBox") or d.get("viewbox") or ""
            parts = [p for p in re.split(r"[\s,]+", vb) if p]
            if len(parts) == 4:
                try:
                    vw = round(float(parts[2]))
                    vh = round(float(parts[3]))
                except ValueError:
                    pass
        widths = [x for x in (aw, sw, vw) if x > 0]
        heights = [x for x in (ah, sh, vh) if x > 0]
        if not widths and not heights:
            if d.tag == "img":
                src = d.get("src") or ""
                has_alt_src = any(
                    d.get(k) for k in ("srcset", "data-src", "data-srcset",
                                       "data-lazy-src", "data-original"))
                if not src and not has_alt_src:
                    to_remove.append(d)
                    continue
                if not has_alt_src and src.startswith("data:") and len(src) < 300:
                    in_picture = d.has_ancestor_tag("picture")
                    if not in_picture:
                        to_remove.append(d)
                        continue
            continue
        min_w = min(widths) if widths else 1 << 30
        min_h = min(heights) if heights else 1 << 30
        if min_w < MIN_DIMENSION or min_h < MIN_DIMENSION:
            to_remove.append(d)
    for n in to_remove:
        if n.parent is not None:
            n.detach()


# ---------------------------------------------------------- metadata block

def metadata_block(root: Node) -> None:
    h1 = None
    for d in root.iter_elements():
        if d.tag == "h1":
            h1 = d
            break
    if h1 is None:
        return
    to_check = []
    cur = h1.next_sibling()
    count = 0
    while cur is not None and count < 3:
        if cur.type == ELEMENT:
            to_check.append(cur)
            count += 1
        cur = cur.next_sibling()
    cur = h1.prev_sibling()
    count = 0
    while cur is not None and count < 3:
        if cur.type == ELEMENT:
            to_check.append(cur)
            count += 1
        cur = cur.prev_sibling()
    for n in to_check:
        txt = _text(n)
        if _words(txt) > 20:
            continue
        # a bare author-profile link stranded next to the title (its date
        # span was already stripped as chrome) is metadata too
        if _words(txt) <= 4 and not txt.strip().endswith((".", "!", "?")):
            anchor = n if n.tag == "a" else None
            if anchor is None:
                kids = n.element_children()
                if len(kids) == 1 and kids[0].tag == "a" \
                        and len(_text(n).strip()) == len(_text(kids[0]).strip()):
                    anchor = kids[0]
            if anchor is not None:
                href = (anchor.get("href") or "").lower()
                if anchor.get("rel") == "author" or re.search(
                        r"github\.com/|twitter\.com/|/author/|/people/|/team/",
                        href):
                    n.detach()
                    continue
        t = txt.strip()
        author_list = ("," in t and not t.endswith((".", "!", "?"))
                       and re.match(r"^[A-Z][\w'\-]+ [A-Z]", t) is not None
                       and len(re.findall(r"[A-Z][a-z]+ [A-Z][a-z]+", t)) >= 2)
        if _DATE_PATTERN.search(txt) \
                or re.search(r"\b[Bb]y\s+[A-Z]", txt) or author_list:
            if n.tag in _HEADING_TAGS:
                continue
            if n.parent is not None:
                n.detach()


# -------------------------------------------------------- content patterns

def _scope_of(root: Node) -> Node:
    scope = root
    for d in root.iter_elements():
        if d.tag == "body":
            scope = d
            break
    for _ in range(6):
        kids = scope.element_children()
        if len(kids) == 1 and kids[0].tag in ("main", "article", "div",
                                              "section", "header"):
            scope = kids[0]
        else:
            break
    return scope


def _drop_social_counters(root: Node) -> None:
    for d in _post_order_elements(root):
        if d.parent is None or d.tag not in ("div", "span", "p", "li", "a"):
            continue
        txt = _text(d)
        if _SOCIAL_COUNT_RE.match(txt):
            if d.has_ancestor_tag("blockquote"):
                continue  # quoted "18 comments" links are content
            target = d
            tw = _words(txt)
            while target.parent is not None and target.parent.type == ELEMENT:
                parent = target.parent
                kids = parent.element_children()
                if len(kids) == 1 and _words(_text(parent)) == tw:
                    target = parent
                else:
                    break
            target.detach()


def _drop_read_time(root: Node) -> None:
    for d in _post_order_elements(root):
        if d.parent is None or d.tag not in ("div", "span", "p", "li"):
            continue
        if _READ_TIME_RE.match(_text(d)):
            d.detach()


def _drop_share_follow(root: Node) -> None:
    for d in _post_order_elements(root):
        if d.parent is None or d.tag not in ("div", "section", "ul", "p"):
            continue
        txt = _text(d).strip()
        if not txt or _words(txt) > 8:
            continue
        if _SHARE_FOLLOW_RE.match(txt):
            d.detach()


_FOLLOW_LEAD_RE = re.compile(r"(?i)^follow (?:the latest|us|me)\b")


def _drop_follow_blocks(root: Node) -> None:
    """'Follow the latest X news' label + the social-link row after it
    (trailing footer; wrappers may already be flattened to siblings)."""
    for d in _post_order_elements(root):
        if d.parent is None or d.tag not in ("div", "section", "p", "h2",
                                             "h3", "h4"):
            continue
        lead = _text(d).strip()
        if not _FOLLOW_LEAD_RE.match(lead) or _words(lead) > 8:
            continue
        # consume following bare-link siblings (RSS / Discord / Twitter…)
        nxt = d.next_element_sibling()
        to_drop = [d]
        while nxt is not None:
            txt = _text(nxt).strip()
            is_linky = (nxt.tag == "a"
                        or (_words(txt) <= 3
                            and any(k.tag == "a"
                                    for k in nxt.iter_elements())))
            if not is_linky:
                break
            to_drop.append(nxt)
            nxt = nxt.next_element_sibling()
        if len(to_drop) > 1:
            for n in to_drop:
                n.detach()


def _drop_newsletter(root: Node) -> None:
    for d in _post_order_elements(root):
        if d.parent is None or d.tag not in ("div", "section", "aside", "form", "ul"):
            continue
        if _NEWSLETTER_RE.search(_text(d)):
            d.detach()


def _looks_like_breadcrumb_list(node: Node) -> bool:
    txt = _text(node).strip()
    sep_count = sum(1 for c in txt if c in "/>·|›")
    words = _words(txt)
    li_count = sum(1 for d in node.iter_elements() if d.tag == "li")
    a_count = sum(1 for d in node.iter_elements() if d.tag == "a")
    if words >= 25:
        return False
    if sep_count >= 2:
        return True
    if 2 <= li_count <= 6 and a_count >= max(0, li_count - 1):
        return True
    return False


def _drop_breadcrumb_at_start(root: Node) -> None:
    scope = _scope_of(root)
    while True:
        kids = scope.element_children()
        if kids and kids[0].tag in ("hr", "br"):
            kids[0].detach()
            continue
        break
    kids = scope.element_children()
    if len(kids) >= 2 and kids[0].tag == "h1" and kids[1].tag in ("hr", "br"):
        kids[1].detach()
    kids = scope.element_children()
    for k in kids[:4]:
        if k.parent is None:
            continue
        if k.tag in _HEADING_TAGS:
            break
        if k.tag in ("ul", "ol", "nav") and _looks_like_breadcrumb_list(k):
            k.detach()
            continue
        if k.tag in ("p", "div", "span"):
            bt = _text(k).strip()
            seps = sum(1 for c in bt if c in "/>·|›")
            links = sum(1 for d in k.iter_elements() if d.tag == "a")
            if seps >= 1 and links >= 2 and _words(bt) <= 10:
                k.detach()
                continue
        if k.tag in ("div", "section", "aside"):
            inner = k.element_children()
            if len(inner) == 1 and inner[0].tag in ("ul", "ol", "nav") \
                    and _looks_like_breadcrumb_list(inner[0]):
                k.detach()
                continue
        txt = _text(k).strip()
        if _words(txt) >= 12 and k.tag in ("p", "div", "section", "blockquote"):
            break


def _drop_trailing_related(root: Node) -> None:
    scope = _scope_of(root)
    kids = scope.element_children()
    if not kids:
        return
    n = len(kids)
    for idx in range(n - 1, max(-1, n - 7), -1):
        k = kids[idx]
        if k.parent is None:
            continue
        lc = _text(k).lower()
        if k.tag in _HEADING_TAGS and (
                "related" in lc or "read next" in lc or "more from" in lc
                or "about the author" in lc or "further reading" in lc
                or lc.strip() in ("subscribe", "newsletter")
                or ("subscribe" in lc and "newsletter" in lc)
                or lc.strip().startswith("comments")):
            if "further reading" in lc:
                # a substantive Further-reading section (reading list with
                # real prose) is content; only a stub pointer is chrome
                rest = sum(_words(_text(kids[j])) for j in range(idx + 1, n)
                           if kids[j].parent is not None)
                if rest >= 25:
                    continue
            for j in range(idx, n):
                if kids[j].parent is not None:
                    kids[j].detach()
            return
    _drop_trailing_related_deep(root)


def _drop_trailing_related_deep(root: Node) -> None:
    """Nested variant: a "Next steps"/"Related" heading deeper in the tree
    whose entire document tail is link cards / pagination chrome
    (codeblocks--mintlify card-group + #pagination)."""
    order = [x for x in root.iter() if x.type == ELEMENT]
    for i in range(len(order) - 1, -1, -1):
        h = order[i]
        if h.parent is None or h.tag not in _HEADING_TAGS:
            continue
        lc = _text(h).strip().lower()
        if lc not in ("next steps", "related", "related posts",
                      "related articles", "read next") \
                and not ("subscribe" in lc and "newsletter" in lc):
            continue
        ancestors = {id(a) for a in h.ancestors()}
        ancestors.add(id(h))
        # top-level tail roots: following siblings of h or of its ancestors
        tail_top = [x for x in order[i + 1:]
                    if x.parent is not None and id(x) not in ancestors
                    and id(x.parent) in ancestors]
        total = sum(_words(_text(t)) for t in tail_top)
        links = sum(_link_text_length(t) for t in tail_top)
        chars = sum(len(" ".join(_text(t).split())) for t in tail_top)
        if total > 120:
            return
        if total > 60 and chars and links / chars < 0.5:
            return
        h.detach()
        for t in tail_top:
            if t.parent is not None:
                t.detach()
        return


def _drop_link_dense_trailing(root: Node, _depth: int = 0) -> None:
    scope = _scope_of(root)
    kids = [c for c in scope.children
            if c.type == ELEMENT or (c.type == TEXT and c.text.strip())]
    if not kids:
        return
    # the page's trailing chrome often sits at the END of a big content
    # wrapper rather than at top level (paulgraham content td) — recurse
    # into a trailing container that holds the bulk of the text
    last = kids[-1]
    if _depth < 3 and last.type == ELEMENT \
            and last.tag in ("div", "section", "article", "main", "td") \
            and _words(_text(last)) > 200:
        _drop_link_dense_trailing(last, _depth + 1)
        kids = [c for c in scope.children
                if c.type == ELEMENT or (c.type == TEXT and c.text.strip())]
        if not kids:
            return
    # whole-content guard: a "trailing widget" that carries ALL of the
    # scope's text is not trailing anything — it IS the document (a short
    # transcript turn like "<p>sounds good thanks</p>" must survive)
    scope_words = _words(_text(scope))
    removed_junk = False
    for idx in range(len(kids) - 1, -1, -1):
        k = kids[idx]
        if k.parent is None:
            continue
        if k.type == TEXT:
            # trailing bare text label ("Linked mentions") — short,
            # no sentence punctuation → chrome
            t = k.text.strip()
            if _words(t) < 6 and not any(c in t for c in _SENTENCE_PUNCT):
                if _words(t) and _words(t) >= scope_words:
                    break
                k.detach()
                continue
            break
        if k.tag in ("hr", "br", "button"):
            k.detach()
            removed_junk = True
            continue
        if k.tag == "img" and removed_junk:
            # an image amid already-removed widget junk is part of it
            k.detach()
            continue
        if k.tag == "table" and _link_density(k) > 0.8:
            k.detach()  # pure link-nav table (paulgraham footer)
            continue
        if k.tag not in ("div", "section", "ul", "aside", "p", "span"):
            break
        words = _words(_text(k))
        if words < 6:
            if words == 0:
                if _has_media(k):
                    break  # math/img-only trailing block is content
                k.detach()
                continue
            if words >= scope_words:
                break  # the whole document's text — content, not chrome
            t = _text(k).strip()
            # trailing short non-prose widget ("You might also enjoy",
            # "FPS: --") — no sentence-ending punctuation → drop
            is_label = not any(c in t for c in _SENTENCE_PUNCT)
            if not is_label and _link_density(k) > 0.8:
                is_label = True  # trailing pure-link widget (signature line)
            lw = t.lower()
            if is_label and ("share" in lw.split() or lw == "author"):
                k.detach()  # share/author widget — media doesn't protect it
                continue
            # all-caps ascii stat widgets ("FPS: --") count as labels even
            # with a colon; CJK prose (non-ascii) is protected
            if not is_label and t.isascii() and not re.search(r"[a-z]", t):
                is_label = True
            if is_label and not _has_media(k) \
                    and k.find_first("code") is None:
                k.detach()
                continue
            break
        if _link_density(k) > 0.6 and words < 200:
            if _text(k).strip().lower().startswith("see also"):
                break  # cross-reference lines are content
            k.detach()
            continue
        break


def _has_media(n: Node) -> bool:
    for d in n.iter_elements():
        if d.tag in ("img", "video", "audio", "iframe", "picture", "table",
                     "pre", "math"):
            return True
    return False


def _drop_label_widgets(root: Node) -> None:
    for d in _post_order_elements(root):
        if d.parent is None or d.tag not in ("div", "section", "p", "span", "ul"):
            continue
        txt = _text(d).strip().lower()
        if txt and txt in _LABELS:
            d.detach()


def _drop_byline_near_start(root: Node) -> None:
    h1 = None
    for d in root.iter_elements():
        if d.tag == "h1":
            h1 = d
            break
    if h1 is None:
        return
    # the H1 may be the last child of a header wrapper — climb until a
    # following sibling exists so the byline block after the wrapper is seen
    node = h1
    cur = node.next_sibling()
    while cur is None and node.parent is not None \
            and node.parent.type == ELEMENT \
            and node.parent.tag not in ("body", "html"):
        node = node.parent
        cur = node.next_sibling()
    count = 0
    while cur is not None:
        s = cur
        if s.type == TEXT:
            trimmed = s.text.strip()
            if not trimmed:
                cur = s.next_sibling()
                continue
            count += 1
            if count > 6:
                break
            words = _words(trimmed)
            if words < 12 and (
                    _BYLINE_BY_RE.match(trimmed) or _ISO_DATE_RE.match(trimmed)
                    or _LONG_DATE_RE.match(trimmed)
                    or _READ_TIME_RE.match(trimmed)):
                nxt = s.next_sibling()
                s.detach()
                cur = nxt
                continue
            if words >= 12:
                break
            cur = s.next_sibling()
            continue
        if s.type == ELEMENT:
            count += 1
            if count > 6:
                break
            trimmed = _text(s).strip()
            if not trimmed:
                cur = s.next_sibling()
                continue
            words = _words(trimmed)
            is_short = words < 12
            is_byline = is_short and bool(_BYLINE_BY_RE.match(trimmed))
            is_iso = is_short and bool(_ISO_DATE_RE.match(trimmed))
            is_long = is_short and bool(_LONG_DATE_RE.match(trimmed))
            is_author_list = (is_short and s.tag in ("ul", "ol")
                              and "author" in (s.get("class") or "").lower())
            is_read_time = bool(_READ_TIME_RE.match(trimmed))
            is_author_block = words < 6 and (
                "author" in (s.get("class") or "").lower()
                or "author" in (s.get("href") or "").lower()
                or any("author" in (d.get("class") or "").lower()
                       for d in s.iter_elements()))
            if is_byline or is_iso or is_long or is_author_list \
                    or is_read_time or is_author_block:
                nxt = s.next_sibling()
                s.detach()
                cur = nxt
                continue
            if words >= 12 and s.tag in ("p", "div", "section", "blockquote"):
                break
        cur = s.next_sibling()


def _drop_trailing_author_block(root: Node) -> None:
    scope = _scope_of(root)
    kids = scope.element_children()
    if not kids:
        return
    n = len(kids)
    for idx in range(n - 1, max(-1, n - 7) - 1, -1):
        if idx < 0:
            break
        k = kids[idx]
        if k.parent is None:
            continue
        trimmed = _text(k).strip()
        words = _words(trimmed)
        if words > 30:
            break
        if words == 0:
            continue
        if k.tag in _HEADING_TAGS:
            continue
        if _LEGAL_RE.search(trimmed) and words < 20:
            k.detach()
            continue
        by_match = bool(_BYLINE_BY_RE.match(trimmed))
        date_match = bool(_TRAILING_DATE_RE.search(trimmed))
        lc = trimmed.lower()
        label_match = (lc.startswith("posted in") or lc.startswith("filed under")
                       or lc.startswith("tags ") or lc == "tags"
                       or lc.startswith("tagged "))
        ends_sentence = trimmed.endswith((".", "!", "?"))
        if (by_match or label_match) and words < 14:
            k.detach()
            continue
        if date_match and words < 14 and not (ends_sentence and words >= 8):
            # a dated but sentence-like trailing block (an "Update ...:"
            # note) is content, not a byline
            k.detach()
            continue
        if k.tag in ("section", "div", "aside") and words < 14:
            if by_match or date_match:
                k.detach()
                continue


def _drop_leading_eyebrow(root: Node) -> None:
    """Eyebrow/kicker labels immediately before the lead heading
    ("Blog post", icon + "Off-nominal") → chrome."""
    scope = _scope_of(root)
    kids = scope.element_children()
    if len(kids) < 2:
        return
    first = kids[0]
    if first.tag == "div":
        fcls = (first.get("class") or "").lower()
        ft = _text(first).strip()
        if any(h in fcls for h in ("post-header", "eyebrow", "kicker",
                                   "article-meta", "post-meta")) \
                and _words(ft) <= 8 \
                and not any(c in ft for c in ".!?") \
                and not _has_media(first):
            first.detach()
            return
    candidates = []
    heading = None
    for k in kids[:4]:
        if k.tag in _HEADING_TAGS:
            heading = k
            break
        if k.tag not in ("p", "div", "span", "a"):
            return
        t = _text(k).strip()
        if t and (_words(t) > 4 or any(c in t for c in _SENTENCE_PUNCT)
                  or _has_media(k)):
            return
        candidates.append(k)
    if heading is None or not candidates:
        return
    if not any(_text(c).strip() for c in candidates):
        return
    for c in candidates:
        c.detach()
    ht = _text(heading).strip()
    if _LONG_DATE_RE.match(ht) or _ISO_DATE_RE.match(ht):
        heading.detach()  # a pure-date heading is part of the eyebrow


def _drop_hr_label_widgets(root: Node) -> None:
    """Short no-punct label sandwiched between two <hr>s ("For More on
    This Topic") → drop label + the second hr."""
    for d in _post_order_elements(root):
        if d.parent is None or d.tag not in ("p", "div", "span", "h3", "h4"):
            continue
        t = _text(d).strip()
        if not t or _words(t) > 6 or any(c in t for c in _SENTENCE_PUNCT):
            continue
        prev, nxt = d.prev_element_sibling(), d.next_element_sibling()
        if prev is not None and prev.tag == "hr" \
                and nxt is not None and nxt.tag == "hr":
            nxt.detach()
            d.detach()


def _drop_seealso_sections(root: Node) -> None:
    """"See also" / "External links" headings + their link lists → chrome
    (wiki convention in the golden corpus)."""
    for h in [n for n in root.descendants_snapshot()
              if n.tag in _HEADING_TAGS]:
        if h.parent is None:
            continue
        ht = _text(h).strip().lower()
        if ht not in ("see also", "external links", "navigation menu"):
            continue
        # substantial articles keep their See also / External links
        # sections; on thin stub pages they are trailing chrome
        if _words(_text(_scope_of(root))) > 400:
            continue
        nxt = h.next_element_sibling()
        if nxt is None and h.parent is not None \
                and h.parent.type == ELEMENT:
            # heading inside a wrapper div — look after the wrapper
            nxt = h.parent.next_element_sibling()
        if nxt is not None and nxt.tag in ("ul", "ol", "nav") \
                and _link_density(nxt) > 0.5:
            nxt.detach()
            h.detach()


def _drop_fragment_link_lists(root: Node) -> None:
    """Standalone TOC lists: every link is a #fragment anchor, ≥3 items →
    chrome (plus a directly preceding <hr>)."""
    for lst in [n for n in root.descendants_snapshot()
                if n.tag in ("ul", "ol")]:
        if lst.parent is None:
            continue
        links = [d for d in lst.iter_elements() if d.tag == "a"]
        lis = [d for d in lst.iter_elements() if d.tag == "li"]
        if len(lis) < 3 or not links:
            continue
        link_chars = sum(len("".join(a.text_content().split()))
                         for a in links)
        total_chars = len("".join(_text(lst).split())) or 1
        if all((a.get("href") or "").startswith("#") for a in links) \
                and link_chars / total_chars > 0.8:
            prev = lst.prev_element_sibling()
            nxt = lst.next_element_sibling()
            lst.detach()
            # an <hr> on either side is part of the TOC framing
            if prev is not None and prev.tag == "hr":
                prev.detach()
            if nxt is not None and nxt.tag == "hr":
                nxt.detach()


def _drop_toc_blocks(root: Node) -> None:
    """"Contents"/"Table of contents" heading + link-only list → chrome."""
    for h in [n for n in root.descendants_snapshot()
              if n.tag in _HEADING_TAGS]:
        if h.parent is None:
            continue
        if _text(h).strip().lower() not in ("contents", "table of contents",
                                            "in this article",
                                            "on this page"):
            continue
        nxt = h.next_element_sibling()
        if nxt is not None and nxt.tag in ("ul", "ol", "nav", "div") \
                and _link_density(nxt) > 0.8:
            nxt.detach()
            h.detach()
            continue
        # no expected-corpus document keeps a TOC label heading: the link
        # list itself may already be gone (nav.toc chrome), so the heading
        # drops regardless
        h.detach()


def _drop_leading_author_chrome(root: Node) -> None:
    """Author/category chips at the very start of the article (before the
    first prose paragraph) — class/href-hinted, short → chrome."""
    scope = _scope_of(root)
    for k in scope.element_children()[:3]:
        if k.parent is None:
            continue
        t = _text(k).strip()
        if _words(t) >= 12 or k.tag in _HEADING_TAGS:
            break
        hinted = any(
            h in ((k.get("class") or "") + (k.get("href") or "")).lower()
            for h in ("author", "category", "eyebrow", "kicker"))
        if not hinted:
            hinted = any(
                "author" in (d.get("class") or "").lower()
                for d in k.iter_elements())
        if hinted and _words(t) <= 4 and not _has_media(k):
            k.detach()


def _drop_frontmatter_section(root: Node) -> None:
    """A leading front-matter block — abstract/date/author-bio lump before
    the article body, marked by a rel=author/<address> author card plus a
    date (metadata--rel-author-in-bio-container) — is metadata chrome."""
    scope = _scope_of(root)
    seen = 0
    for k in scope.element_children():
        if k.parent is None or k.tag in _HEADING_TAGS:
            continue
        seen += 1
        if seen > 3:
            break
        if _words(_text(k)) >= 100:
            break
        has_author = any(
            d.tag == "address" or d.get("rel") == "author"
            or "author" in (d.get("class") or "").lower()
            for d in k.iter_elements())
        if has_author and _DATE_PATTERN.search(_text(k)):
            k.detach()
            return


_SOCIAL_HOST_RE = re.compile(
    r"(?i)^https?://(?:www\.)?(?:facebook|twitter|x|instagram|linkedin|"
    r"youtube|pinterest|tiktok|t)\.(?:com|me)(?:/|$)")


def _drop_date_headings(root: Node) -> None:
    """A heading whose entire text is a date ("Thursday, May 27, 2004") is
    post-metadata chrome, not a section title (table-layout--blogger)."""
    for h in [n for n in root.descendants_snapshot()
              if n.tag in _HEADING_TAGS]:
        if h.parent is None:
            continue
        t = _text(h).strip()
        if t and _words(t) <= 6 and _DATE_PATTERN.search(t) \
                and not re.search(r"[.!?]$", t) \
                and re.fullmatch(
                    r"(?i)(?:[a-z]+,?\s+)?(?:[a-z]+\s+)?\d{1,2}(?:st|nd|rd|th)?"
                    r",?\s+\d{4}|\d{4}[-/]\d{1,2}[-/]\d{1,2}", t):
            h.detach()


def _drop_social_icon_links(root: Node) -> None:
    """Bare icon links to social profiles (img-only anchor → facebook/
    twitter/…) are site chrome wherever they sit (scp-wiki side bar)."""
    for a in [n for n in root.descendants_snapshot() if n.tag == "a"]:
        if a.parent is None:
            continue
        if not _SOCIAL_HOST_RE.match(a.get("href") or ""):
            continue
        if _text(a).strip():
            continue
        imgs = [d for d in a.iter_elements() if d.tag == "img"]
        if len(imgs) == 1 and "social" in (imgs[0].get("src") or "").lower():
            a.detach()


def _drop_dismiss_controls(root: Node) -> None:
    for a in [n for n in root.descendants_snapshot() if n.tag == "a"]:
        if a.parent is None:
            continue
        label = (a.get("aria-label") or "").lower()
        if label in ("dismiss", "close") or a.get("data-dismiss-url") is not None:
            a.detach()


def content_patterns(root: Node) -> None:
    _drop_dismiss_controls(root)
    _drop_skip_links(root)
    _drop_date_headings(root)
    _drop_social_icon_links(root)
    _drop_frontmatter_section(root)
    _drop_leading_author_chrome(root)
    _drop_toc_blocks(root)
    _drop_seealso_sections(root)
    _drop_fragment_link_lists(root)
    _drop_leading_eyebrow(root)
    _drop_social_counters(root)
    _drop_read_time(root)
    _drop_share_follow(root)
    _drop_newsletter(root)
    _drop_follow_blocks(root)
    _drop_breadcrumb_at_start(root)
    _drop_trailing_related(root)
    _drop_link_dense_trailing(root)
    _drop_label_widgets(root)
    _drop_byline_near_start(root)
    _drop_trailing_author_bio(root)
    _drop_trailing_author_block(root)


# ------------------------------------------------------------------ scoring

_NAV_INDICATORS_LOWER = tuple(s.lower() for s in NAVIGATION_INDICATORS)


def _score_block(n: Node) -> int:
    txt = _text(n)
    if not txt:
        return -50
    score = _words(txt) // 5
    paragraphs = sum(1 for c in n.element_children() if c.tag == "p")
    score += paragraphs * 5
    density = _link_text_length(n) / max(1, len(txt))
    if density > 0.6:
        score -= 25
    if density > 0.8:
        score -= 20
    cls = n.get("class")
    if cls:
        lc = cls.lower()
        nav_hits = sum(1 for kw in _NAV_INDICATORS_LOWER if kw in lc)
        score -= nav_hits * 5
    return score


def _looks_like_real_content(n: Node) -> bool:
    for d in n.iter_elements():
        if d.tag in ("pre", "table", "figure", "picture", "blockquote"):
            return True
    paragraphs = [d for d in n.iter_elements() if d.tag == "p"]
    if len(paragraphs) >= 2:
        prose = sum(1 for p in paragraphs if _words(_text(p)) >= 10)
        if prose >= 2:
            return True
    return False


def scoring(root: Node) -> None:
    to_remove = []
    for d in _post_order_elements(root):
        if d.parent is None or d.tag not in ("div", "section", "aside"):
            continue
        if _looks_like_real_content(d):
            continue
        if any(a.type == ELEMENT and (
                "footnote" in (a.get("class") or "")
                or (a.get("role") or "") in ("doc-endnote", "doc-endnotes"))
               for a in [d] + list(d.ancestors())):
            continue  # footnote definition bodies are link-dense content
        txt = _text(d)
        if _words(txt) < 4:
            continue
        if _score_block(d) < -10:
            to_remove.append(d)
    for n in to_remove:
        if n.parent is not None:
            n.detach()


# ------------------------------------------------------- content boundary

_BOUNDARY_BYLINE_RE = re.compile(r"(?i)^by\s+\S")
_SENT_PUNCT_RE = re.compile(r"[.!?]")
_SKIP_ANCESTORS = ("aside", "nav", "header", "footer", "form")


def _is_prose_block(node: Node) -> bool:
    """Ref `src/content_boundary.rs:46-88`."""
    if node.tag not in ("p", "div", "section", "article", "blockquote",
                        "font"):
        return False
    if node.has_ancestor_tag(*_SKIP_ANCESTORS):
        return False
    cls = node.get("class") or ""
    if "isHidden" in cls or "is-hidden" in cls:
        return False
    txt = _text(node).strip()
    if not txt:
        return False
    words = _words(txt)
    if words < 7 or not _SENT_PUNCT_RE.search(txt):
        return False
    if _BOUNDARY_BYLINE_RE.match(txt) and words < 15:
        return False
    if _DATE_PATTERN.search(txt) and words < 20:
        return False
    if _link_text_length(node) > int(len(txt) * 0.7):
        return False
    if node.tag == "div" and not any(
            d.tag == "p" for d in node.iter_elements()):
        return False
    return True


def find_content_start(root: Node, title: str):
    """Ref `src/content_boundary.rs:91-111`: the first prose block after
    the title heading (or from the top when no title element matches)."""
    def norm(s: str) -> str:
        return " ".join(s.split()).lower()

    title_el = None
    if title:
        t = norm(title)
        for d in root.iter_elements():
            if d.tag in ("h1", "h2") and norm(d.text_content()) == t:
                title_el = d
                break
    started = title_el is None
    for d in root.iter_elements():
        if not started:
            if d is title_el:
                started = True
            continue
        if _is_prose_block(d):
            return d
    if title_el is not None:
        return find_content_start(root, "")
    return None


def _bare_image_block(node: Node) -> bool:
    """True for an element whose only content is image(s) — a hero banner
    with no caption and no text."""
    if node.tag == "img":
        return True
    if node.tag not in ("div", "section", "figure", "picture", "p", "a"):
        return False
    if _text(node).strip():
        return False
    has_img = False
    for d in node.iter_elements():
        if d is node:
            continue
        if d.tag in ("img", "picture", "source"):
            has_img = True
        elif d.tag == "figcaption":
            return False
        elif d.tag not in ("div", "section", "span", "a", "figure"):
            return False
    return has_img


def content_boundary_cleanup(root: Node, title: str) -> None:
    """Drop caption-less hero-image blocks that render before the TITLE
    heading (defuddle `findContentStart`; issues--span-with-block fixture:
    `section#section-hero` with a bare img above the h1)."""
    if not title:
        return

    def norm(s: str) -> str:
        return " ".join(s.split()).lower()

    t = norm(title)
    title_el = None
    for d in root.iter_elements():
        if d.tag in ("h1", "h2") and norm(d.text_content()) == t:
            title_el = d
            break
    if title_el is None:
        return
    title_ancestors = {id(a) for a in title_el.ancestors()}
    to_drop = []
    for d in root.iter_elements():
        if d is title_el:
            break
        if id(d) in title_ancestors or d.parent is None:
            continue
        if _bare_image_block(d) and not any(
                a.tag == "figure" for a in d.ancestors()
                if a.type == ELEMENT):
            to_drop.append(d)
    for n in to_drop:
        if n.parent is not None:
            n.detach()


def _drop_leading_nav_images(root: Node, title: str) -> None:
    """1990s-style chrome before the first prose block: image-map
    navigation strips (`img[usemap]`), bare logo image-links with no alt,
    and a title-rendered-as-gif (alt == page title) — paulgraham.com."""
    tnorm = " ".join(title.split()).lower()
    for img in [d for d in root.descendants_snapshot() if d.tag == "img"]:
        if img.parent is None:
            continue
        # only chrome BEFORE the first prose text: stop at the first
        # element that carries a real sentence
        prior_text = []
        for x in root.iter():
            if x is img:
                break
            if x.type == TEXT and x.text.strip():
                prior_text.append(x.text.strip())
        flat = " ".join(prior_text)
        if _words(flat) >= 7 and any(c in flat for c in _SENTENCE_PUNCT):
            break
        alt = " ".join((img.get("alt") or "").split()).lower()
        if img.get("usemap") is not None:
            img.detach()
        elif tnorm and alt and alt == tnorm:
            img.detach()
        elif not alt:
            a = img.parent
            if a is not None and a.type == ELEMENT and a.tag == "a" \
                    and not _text(a).strip() \
                    and len([d for d in a.iter_elements()
                             if d.tag == "img"]) == 1:
                href = (a.get("href") or "").split("?")[0].lower()
                if not re.search(r"\.(?:jpe?g|png|gif|webp|avif|svg)$",
                                 href):
                    # a logo linking to a page is nav; an image linking
                    # to its full-size self is content (lightbox)
                    a.detach()


_BIO_SENTENCE_RE = re.compile(r"^[A-Z][\w'’-]+(?: [A-Z][\w'’-]+)? is an? ")
_PROFILE_HOST_RE = re.compile(
    r"(?i)^https?://(?:www\.)?(?:linkedin\.com/in/|twitter\.com/|x\.com/|"
    r"github\.com/[^/]+/?$|mastodon|bsky\.app/)")


def _drop_skip_links(root: Node) -> None:
    """Accessibility skip-navigation links are UI chrome."""
    for a in [n for n in root.descendants_snapshot() if n.tag == "a"]:
        if a.parent is None:
            continue
        if (a.get("href") or "").startswith("#") \
                and _text(a).strip().lower().startswith("skip to"):
            a.detach()


def _drop_trailing_author_bio(root: Node) -> None:
    """A trailing author-bio card: avatar image + "<Name> is a <role>…"
    paragraph + profile link (figma blog footer)."""
    scope = _scope_of(root)
    kids = [c for c in scope.element_children() if c.parent is not None]
    # descend into a trailing content wrapper (same as link-dense scan)
    depth = 0
    while depth < 3 and kids and kids[-1].type == ELEMENT \
            and kids[-1].tag in ("div", "section", "article", "main") \
            and _words(_text(kids[-1])) > 200:
        scope = kids[-1]
        kids = [c for c in scope.element_children() if c.parent is not None]
        depth += 1
    tail = kids[-6:]
    bio = None
    for k in tail:
        t = _text(k).strip()
        if _BIO_SENTENCE_RE.match(t) and _words(t) <= 60:
            bio = k
            break
    if bio is None:
        return
    has_marker = False
    for k in tail:
        for a in k.iter_elements():
            if a.tag == "a" and _PROFILE_HOST_RE.match(a.get("href") or ""):
                has_marker = True
    if not has_marker:
        return
    idx = kids.index(bio)
    start = idx
    # the avatar image block directly above the bio belongs to the card
    if idx > 0 and _bare_image_block(kids[idx - 1]):
        start = idx - 1
    for k in kids[start:]:
        t = _text(k).strip()
        if k is bio or not t or _words(t) <= 8 \
                or any(a.tag == "a" and _PROFILE_HOST_RE.match(
                    a.get("href") or "") for a in k.iter_elements()) \
                or _bare_image_block(k):
            if k.parent is not None:
                k.detach()


def _drop_trailing_disclaimer(root: Node) -> None:
    """A trailing legal-disclaimer block (class *disclaimer*) is boilerplate
    even when it holds most of the page's text, and must go in the
    low-content retry too (entry-point--js-article-content fixture)."""
    scope = _scope_of(root)
    kids = scope.element_children()
    for k in reversed(kids[-3:]):
        if k.parent is None:
            continue
        cls = (k.get("class") or "").lower()
        if "disclaimer" in cls:
            k.detach()


def _drop_contentless_headings(root: Node) -> None:
    """Headings whose section lost all its content to removal passes
    (hidden--nodes: `display:none` / `hidden` paragraphs leave their h2s
    orphaned) render as dangling headers — drop them."""
    heads = [n for n in root.iter_elements()
             if n.tag in ("h2", "h3", "h4", "h5", "h6")]
    if not heads:
        return
    order = [n for n in root.iter() if n.type in (ELEMENT, TEXT)]
    pos = {id(n): i for i, n in enumerate(order)}
    # nodes with a heading ancestor, from one pass instead of an ancestor
    # walk per text node. This pass only detaches headings and wrappers
    # holding nothing but one heading, so text it still inspects keeps
    # the same answer.
    in_heading = descendants_under(root, _HEADING_TAGS, include_text=True)
    # Suffix precompute — content_next[i] = smallest j >= i holding real
    # content. Makes the common (non-orphan) path O(nodes) total instead
    # of O(headings x nodes), which mattered on TOC-heavy documents (a
    # page with thousands of headings re-scanned the tail per heading).
    # The predicate is stable under this pass's own detaches: a detached
    # heading keeps its internal parent chain, so text under it still
    # counts — exactly the behavior of the previous lazy scan.
    n_nodes = len(order)
    content_next = [n_nodes] * (n_nodes + 1)
    nxt = n_nodes
    for i in range(n_nodes - 1, -1, -1):
        n = order[i]
        if (n.type == TEXT and n.text.strip()
                and n not in in_heading) or \
           (n.type == ELEMENT and n.tag in ("img", "table", "pre",
                                            "iframe", "video", "math")):
            nxt = i
        content_next[i] = nxt
    for h in reversed(heads):
        if h.parent is None or id(h) not in pos:
            continue
        if h.text_content().strip().lower() in (
                "references", "notes", "footnotes", "endnotes",
                "external links", "see also"):
            continue  # section lists render out-of-band (footnote defs)
        # a heading tagged `data-trek-orphaned` had its section emptied by a
        # REMOVAL pass (elementor heading widget whose sibling map/grid
        # widgets were stripped) — judge it by its own section only, i.e.
        # content up to the next heading of same-or-higher level.  Unmarked
        # headings were authored that way (lesswrong "Appendix" introduces
        # later sibling sections) and only drop when fully trailing.
        orphaned = h.get("data-trek-orphaned") == "1"
        level = int(h.tag[1])
        h_end = max((pos[id(d)] for d in h.iter() if id(d) in pos),
                    default=pos[id(h)])
        if orphaned:
            # bounded scan: the orphan rule stops at the next
            # same-or-higher heading, so this walk is section-local
            h_sub = {id(d) for d in h.iter()}
            has_content = False
            for n in order[h_end + 1:]:
                if id(n) in h_sub or n.parent is None:
                    continue
                if n.type == ELEMENT and n.tag in _HEADING_TAGS \
                        and int(n.tag[1]) <= level:
                    break
                if n.type == TEXT and n.text.strip() \
                        and n not in in_heading:
                    has_content = True
                    break
                if n.type == ELEMENT and n.tag in ("img", "table", "pre",
                                                   "iframe", "video",
                                                   "math"):
                    has_content = True
                    break
        else:
            has_content = content_next[h_end + 1] < n_nodes
        if not has_content:
            h.detach()
            continue
        # wrapper-emptied rule: a heading whose enclosing section wrapper
        # lost every other child to removals (elementor heading widget
        # next to removed map/grid widgets) is equally dangling
        top = h
        while top.parent is not None and top.parent.type == ELEMENT \
                and top.parent.tag in ("div", "section", "header") \
                and not any(
                    (c.type == TEXT and c.text.strip())
                    or (c.type == ELEMENT and c is not top)
                    for c in top.parent.children):
            top = top.parent
        if top is h:
            # the detach below requires top is not h — skip the (costly)
            # sibling text walks entirely for the common unwrapped case
            continue
        par = top.parent
        if par is None or par.type != ELEMENT \
                or par.tag not in ("div", "section"):
            continue
        others = False
        for c in par.children:
            if c is top:
                continue
            if c.type == TEXT and c.text.strip():
                others = True
                break
            if c.type == ELEMENT and (c.text_content().strip()
                                      or _has_media(c)):
                others = True
                break
        if not others:
            h.detach()


def _is_footnote_ref_sup(n: Node) -> bool:
    if n.tag != "sup":
        return False
    for a in [d for d in n.iter_elements() if d.tag == "a"]:
        href = a.get("href") or ""
        if href.startswith("#") and (
                "cite_note" in href or href.startswith("#fn")
                or "footnote" in href):
            return True
    return False


def _ref_targets(n: Node) -> list[str]:
    return [a.get("href") for a in n.iter_elements()
            if a.tag == "a" and (a.get("href") or "").startswith("#")]


def _drop_trailing_duplicate_citation_paragraph(root: Node) -> None:
    """A trailing stub paragraph whose ONLY citation re-cites an
    already-cited source is reference-section commentary, not body prose —
    the golden corpus (Defuddle behavior, footnotes--wikipedia-references)
    drops it. Strictly scoped: the paragraph must (a) be the last body
    block before the reference list / end of document, (b) be short
    (< 20 words), (c) end with a footnote ref, and (d) cite only targets
    an EARLIER paragraph already cited."""
    order = [n for n in root.iter_elements()]
    last = None
    for n in reversed(order):
        if n.tag == "p" and n.parent is not None:
            last = n
            break
    if last is None:
        return
    # (a) nothing but reference-list material (or empty wrappers that
    # merely contain it) may follow the candidate in document order
    own = {id(d) for d in last.iter()}
    pos = {id(n): i for i, n in enumerate(order)}
    def _is_ref_container(k: Node) -> bool:
        cls = (k.get("class") or "").lower()
        return ("references" in cls or "footnote" in cls
                or "reflist" in cls)
    for n in order[pos[id(last)] + 1:]:
        if id(n) in own or n.parent is None:
            continue
        if _is_ref_container(n):
            continue
        if any(a.type == ELEMENT and _is_ref_container(a)
               for a in n.ancestors()):
            continue
        if n.type == ELEMENT and not n.text_content().strip():
            continue  # empty wrapper / hr / br
        return
    sups = [d for d in last.iter_elements() if _is_footnote_ref_sup(d)]
    if not sups:
        return
    # (c) the paragraph must END with the ref (no trailing prose)
    tail = last.text_content().strip()
    sup_txt = sups[-1].text_content().strip()
    if sup_txt and not tail.endswith(sup_txt):
        return
    # (b) short, citation-stub length
    words = _words(tail)
    if words >= 20:
        return
    # (d) every citation target already cited by an earlier element
    own = {id(d) for d in last.iter()}
    earlier_targets = set()
    for n in root.iter_elements():
        if id(n) in own:
            continue
        if n is last:
            break
        if _is_footnote_ref_sup(n):
            earlier_targets.update(_ref_targets(n))
    targets = set()
    for s in sups:
        targets.update(_ref_targets(s))
    if not targets or not targets <= earlier_targets:
        return
    last.detach()


def run_post(root: Node, title: str = "") -> None:
    small_images(root)
    _drop_leading_nav_images(root, title)
    content_boundary_cleanup(root, title)
    metadata_block(root)
    content_patterns(root)
    scoring(root)
    # after scoring removes embed cards, label-between-hrs shapes surface
    _drop_hr_label_widgets(root)
    _drop_trailing_disclaimer(root)
    _drop_trailing_duplicate_citation_paragraph(root)
    _drop_contentless_headings(root)
