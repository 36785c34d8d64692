"""Lightweight mutable DOM tree for the extraction pipeline.

Fills the role kuchikiki's ``NodeRef`` tree plays in the reference
(officialunofficial/trek ``src/dom/mod.rs:44-63``): a mutable node tree the
normalization passes edit in place, then serialize back to HTML. Built fresh
on Python stdlib only (no lxml/bs4 in the runtime image); tuned for use inside
Arrow-batched pandas UDFs, so nodes are __slots__ objects and traversals are
iterative (no recursion limits on deep real-world DOMs).
"""

from __future__ import annotations

from typing import Iterator, Optional

ELEMENT = 1
TEXT = 3
COMMENT = 8
DOCUMENT = 9

# Void elements per the HTML spec (serialized without end tags).
VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# Elements whose text content is raw (no entity escaping on serialize).
RAWTEXT_ELEMENTS = frozenset(("script", "style"))


# Global structural-mutation tick. Bumped by every tree mutation; the
# iter()/iter_elements() snapshot caches are valid only while it is
# unchanged. Conservative (any mutation anywhere invalidates every cache)
# but cheap, and most pass chains are long runs of read-only scans over
# unchanged trees.
_TICK = 0


def bump_tick() -> None:
    """Invalidate all snapshot/text caches. Must be called by any code
    that mutates a TEXT node's ``.text`` in place (tree-shape mutations
    bump the tick themselves)."""
    global _TICK
    _TICK += 1


#: tick-keyed memo for post_order_elements — same invalidation
#: discipline as the per-node iterator snapshots (any mutation bumps
#: _TICK); the extract passes re-walk unmutated trees constantly
_postorder_memo: dict = {}
_postorder_tick = [-1]


def post_order_elements(root: "Node") -> list:
    """Element post-order as a snapshot list (children before parent,
    right-to-left siblings — reversed pre-order, the order the extract
    passes were tuned against). Shared, tick-memoized: passes.py,
    code_blocks.py and removals_post.py all walk this exact order."""
    if _TICK != _postorder_tick[0]:
        _postorder_memo.clear()
        _postorder_tick[0] = _TICK
    memo = _postorder_memo.get(root)
    if memo is not None:
        return memo
    out = [root]
    stack = []
    spush = stack.append
    for c in reversed(root.children):
        if c.type == ELEMENT:
            spush(c)
    pop = stack.pop
    append = out.append
    while stack:
        n = pop()
        append(n)
        for c in reversed(n.children):
            if c.type == ELEMENT:
                spush(c)
    out.reverse()
    _postorder_memo[root] = out
    return out


def release_memos() -> None:
    """Drop the memo's hold on the last walked tree. Called when a
    document is done, so its tree is unreachable garbage at the worker's
    per-document gen-0 sweep instead of surviving it into an older
    generation that is not collected until the task ends."""
    bump_tick()
    _postorder_memo.clear()


class Node:
    __slots__ = ("type", "tag", "attrs", "children", "parent", "text",
                 "_snap_tick", "_snap_all", "_snap_el", "_snap_text")

    def __init__(self, type_: int, tag: str = "", text: str = ""):
        self.type = type_
        self.tag = tag
        self.attrs: Optional[dict] = {} if type_ == ELEMENT else None
        self.children: list[Node] = []
        self.parent: Optional[Node] = None
        self.text = text
        self._snap_tick = -1
        self._snap_all = None
        self._snap_el = None
        self._snap_text = None

    # -- construction ----------------------------------------------------
    @staticmethod
    def element(tag: str, attrs: Optional[dict] = None) -> "Node":
        n = Node(ELEMENT, tag)
        if attrs:
            n.attrs = attrs
        return n

    @staticmethod
    def text_node(data: str) -> "Node":
        return Node(TEXT, text=data)

    @staticmethod
    def comment(data: str) -> "Node":
        return Node(COMMENT, text=data)

    @staticmethod
    def document() -> "Node":
        return Node(DOCUMENT)

    # -- attrs -----------------------------------------------------------
    def get(self, name: str, default=None):
        if self.attrs is None:
            return default
        return self.attrs.get(name, default)

    def set(self, name: str, value: str) -> None:
        if self.attrs is None:
            self.attrs = {}
        self.attrs[name] = value

    def del_attr(self, name: str) -> None:
        if self.attrs is not None:
            self.attrs.pop(name, None)

    def classes(self) -> list[str]:
        a = self.attrs
        if a is None:
            return []
        c = a.get("class")
        return c.split() if c else []

    def has_class(self, name: str) -> bool:
        a = self.attrs
        if a is None:
            return False
        c = a.get("class")
        # substring precheck: a token can't be present unless its text is —
        # skips the split() allocation for the dominant negative case
        if not c or name not in c:
            return False
        return name in c.split()

    def id(self) -> str:
        return self.get("id") or ""

    # -- tree mutation ---------------------------------------------------
    def append(self, child: "Node") -> None:
        global _TICK
        _TICK += 1
        if child.parent is not None:
            child.detach()
        child.parent = self
        self.children.append(child)

    def insert(self, idx: int, child: "Node") -> None:
        global _TICK
        _TICK += 1
        if child.parent is not None:
            child.detach()
        child.parent = self
        self.children.insert(idx, child)

    def detach(self) -> None:
        global _TICK
        _TICK += 1
        p = self.parent
        if p is not None:
            try:
                p.children.remove(self)
            except ValueError:
                pass
            self.parent = None

    def index_in_parent(self) -> int:
        p = self.parent
        if p is None:
            return -1
        for i, c in enumerate(p.children):
            if c is self:
                return i
        return -1

    def insert_before(self, new: "Node") -> None:
        p = self.parent
        if p is None:
            return
        idx = self.index_in_parent()
        p.insert(idx, new)

    def insert_after(self, new: "Node") -> None:
        p = self.parent
        if p is None:
            return
        idx = self.index_in_parent()
        p.insert(idx + 1, new)

    def replace_with(self, new: "Node") -> None:
        self.insert_before(new)
        self.detach()

    def unwrap(self) -> None:
        """Replace this element with its children (splice in place)."""
        global _TICK
        _TICK += 1
        p = self.parent
        if p is None:
            return
        idx = self.index_in_parent()
        kids = list(self.children)
        for k in kids:
            k.parent = p
        self.children = []
        p.children[idx : idx + 1] = kids
        self.parent = None

    def clear_children(self) -> None:
        global _TICK
        _TICK += 1
        for c in self.children:
            c.parent = None
        self.children = []

    # -- traversal -------------------------------------------------------
    def iter(self) -> list["Node"]:
        """Pre-order traversal including self, as a snapshot list.

        Eager on purpose: generator resumption dominated the per-document
        profile (~30% of parse time at 4M+ next() calls per corpus pass).
        A snapshot list is one C-level loop, and gives mutation-safe
        iteration for free. Nodes attached mid-iteration are not visited —
        passes that need to see their own insertions re-walk explicitly.
        """
        if self._snap_tick == _TICK and self._snap_all is not None:
            return self._snap_all
        out = [self]
        stack = list(self.children)
        stack.reverse()
        pop = stack.pop
        append = out.append
        spush = stack.append
        while stack:
            n = pop()
            append(n)
            cs = n.children
            if cs:
                if len(cs) == 1:
                    spush(cs[0])
                else:
                    for c in reversed(cs):  # no [::-1] copy per node
                        spush(c)
        self._snap_tick = _TICK
        self._snap_all = out
        self._snap_el = None
        self._snap_text = None
        return out

    def iter_elements(self) -> list["Node"]:
        """Pre-order element snapshot. Walks the element-only subgraph —
        text/comment nodes have no children, so they never need to enter
        the traversal stack."""
        if self._snap_tick == _TICK and self._snap_el is not None:
            return self._snap_el
        out = []
        if self.type == ELEMENT:
            out.append(self)
        # single reversed pass pushing straight onto the stack — the
        # filter-listcomp + reverse + extend shape allocated two interim
        # lists per node (measured: ~8% of iter_elements self-time)
        stack = []
        spush = stack.append
        for c in reversed(self.children):
            if c.type == ELEMENT:
                spush(c)
        pop = stack.pop
        append = out.append
        while stack:
            n = pop()
            append(n)
            for c in reversed(n.children):
                if c.type == ELEMENT:
                    spush(c)
        if self._snap_tick != _TICK:
            self._snap_all = None
            self._snap_text = None
        self._snap_tick = _TICK
        self._snap_el = out
        return out

    def descendants_snapshot(self) -> list["Node"]:
        """Materialized pre-order element list — safe while mutating the tree."""
        return self.iter_elements()

    def ancestors(self) -> Iterator["Node"]:
        n = self.parent
        while n is not None:
            yield n
            n = n.parent

    def element_children(self) -> list["Node"]:
        return [c for c in self.children if c.type == ELEMENT]

    def prev_sibling(self) -> Optional["Node"]:
        p = self.parent
        if p is None:
            return None
        i = self.index_in_parent()
        return p.children[i - 1] if i > 0 else None

    def next_sibling(self) -> Optional["Node"]:
        p = self.parent
        if p is None:
            return None
        i = self.index_in_parent()
        return p.children[i + 1] if 0 <= i < len(p.children) - 1 else None

    def prev_element_sibling(self) -> Optional["Node"]:
        n = self.prev_sibling()
        while n is not None and n.type != ELEMENT:
            n = n.prev_sibling()
        return n

    def next_element_sibling(self) -> Optional["Node"]:
        n = self.next_sibling()
        while n is not None and n.type != ELEMENT:
            n = n.next_sibling()
        return n

    def find_first(self, *tags: str) -> Optional["Node"]:
        tagset = frozenset(tags)
        for n in self.iter():
            if n.type == ELEMENT and n.tag in tagset:
                return n
        return None

    def has_ancestor_tag(self, *tags: str) -> bool:
        tagset = frozenset(tags)
        for a in self.ancestors():
            if a.type == ELEMENT and a.tag in tagset:
                return True
        return False

    # -- text ------------------------------------------------------------
    def text_content(self) -> str:
        if self.type == TEXT:
            return self.text
        cs = self.children
        # fast paths for the two dominant shapes: leaf elements and
        # single-text-child elements (most inline nodes)
        if not cs:
            return ""
        if len(cs) == 1:
            c = cs[0]
            if c.type == TEXT:
                return c.text
        # tick-snapshot like iter()/iter_elements(): the ~25 DOM passes
        # re-ask the same subtrees for text between mutations (direct
        # text edits call bump_tick(), so in-place edits invalidate too)
        if self._snap_tick == _TICK and self._snap_text is not None:
            return self._snap_text
        parts = []
        stack = [self]
        while stack:
            n = stack.pop()
            if n.type == TEXT:
                parts.append(n.text)
            else:
                stack.extend(reversed(n.children))
        out = "".join(parts)
        if self._snap_tick != _TICK:
            self._snap_all = None
            self._snap_el = None
        self._snap_tick = _TICK
        self._snap_text = out
        return out

    def __repr__(self):  # pragma: no cover - debug aid
        if self.type == ELEMENT:
            return f"<Node {self.tag} attrs={self.attrs} kids={len(self.children)}>"
        if self.type == TEXT:
            return f"<Text {self.text[:30]!r}>"
        if self.type == COMMENT:
            return f"<Comment {self.text[:30]!r}>"
        return "<Document>"


def descendants_under(root: Node, tags: frozenset,
                      include_text: bool = False) -> set:
    """Nodes of ``root``'s subtree (``root`` included) that have an
    ancestor element whose tag is in ``tags``: elements only, or text and
    comment nodes too with ``include_text``.

    One traversal for a whole pass, where an ancestor walk per node is
    quadratic in nesting depth. Each matching subtree is added once: a
    matching element already in the set had its whole subtree added by
    an ancestor. The set stays exact while a pass unwraps or removes
    elements whose tag is not in ``tags`` (an unwrapped wrapper hands its
    children a parent with the same ancestry)."""
    walk = Node.iter if include_text else Node.iter_elements
    if root.has_ancestor_tag(*tags):
        return set(walk(root))
    inside: set = set()
    for n in root.iter_elements():
        if n.tag in tags and n not in inside:
            inside.update(walk(n)[1:])
    return inside


def _escape_text(s: str) -> str:
    if "&" in s:
        s = s.replace("&", "&amp;")
    if "<" in s:
        s = s.replace("<", "&lt;")
    if ">" in s:
        s = s.replace(">", "&gt;")
    return s


def _escape_attr(s: str) -> str:
    if "&" in s:
        s = s.replace("&", "&amp;")
    if '"' in s:
        s = s.replace('"', "&quot;")
    return s


def serialize(node: Node, include_self: bool = True) -> str:
    """Serialize a node (sub)tree back to HTML.

    html5ever-serializer-compatible output shape (reference serializes via
    ``src/dom/mod.rs:55-63``): double-quoted attributes, void elements without
    end tags, raw text inside script/style.
    """
    out: list[str] = []
    # Stack of (node, entered) for iterative serialization with end tags.
    if include_self or node.type != ELEMENT and node.type != DOCUMENT:
        start: list = [(node, False)]
    else:
        start = [(c, False) for c in reversed(node.children)]
    stack = start
    raw_depth = 0
    while stack:
        n, entered = stack.pop()
        if entered:
            out.append(f"</{n.tag}>")
            if n.tag in RAWTEXT_ELEMENTS:
                raw_depth -= 1
            continue
        t = n.type
        if t == TEXT:
            out.append(n.text if raw_depth else _escape_text(n.text))
        elif t == COMMENT:
            out.append(f"<!--{n.text}-->")
        elif t == DOCUMENT:
            stack.extend((c, False) for c in reversed(n.children))
        else:  # ELEMENT
            attrs = n.attrs
            if attrs:
                abits = []
                for k, v in attrs.items():
                    abits.append(f' {k}="{_escape_attr(v)}"' if v != "" else f' {k}=""')
                out.append(f"<{n.tag}{''.join(abits)}>")
            else:
                out.append(f"<{n.tag}>")
            if n.tag not in VOID_ELEMENTS:
                stack.append((n, True))
                if n.tag in RAWTEXT_ELEMENTS:
                    raw_depth += 1
                stack.extend((c, False) for c in reversed(n.children))
    return "".join(out)


def inner_html(node: Node) -> str:
    return "".join(serialize(c) for c in node.children)
