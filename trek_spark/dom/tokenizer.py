"""One-shot HTML tokenizer — a drop-in fast path for stdlib html.parser.

Byte-for-byte behavioral parity with ``html.parser.HTMLParser``
(convert_charrefs=True) driving the same handler callbacks, specialized for
the one-shot case (whole document in memory, ``feed(html); close()``):

* no incremental-feed bookkeeping: no ``updatepos`` line/column tracking, no
  rawdata re-slicing between calls, no buffer-boundary waits — constructs
  that stdlib defers with ``-1`` (possibly split across feeds) are resolved
  immediately with the ``goahead(end=1)`` recovery rules;
* the stdlib's own compiled tolerant regexes are imported, so tag/attribute
  tokenization is literally the same automaton;
* text fast path: segments without ``&`` skip :func:`html.unescape`.

Parity is enforced by tests/test_tokenizer_parity.py, which parses the whole
golden corpus plus adversarial cases with BOTH tokenizers and asserts
identical serialized trees. The pipeline was ~30% tokenization
(BENCH/BASELINE.md); this removes the stdlib driver overhead while keeping
its semantics.

Replicated quirks (deliberate, for parity): script/style raw-text mode only
(no textarea/title RCDATA), unclosed raw-text content at EOF is dropped,
``<tag/>`` start-end tags do not enter raw-text mode, unknown marked-section
keywords abort the parse (stdlib raises AssertionError through ``feed``,
which the caller swallows), bogus comments from ``</`` + non-letter and
``<!`` + unknown emit ``handle_comment``.
"""

from __future__ import annotations

import re
from html import unescape

# the stdlib's own tolerant automatons — module-level names since 3.5;
# local copies (same patterns, CPython Lib/html/parser.py) as fallback so
# a stdlib layout change degrades to identical behavior, not ImportError
try:
    from html.parser import (
        attrfind_tolerant,
        locatestarttagend_tolerant,
        tagfind_tolerant,
    )
except ImportError:  # pragma: no cover - future-stdlib guard
    tagfind_tolerant = re.compile(
        r"([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*")
    attrfind_tolerant = re.compile(
        r"((?<=[\'\"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*"
        r"(\'[^\']*\'|\"[^\"]*\"|(?![\'\"])[^>\s]*))?(?:\s|/(?!>))*")
    locatestarttagend_tolerant = re.compile(r"""
      <[a-zA-Z][^\t\n\r\f />\x00]*       # tag name
      (?:[\s/]*                          # optional whitespace before attribute name
        (?:(?<=['"\s/])[^\s/>][^\s/=>]*  # attribute name
          (?:\s*=+\s*                    # value indicator
            (?:'[^']*'                   # LITA-enclosed value
              |"[^"]*"                   # LIT-enclosed value
              |(?!['"])[^>\s]*           # bare value
             )
            \s*                          # possibly followed by a space
           )?(?:\s|/(?!>))*
         )*
       )?
      \s*                                # trailing whitespace
    """, re.VERBOSE)

# One-pass fast path for the dominant well-formed start-tag shape:
# simple tag name, attrs that are `\s+ name` or `\s+ name = 'v'|"v"`
# (quoted or valueless ONLY — bare values fall through to the tolerant
# slow path, whose `/>`-vs-bare-value ambiguity this shape cannot
# express). For any input this matches, the tolerant automatons parse
# the identical tag/attr/endpos — the attr region is still handed to
# attrfind_tolerant itself, so attribute semantics (=+, unescape,
# lowercasing) cannot diverge; the fast path only skips the redundant
# locatestarttagend + tagfind rescans (the tag text was scanned ~3x).
_faststart = re.compile(
    r"<([a-zA-Z][a-zA-Z0-9-]*)"
    r"((?:\s+[a-zA-Z_:@][^\s/=>]*"
    r"(?:\s*=\s*(?:'[^']*'|\"[^\"]*\"))?)*)"
    r"\s*(/?)>")
_ws_skip = re.compile(r"\s*")

_commentclose = re.compile(r"--\s*>")
_markedsectionclose = re.compile(r"]\s*]\s*>")
_msmarkedsectionclose = re.compile(r"]\s*>")
_declname = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")
_endtagfind = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
_cdata_close = {
    elem: re.compile(r"</\s*%s\s*>" % elem, re.I)
    for elem in ("script", "style")
}
_CDATA_CONTENT_ELEMENTS = ("script", "style")
_LETTERS_EQ_SLASH = frozenset(
    "abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ")


class _Abort(Exception):
    """Mirror of the stdlib AssertionError escape on malformed marked
    sections: stops tokenization at that point (the caller's tolerant
    wrapper treats the document as truncated there, exactly like feeding
    HTMLParser the same bytes)."""


def scan(rawdata: str, h) -> None:
    """Tokenize ``rawdata`` fully, invoking html.parser-compatible hooks on
    ``h``: handle_starttag/startendtag/endtag/data/comment/decl/
    unknown_decl/pi."""
    i, n = 0, len(rawdata)
    find = rawdata.find
    startswith = rawdata.startswith
    handle_data = h.handle_data
    cdata_elem: str | None = None

    def eof_recover(start: int) -> int:
        # goahead(end=1): an unterminated construct becomes data up to the
        # next '>' (inclusive) else next '<' else one char
        k = find(">", start + 1)
        if k < 0:
            k = find("<", start + 1)
            if k < 0:
                k = start + 1
        else:
            k += 1
        seg = rawdata[start:k]
        if cdata_elem is None:
            if "&" in seg:
                seg = unescape(seg)
        handle_data(seg)
        return k

    def scan_name(j: int) -> tuple[str | None, int]:
        if j == n:
            return None, -1
        m = _declname.match(rawdata, j)
        if not m:
            raise _Abort
        s = m.group()
        if j + len(s) == n:
            return None, -1  # name runs to EOF: incomplete
        return s.strip().lower(), m.end()

    def parse_starttag(start: int) -> int:
        nonlocal cdata_elem
        fm = _faststart.match(rawdata, start)
        if fm is not None:
            tag = fm.group(1).lower()
            attrs = []
            a_lo, a_hi = fm.span(2)
            if a_lo < a_hi:
                # group 2 leads with \s+ (tagfind's tail consumed this
                # in the slow path — attrfind's lookbehind needs it
                # BEHIND k, not at k)
                k = _ws_skip.match(rawdata, a_lo).end()
                while k < a_hi:
                    am = attrfind_tolerant.match(rawdata, k)
                    if not am:  # pragma: no cover - shape guarantees match
                        break
                    attrname, rest, attrvalue = am.group(1, 2, 3)
                    if not rest:
                        attrvalue = None
                    elif attrvalue[:1] == "'" == attrvalue[-1:] or \
                            attrvalue[:1] == '"' == attrvalue[-1:]:
                        attrvalue = attrvalue[1:-1]
                    if attrvalue and "&" in attrvalue:
                        attrvalue = unescape(attrvalue)
                    attrs.append((attrname.lower(), attrvalue))
                    k = am.end()
            if fm.group(3):
                h.handle_startendtag(tag, attrs)
            else:
                h.handle_starttag(tag, attrs)
                if tag in _CDATA_CONTENT_ELEMENTS:
                    cdata_elem = tag
            return fm.end()
        m = locatestarttagend_tolerant.match(rawdata, start)
        j = m.end()
        nxt = rawdata[j:j + 1]
        if nxt == ">":
            endpos = j + 1
        elif nxt == "/":
            if startswith("/>", j):
                endpos = j + 2
            else:
                return -1
        elif nxt == "":
            return -1
        elif nxt in _LETTERS_EQ_SLASH:
            return -1
        else:
            endpos = j if j > start else start + 1
        tm = tagfind_tolerant.match(rawdata, start + 1)
        k = tm.end()
        tag = tm.group(1).lower()
        attrs = []
        # fast path: `<div>` / `<div >` — k already sits on the closing
        # char(s); skip the (guaranteed-failing) attrfind attempt
        while k < endpos - 1:
            am = attrfind_tolerant.match(rawdata, k)
            if not am:
                break
            attrname, rest, attrvalue = am.group(1, 2, 3)
            if not rest:
                attrvalue = None
            elif attrvalue[:1] == "'" == attrvalue[-1:] or \
                    attrvalue[:1] == '"' == attrvalue[-1:]:
                attrvalue = attrvalue[1:-1]
            if attrvalue:
                attrvalue = unescape(attrvalue)
            attrs.append((attrname.lower(), attrvalue))
            k = am.end()
        # fast path: attrs consumed exactly up to '>' (the dominant tag
        # shape) — skip the per-tag slice + strip allocation
        if k == endpos - 1 and rawdata[k] == ">":
            end = ">"
        else:
            end = rawdata[k:endpos].strip()
            if end not in (">", "/>"):
                handle_data(rawdata[start:endpos])
                return endpos
        if end.endswith("/>"):
            h.handle_startendtag(tag, attrs)
        else:
            h.handle_starttag(tag, attrs)
            if tag in _CDATA_CONTENT_ELEMENTS:
                cdata_elem = tag
        return endpos

    def parse_endtag(start: int) -> int:
        nonlocal cdata_elem
        gt = find(">", start + 1)
        if gt < 0:
            return -1
        gtpos = gt + 1
        m = _endtagfind.match(rawdata, start)
        if not m:
            if cdata_elem is not None:
                handle_data(rawdata[start:gtpos])
                return gtpos
            nm = tagfind_tolerant.match(rawdata, start + 2)
            if not nm:
                if rawdata[start:start + 3] == "</>":
                    return start + 3
                return parse_bogus_comment(start)
            tagname = nm.group(1).lower()
            gtpos = find(">", nm.end())
            h.handle_endtag(tagname)
            return gtpos + 1
        elem = m.group(1).lower()
        if cdata_elem is not None and elem != cdata_elem:
            handle_data(rawdata[start:gtpos])
            return gtpos
        h.handle_endtag(elem)
        cdata_elem = None
        return gtpos

    def parse_bogus_comment(start: int) -> int:
        pos = find(">", start + 2)
        if pos == -1:
            return -1
        h.handle_comment(rawdata[start + 2:pos])
        return pos + 1

    def parse_declaration(start: int) -> int:
        if startswith("<!--", start):
            m = _commentclose.search(rawdata, start + 4)
            if not m:
                return -1
            h.handle_comment(rawdata[start + 4:m.start()])
            return m.end()
        if startswith("<![", start):
            name, j = scan_name(start + 3)
            if j < 0:
                return j
            if name in ("temp", "cdata", "ignore", "include", "rcdata"):
                m = _markedsectionclose.search(rawdata, start + 3)
            elif name in ("if", "else", "endif"):
                m = _msmarkedsectionclose.search(rawdata, start + 3)
            else:
                raise _Abort  # stdlib: AssertionError through feed()
            if not m:
                return -1
            h.unknown_decl(rawdata[start + 3:m.start()])
            return m.end()
        if rawdata[start:start + 9].lower() == "<!doctype":
            gt = find(">", start + 9)
            if gt == -1:
                return -1
            h.handle_decl(rawdata[start + 2:gt])
            return gt + 1
        return parse_bogus_comment(start)

    try:
        while i < n:
            # ---- text run up to the next interesting position ----
            if cdata_elem is None:
                j = find("<", i)
                if j < 0:
                    j = n
                if i < j:
                    seg = rawdata[i:j]
                    if "&" in seg:
                        seg = unescape(seg)
                    handle_data(seg)
            else:
                m = _cdata_close[cdata_elem].search(rawdata, i)
                if m is None:
                    return  # unclosed raw text at EOF: dropped (parity)
                j = m.start()
                if i < j:
                    handle_data(rawdata[i:j])
            i = j
            if i == n:
                break
            # ---- markup dispatch: rawdata[i] == '<' ----
            c = rawdata[i + 1:i + 2]
            if c.isascii() and c.isalpha():
                k = parse_starttag(i)
            elif c == "/":
                k = parse_endtag(i)
            elif c == "?":
                gt = find(">", i + 2)
                if gt < 0:
                    k = -1
                else:
                    h.handle_pi(rawdata[i + 2:gt])
                    k = gt + 1
            elif c == "!":
                k = parse_declaration(i)
            elif i + 1 < n:
                handle_data("<")
                k = i + 1
            else:
                handle_data("<")  # lone trailing '<' (goahead end block)
                break
            if k < 0:
                i = eof_recover(i)
            else:
                i = k
    except _Abort:
        return
