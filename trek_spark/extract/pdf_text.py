"""Layout-ordered text extraction from PDF bytes — stdlib only.

The reference library has no PDF path (SURVEY §2 note: grep `pdf` over the
reference → no hits); this branch comes from the graft north star ("each
turn's text payload (HTML fragments, embedded PDFs via layout parse)"). The
container has no PDF libraries, so this is a real, minimal PDF content
parser built on the public PDF 1.x format:

* objects are scanned directly (no xref needed — robust to the truncated
  or appended-to files common in crawled data);
* stream objects declaring ``/FlateDecode`` are inflated with :mod:`zlib`
  (the stdlib carries the codec PDF uses);
* text-showing operators (``Tj``, ``TJ``, ``'``, ``"``) inside ``BT…ET``
  blocks are evaluated with the text-positioning state machine (``Tm``,
  ``Td``, ``TD``, ``T*``) so output is LAYOUT-ordered: lines grouped by
  baseline y (descending — PDF y grows upward), reading order within a
  line preserved;
* PDF string syntax is handled: escapes, octal codes, balanced parens,
  hex strings; text is decoded as Latin-1 (the default simple-font case;
  CID/Unicode-mapped fonts are out of scope and degrade to best-effort
  bytes, never an exception).

Scope: simple generated PDFs (reports, exports, print-to-PDF) — the shape
that appears embedded in transcripts. Scanned/image PDFs yield no text by
construction (there is no OCR path).
"""

from __future__ import annotations

import re
import zlib

_STREAM_KW_RE = re.compile(rb">>\s*stream\r?\n")

#: Inflation cap per Flate stream: crawled PDFs are hostile input, and an
#: unbounded ``zlib.decompress`` lets a KB-sized bomb inflate to GBs
#: inside the extraction UDF (executor OOM). 64 MiB is far above any real
#: content stream; a stream that still has input left at the cap is a
#: bomb and is skipped entirely rather than truncated.
_MAX_STREAM_BYTES = 64 * 1024 * 1024

# spacing threshold for TJ kerning: offsets more negative than this (in
# thousandths of em) represent an inter-word gap
_TJ_SPACE_GAP = -180.0


def looks_like_pdf(data: bytes) -> bool:
    return data[:5] == b"%PDF-"


#: Backward-scan distance cap for stream-dict balancing: real stream
#: dicts are tens-to-hundreds of bytes; without a cap, a hostile "PDF"
#: full of `>>stream` markers and no `<<` anywhere makes every marker
#: walk back to offset 0 — measured >120 s of pure CPU on one 6 MB doc
#: (quadratic DoS inside the extraction UDF).
_MAX_DICT_SCAN = 64 * 1024


def _balanced_dict_start(data: bytes, close_pos: int) -> int:
    """Index just past the ``<<`` that balances the ``>>`` at
    ``close_pos``, or -1. A lazy ``<<(.*?)>>`` capture misaligns on stream
    dicts containing a NESTED dictionary (``/DecodeParms << ... >>``): the
    captured slice can exclude the outer dict's ``/FlateDecode`` and the
    stream silently decodes as plain bytes — so walk backward with a depth
    counter instead (bounded by ``_MAX_DICT_SCAN``)."""
    floor = max(0, close_pos - _MAX_DICT_SCAN)
    # C-speed precheck: a marker with no `<<` in range (binary garbage
    # that happens to contain `>>stream`) must bail without entering the
    # per-byte Python walk — 3000 such markers in a 6 MB blob cost ~20 s
    # of walking but ~20 ms of rfind
    if data.rfind(b"<<", floor, close_pos) < 0:
        return -1
    # Tokenize backward on MAXIMAL runs of '<'/'>' and count whole pairs
    # per run: a naive every-offset pair window straddles run boundaries
    # when a hex string sits against the dict close (`<</ID<AABB>>>stream`
    # has a 3-'>' run whose lone leading '>' is the hex-string close, not
    # half of a `>>`), silently miscounting depth and skipping the
    # stream. PDF lexing is left-greedy and hex strings cannot contain
    # angle brackets, so within any run the pairs are left-aligned and
    # at most one unpaired hex delimiter remains (run_len // 2 pairs).
    depth = 1
    j = close_pos  # exclusive upper bound of the unscanned region
    while j > floor:
        c = data[j - 1]
        if c == 0x3E:  # '>'
            k = j
            while k > floor and data[k - 1] == 0x3E:
                k -= 1
            depth += (j - k) // 2
            j = k
        elif c == 0x3C:  # '<'
            k = j
            while k > floor and data[k - 1] == 0x3C:
                k -= 1
            pairs = (j - k) // 2
            if pairs >= depth:
                # left-aligned pairs: pair i spans k+2i .. k+2i+1; the
                # one balancing our dict is the depth-th from the right
                return k + 2 * (pairs - depth) + 2
            depth -= pairs
            j = k
        else:
            j -= 1
    return -1


def _content_streams(data: bytes) -> list[bytes]:
    """Every decodable stream body, in document order."""
    out = []
    for m in _STREAM_KW_RE.finditer(data):
        dict_start = _balanced_dict_start(data, m.start())
        if dict_start < 0:
            continue
        sdict = data[dict_start:m.start()]
        start = m.end()
        end = data.find(b"endstream", start)
        if end < 0:
            continue
        body = data[start:end]
        # the spec puts an EOL before `endstream`; strip one if present
        if body.endswith(b"\r\n"):
            body = body[:-2]
        elif body.endswith(b"\n") or body.endswith(b"\r"):
            body = body[:-1]
        if b"FlateDecode" in sdict:
            try:
                dec = zlib.decompressobj()
                body = dec.decompress(body, _MAX_STREAM_BYTES)
                if dec.unconsumed_tail:
                    continue  # inflation bomb: skip, don't truncate
            except zlib.error:
                continue
        out.append(body)
    return out


_ESCAPES = {"n": "\n", "r": "\r", "t": "\t", "b": "\b", "f": "\f",
            "(": "(", ")": ")", "\\": "\\"}


def _decode_pdf_string(raw: str) -> str:
    """Literal-string unescape in one scan: \\n \\r \\t \\b \\f \\( \\)
    \\\\ and octal \\ooo; a backslash before anything else disappears
    (PDF 32000-1 §7.3.4.2)."""
    out = []
    i, n = 0, len(raw)
    while i < n:
        c = raw[i]
        if c != "\\":
            out.append(c)
            i += 1
            continue
        if i + 1 >= n:
            break
        nxt = raw[i + 1]
        if nxt in _ESCAPES:
            out.append(_ESCAPES[nxt])
            i += 2
        elif nxt in "01234567":
            j = i + 1
            while j < min(i + 4, n) and raw[j] in "01234567":
                j += 1
            out.append(chr(int(raw[i + 1:j], 8) & 0xFF))
            i = j
        else:
            i += 1  # lone backslash: dropped
    return "".join(out)


def _tokenize(content: str):
    """Content-stream tokens: literal strings, hex strings, arrays,
    numbers, names, operators."""
    i, n = 0, len(content)
    while i < n:
        c = content[i]
        if c in " \t\r\n":
            i += 1
            continue
        if c == "(":
            depth, j, prev = 1, i + 1, ""
            buf = []
            while j < n and depth:
                ch = content[j]
                if prev == "\\":
                    buf.append("\\" + ch)
                    prev = ""
                elif ch == "\\":
                    prev = "\\"
                elif ch == "(":
                    depth += 1
                    buf.append(ch)
                elif ch == ")":
                    depth -= 1
                    if depth:
                        buf.append(ch)
                else:
                    buf.append(ch)
                j += 1
            yield ("str", _decode_pdf_string("".join(buf)))
            i = j
            continue
        if c == "<" and i + 1 < n and content[i + 1] != "<":
            j = content.find(">", i)
            if j < 0:
                break
            hexstr = re.sub(r"\s", "", content[i + 1:j])
            if len(hexstr) % 2:
                hexstr += "0"
            try:
                yield ("str", bytes.fromhex(hexstr).decode("latin-1"))
            except ValueError:
                pass
            i = j + 1
            continue
        if c in "[]":
            yield ("arr", c)
            i += 1
            continue
        if c == "<":  # '<<' dict — skip to matching '>>' (inline images etc.)
            j = content.find(">>", i)
            i = (j + 2) if j >= 0 else n
            continue
        m = re.match(r"[-+]?\d*\.?\d+", content[i:])
        if m and m.group(0):
            yield ("num", float(m.group(0)))
            i += len(m.group(0))
            continue
        m = re.match(r"/?[A-Za-z'\"*]+", content[i:])
        if m:
            yield ("op", m.group(0))
            i += len(m.group(0))
            continue
        i += 1


def _stream_text_runs(content: bytes) -> list[tuple[float, str]]:
    """(baseline_y, text) runs from one content stream, in stream order."""
    try:
        text = content.decode("latin-1")
    except Exception:  # pragma: no cover - latin-1 decodes any byte
        return []
    if "BT" not in text:
        return []
    runs: list[tuple[float, str]] = []
    y = 0.0
    leading = 0.0
    stack: list = []   # operand stack (numbers / strings)
    in_array: list | None = None
    for kind, val in _tokenize(text):
        if kind == "arr":
            if val == "[":
                in_array = []
            else:
                stack.append(in_array or [])
                in_array = None
            continue
        if kind in ("num", "str"):
            (in_array if in_array is not None else stack).append(val)
            continue
        op = val
        if op == "Tm" and len(stack) >= 6:
            y = float(stack[-1])
            stack.clear()
        elif op in ("Td", "TD") and len(stack) >= 2:
            ty = float(stack[-1])
            y += ty
            if op == "TD":
                leading = -ty
            stack.clear()
        elif op == "TL" and stack:
            leading = float(stack[-1])
            stack.clear()
        elif op == "T*":
            y -= leading
            stack.clear()
        elif op == "Tj" and stack:
            if isinstance(stack[-1], str):
                runs.append((y, stack[-1]))
            stack.clear()
        elif op in ("'", '"'):
            y -= leading
            if stack and isinstance(stack[-1], str):
                runs.append((y, stack[-1]))
            stack.clear()
        elif op == "TJ" and stack:
            arr = stack[-1]
            if isinstance(arr, list):
                parts = []
                for item in arr:
                    if isinstance(item, str):
                        parts.append(item)
                    elif isinstance(item, float) and item < _TJ_SPACE_GAP:
                        parts.append(" ")
                runs.append((y, "".join(parts)))
            stack.clear()
        elif op in ("BT", "ET"):
            stack.clear()
        else:
            # any other operator consumes its operands
            stack.clear()
    return runs


def pdf_to_text(data: bytes) -> str:
    """Layout-ordered plain text of a PDF: pages in document order, lines
    by descending baseline y, glyph runs on a shared baseline joined in
    reading (stream) order with single spaces where runs are separate."""
    pages = []
    for stream in _content_streams(data):
        runs = _stream_text_runs(stream)
        if not runs:
            continue
        # group runs by baseline (rounded to 0.1pt) preserving stream order
        lines: dict[float, list[str]] = {}
        order: list[float] = []
        for yy, s in runs:
            key = round(yy, 1)
            if key not in lines:
                lines[key] = []
                order.append(key)
            lines[key].append(s)
        # sort lines top-to-bottom (PDF y grows upward); stable for ties
        keys = sorted(order, key=lambda k: -k)
        page = "\n".join(" ".join(p for p in lines[k] if p).strip()
                         for k in keys)
        if page.strip():
            pages.append(page)
    return "\n\n".join(pages)


def make_simple_pdf(lines: list[str], compress: bool = False) -> bytes:
    """Deterministic minimal single-page PDF for tests/fixtures: Helvetica
    12pt, one text line per baseline, top-down. Valid per PDF 1.4 (header,
    objects, xref, trailer)."""
    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    content = ["BT", "/F1 12 Tf"]
    ypos = 760
    for line in lines:
        content.append(f"1 0 0 1 72 {ypos} Tm")
        content.append(f"({esc(line)}) Tj")
        ypos -= 16
    content.append("ET")
    body = "\n".join(content).encode("latin-1")
    filt = ""
    if compress:
        body = zlib.compress(body)
        filt = " /Filter /FlateDecode"

    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        (f"<< /Length {len(body)}{filt} >>".encode("latin-1")
         + b"\nstream\n" + body + b"\nendstream"),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, obj in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + obj + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF\n").encode()
    return bytes(out)
