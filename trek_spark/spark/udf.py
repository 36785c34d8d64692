"""Vectorized extraction worker.

The whole per-document pipeline (SURVEY.md §2.1-§2.8) is fused into ONE
Arrow-batched ``mapInPandas`` function, ``extract_map_in_pandas``: zero
per-row Python dispatch at the Spark level — batches cross the JVM↔Python
boundary once as Arrow record batches, and the Python loop inside the batch
is amortized (the reference's per-doc cost dominates; Arrow overhead is
noise).

Each output row carries the ``RESULT_SCHEMA`` columns plus the lineage
columns of ``METRICS_SCHEMA`` (``part_id``, ``batch_idx``, ``doc_bytes``,
``wall_ms``), from which the job derives its metrics side-table.
"""

from __future__ import annotations

import re
import time
import traceback
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..extract.pipeline import trek_parse
from .zip_directories import keep_unchanged_zip_directories

# Every Python stage's UDF unpickles through this module, so each worker
# installs the rule at its first task and skips re-reading unchanged
# zip/jar directories before every later one.
keep_unchanged_zip_directories()

# Arrow-safe result struct (SURVEY.md §1.2 mapping of TrekResponse,
# reference src/types.rs:120-138). schema_org stays JSON-encoded string —
# deeply nested MapTypes are Arrow-hostile.
RESULT_SCHEMA = StructType([
    StructField("extracted_text", StringType()),    # markdown (primary)
    StructField("content_html", StringType()),
    StructField("plain_text", StringType()),        # src/html_to_text.rs
    StructField("title", StringType()),
    StructField("author", StringType()),
    StructField("site", StringType()),
    StructField("published", StringType()),
    StructField("description", StringType()),
    StructField("domain", StringType()),
    StructField("image", StringType()),
    StructField("favicon", StringType()),
    StructField("word_count", IntegerType()),
    StructField("extractor_type", StringType()),
    StructField("parse_time_ms", IntegerType()),
    StructField("error", StringType()),
    StructField("content_spans", ArrayType(StructType([
        StructField("start", IntegerType()),
        StructField("end", IntegerType()),
        StructField("kind", StringType()),
    ]))),
    StructField("meta_tags", ArrayType(StructType([
        StructField("name", StringType()),
        StructField("property", StringType()),
        StructField("content", StringType()),
    ]))),
])

_EMPTY = {f.name: None for f in RESULT_SCHEMA.fields}


_SPAN_TRIM = "#>-*`_ \t"


def compute_content_spans(source: str, markdown: str) -> list[dict]:
    """Best-effort offsets of retained content in the source text.

    For each markdown block, locate its leading text fragment in the source
    to get ``start``, then its trailing fragment (searched after the lead)
    to get ``end`` — both offsets are positions IN THE SOURCE, never
    markdown lengths (markdown length has no meaning as a source offset).
    Invariants, enforced structurally and pytest-checked over the corpus:

    * ``0 <= start < end <= len(source)`` for every span;
    * spans are non-overlapping and strictly monotonic — the cursor
      advances to each span's ``end``, so span *i+1* starts at or after
      span *i* ends.

    Blocks whose text can't be located (rewritten by normalization) are
    skipped; when only the lead matches, the span conservatively covers
    just the matched lead. This gives the per-turn span offsets the north
    star asks for without a full source-map through ~30 DOM passes.
    """
    return _spans_with_attempts(source, markdown)[0]


# Markdown inline syntax the renderer INSERTS (backticks, emphasis,
# link/image brackets, escapes): any of these inside a probe means the
# probe text is not contiguous in the source — truncate there.
_INLINE_BREAK = re.compile(r"[`*\[\]\\|]")
_IMAGE_LEAD = re.compile(r"!\[([^\]]*)\]\(\s*<?([^)\s>]+)")
_LINK_LEAD = re.compile(r"\[([^\]^][^\]]*)\]\(\s*<?([^)\s>]+)")
_FOOTNOTE_LEAD = re.compile(r"\[\^[^\]]+\]:\s*(.*)", re.S)
_ORDERED_LEAD = re.compile(r"\d{1,4}\\?[.)]\s+(.*)", re.S)
_CALLOUT_LEAD = re.compile(r"\[!\w+\][+-]?\s*(.*)", re.S)
_MD_UNESCAPE = re.compile(r"\\([\\`*_{}\[\]()#+.!|>~-])")
_EMPHASIS_SPAN = re.compile(r"\*{1,2}([^*\n]{8,}?)\*{1,2}")
_CODE_SPAN = re.compile(r"`([^`\n]{8,}?)`")
_BRACKET_SPAN = re.compile(r"\[([^\]^\n][^\]\n]{7,}?)\]")
# short variants (>=4 inner chars): last-resort probes for blocks whose
# only verbatim-in-source text is a short emphasized/code token
# ("**contain**", "`Array()`")
_EMPHASIS_SHORT = re.compile(r"\*{1,2}([^*\n]{4,}?)\*{1,2}")
_CODE_SHORT = re.compile(r"`([^`\n]{4,}?)`")
_TOKEN = re.compile(r"[A-Za-z0-9_]{6,}")
# entity-escape boundary: '<' '>' '&' in markdown text are escaped in
# the HTML source, so a probe crossing one can never match verbatim
_ENTITY_BREAK = re.compile(r"[<>&]")


def _fence_aware_blocks(markdown: str) -> list[str]:
    """Split on blank lines, but glue segments inside an open ``` fence
    back together — a code block with internal blank lines is ONE
    retained unit, not several half-blocks whose leads start mid-code."""
    blocks: list[str] = []
    open_fence = False
    for seg in markdown.split("\n\n"):
        if open_fence and blocks:
            blocks[-1] = blocks[-1] + "\n\n" + seg
        else:
            blocks.append(seg)
        for ln in seg.splitlines():
            if ln.lstrip().startswith("```"):
                open_fence = not open_fence
    return blocks


def _probe_candidates(stripped: str) -> list[str]:
    """Candidate lead fragments for one markdown block, most specific
    first. Each candidate is text expected to appear VERBATIM in the
    source; markdown the renderer synthesized (fence info lines,
    footnote labels, list enumerators, link/image syntax, inline
    emphasis) is stripped or truncated away rather than searched for."""
    cands: list[str] = []
    # below-8-char probes appended AFTER the length filter (tried last):
    # identifiers from token-wrapped code, structural markers
    short_structural: list[str] = []
    s = stripped.lstrip(_SPAN_TRIM)
    if stripped.startswith("```"):
        # fence info line ("```python") is renderer-made: probe the
        # body, with the closing fence stripped; the body's FIRST LINE
        # alone is a separate candidate (highlighters that wrap every
        # line in markup keep at most one line contiguous)
        body = stripped.split("\n", 1)[1] if "\n" in stripped else ""
        body = body.rstrip()
        if body.endswith("```"):
            body = body[:-3].rstrip()
        body = body.strip().lstrip(_SPAN_TRIM)
        cands.append(body[:40])
        cands.append(body.split("\n", 1)[0][:40])
        # highlighters that wrap every TOKEN in markup (chroma line
        # spans, pygments linenos, hexo <br>) leave no contiguous line —
        # the longest single identifier still survives verbatim
        btoks = re.findall(r"[A-Za-z0-9_]{5,}", body[:200])
        if btoks:
            short_structural.append(max(btoks, key=len))
        # short-token code ("foo bar", lean signatures): no >=8 fragment
        # and no >=5 identifier exists — fall back to the short first
        # line / head as last-resort probes (window-bounded ends keep a
        # wrong-instance hit small)
        first_ln = body.split("\n", 1)[0].strip()
        if 4 <= len(first_ln) < 8:
            short_structural.append(first_ln)
        elif len(first_ln) >= 8:
            short_structural.append(first_ln[:16])
            # tail-anchored: token-wrapping highlighters often leave the
            # LINE TAIL as one contiguous text run ("(x : Nat) : Nat :=")
            short_structural.append(first_ln[-16:].strip())
    m = _IMAGE_LEAD.match(s)
    if m:
        cands.append(m.group(2)[:80])        # src URL survives verbatim
        cands.append(m.group(1)[:40])        # alt text
    m = _LINK_LEAD.match(s)
    if m:
        cands.append(m.group(1).lstrip(_SPAN_TRIM)[:40])  # anchor text
        cands.append(m.group(2)[:80])                     # href
        # relative_urls rewrites hrefs absolute — the PATH+QUERY part
        # is what the source actually contains
        path = re.sub(r"^[a-z][a-z0-9+.-]*://[^/?#]+", "", m.group(2))
        if path != m.group(2):
            cands.append(path[:60])
    m = _FOOTNOTE_LEAD.match(s)
    if m:
        cands.append(m.group(1).lstrip(_SPAN_TRIM)[:40])
    m = _ORDERED_LEAD.match(s)
    if m:
        cands.append(_MD_UNESCAPE.sub(r"\1",
                                      m.group(1).lstrip(_SPAN_TRIM))[:40])
    m = _CALLOUT_LEAD.match(s)
    if m:                                    # "[!tip]- Title" → "Title"
        # FIRST LINE only: group(1) is DOTALL and would otherwise carry
        # the "\n> body" continuation into the probe, which never
        # matches the source (the quote markers are renderer-made)
        inner = m.group(1).lstrip(_SPAN_TRIM + "\n")
        first, _, rest = inner.partition("\n")
        cands.append(first.strip()[:40])
        # callout body line (title divs are often restyled beyond
        # recognition while the body text survives verbatim)
        for ln in rest.splitlines():
            ln = ln.strip().lstrip(_SPAN_TRIM)
            if ln and not ln.startswith(("[!", "```")):
                cands.append(ln[:40])
                break
    if s.startswith(">"):
        # blockquote/callout: the "> " quote markers are renderer-made;
        # probe the first inner line that isn't a marker or fence
        inner = re.sub(r"^>\s?", "", s[:400], flags=re.M)
        for ln in inner.splitlines():
            ln = ln.strip().lstrip(_SPAN_TRIM)
            if ln and not ln.startswith(("[!", "```", ">")):
                cands.append(ln[:40])
                break
    if s.startswith("|"):                    # table row: first cell text
        cells = [c.strip() for c in s.split("\n", 1)[0].split("|")]
        cands.extend(c[:40] for c in cells if c.strip(" -:"))
        # sub-8-char cells ("Name", "Alice"): survive verbatim inside
        # <td>/<th> — last-resort short probes over the first two rows
        for row in s.split("\n", 3)[:3]:
            for c in row.split("|"):
                c = c.strip()
                if 4 <= len(c) < 8 and c.strip(" -:"):
                    short_structural.append(c)
    cands.append(s[:40])
    if "\\" in s[:40]:                       # markdown escapes undone
        cands.append(_MD_UNESCAPE.sub(r"\1", s[:48])[:40])
    if "*" in s[:48]:                        # emphasis markers removed:
        # "Use **contain** when:" reads "Use contain when:" in source
        cands.append(re.sub(r"\*+", "", s[:48])[:40])
    # inline-syntax truncation: keep the contiguous prefix before the
    # first renderer-inserted char (footnote ref, backtick, emphasis…)
    for c in list(cands):
        b = _INLINE_BREAK.search(c, 1)
        if b and b.start() >= 8:
            cands.append(c[:b.start()])
        elif b and b.start() >= 4:          # short prefix: last resort
            short_structural.append(c[:b.start()].strip())
        # entity-escape truncation: "From: Example <hello@…>" reads
        # "…&lt;hello@…&gt;" in the source — probe the prefix before
        # the first escaped char
        e = _ENTITY_BREAK.search(c, 1)
        if e and e.start() >= 8:
            cands.append(c[:e.start()])
        # label-split: "<span>From:</span> Example …" breaks the
        # contiguity at the label — the text AFTER ": " survives
        if ": " in c[:24]:
            short_structural.append(
                c.split(": ", 1)[1].split("<")[0].strip()[:24])
    # content INSIDE the first emphasis / code span / bracket — the
    # text between renderer-inserted markers is contiguous in source
    head = s[:160]
    for rx in (_EMPHASIS_SPAN, _CODE_SPAN, _BRACKET_SPAN):
        m = rx.search(head)
        if m:
            cands.append(m.group(1).strip()[:40])
    for rx in (_EMPHASIS_SHORT, _CODE_SHORT):  # short inner: last resort
        m = rx.search(head)
        if m and 4 <= len(m.group(1).strip()) < 8:
            short_structural.append(m.group(1).strip())
    # math blocks: the serialized TeX ($…$/$$…$$) is SYNTHESIZED from
    # MathML and never appears in the source — probe the text BETWEEN
    # the math runs instead (the longest $-free segment). RAW-latex
    # sources ($$F = ma$$ passed through verbatim) keep even short
    # segments, so those fall back as short probes.
    if "$" in s:
        segs = [p.strip() for p in s[:200].split("$")]
        long_segs = [p for p in segs if len(p) >= 8]
        if long_segs:
            cands.append(max(long_segs, key=len)[:40])
        short_segs = [p for p in segs if 4 <= len(p) < 8]
        if short_segs:
            short_structural.append(max(short_segs, key=len))
    # last resort: one distinctive token from the block head (tokens
    # under the 8-char candidate filter go through the short list —
    # previously a 6-7 char best token like "viewBox" was silently
    # dropped by the length filter below)
    toks = _TOKEN.findall(s[:120])
    if toks:
        best = max(toks, key=len)
        (cands if len(best) >= 8 else short_structural).append(best)
    out, seen = [], set()
    for c in cands:
        c = c.strip()
        if len(c) >= 8 and c not in seen:
            seen.add(c)
            out.append(c)
    out = out[:14]
    for c in short_structural:
        c = c.strip()
        # >=4, matching the short-probe producers above (a >=5 filter
        # here silently dropped their 4-char candidates, e.g. "Name")
        if len(c) >= 4 and c not in seen:
            seen.add(c)
            out.append(c)
    # structural last resort for math blocks with no locatable text
    # (display equations): the next <math> element from the cursor IS
    # the block's source region — document order makes it the right one
    if "$" in s:
        out.append("<math")
    return out


def _tail_candidates(stripped: str) -> list[str]:
    """Candidate trailing fragments, cleaned the same way as leads."""
    t = stripped.rstrip(_SPAN_TRIM + ".)]|").lstrip(_SPAN_TRIM)
    if stripped.rstrip().endswith("```"):
        t = stripped.rstrip().rstrip("`").rstrip()
        if t.startswith("```"):
            # drop the opening fence + info string ("```py\n") — the
            # info line is renderer-made, so for short blocks it would
            # head the tail probe and never match the source verbatim;
            # only the code body text exists in the source
            nl = t.find("\n")
            t = t[nl + 1:] if nl >= 0 else ""
    cands = [t[-40:].lstrip(_SPAN_TRIM)]
    # truncate backward at the last inline-syntax char
    tail = cands[0]
    brks = list(_INLINE_BREAK.finditer(tail))
    if brks and len(tail) - brks[-1].end() >= 8:
        cands.append(tail[brks[-1].end():])
    out, seen = [], set()
    for c in cands:
        c = c.strip()
        if len(c) >= 8 and c not in seen:
            seen.add(c)
            out.append(c)
    # math blocks: close at the MathML element's end when no text tail
    # matches (tried last; see the <math> lead probe)
    if "$" in stripped:
        out.append("</math>")
    return out


def _spans_with_attempts(source: str,
                         markdown: str) -> tuple[list[dict], int]:
    """(spans, attempted): ``attempted`` counts the markdown blocks whose
    probe was long enough to search for — the denominator of the span
    COVERAGE metric (spans silently skip blocks rewritten beyond
    recognition by normalization; coverage makes that skip rate an
    observable number instead of an assumption — see ``span_coverage``)."""
    spans: list[dict] = []
    attempted = 0
    cursor = 0
    if not source or not markdown:
        return spans, attempted
    n = len(source)

    def locate(stripped: str, cands: list[str], frm: int):
        """(start, end) of the block's source region searching from
        ``frm``, or None."""
        idx = -1
        matched = 0
        for probe in cands:
            idx = source.find(probe, frm)
            if idx < 0 and len(probe) > 16:
                # entity/escape differences — try a shorter prefix
                probe = probe[:16]
                idx = source.find(probe, frm)
            if idx >= 0:
                matched = len(probe)
                break
        if idx < 0:
            return None
        # end: locate the block's trailing text fragment after the lead.
        # The search is WINDOW-BOUNDED: a tail fragment that first occurs
        # far past any plausible markup inflation of this block is a
        # wrong-instance match (the same words appearing later in the
        # document), and accepting it overshoots the cursor and starves
        # every following block — one 108-char block once claimed 8700
        # source chars and took 37 later blocks' spans with it. 10x the
        # block length + 1000 covers real HTML inflation (tags, hrefs,
        # tracking attributes) with room to spare.
        end = idx + matched
        window = idx + 10 * len(stripped) + 1000
        for t in _tail_candidates(stripped):
            hit_end = -1
            for frag in (t, t[-16:]):
                tidx = source.find(frag, idx)
                if tidx >= 0 and tidx + len(frag) <= window:
                    hit_end = tidx + len(frag)
                    break
            if hit_end > 0:
                end = max(end, hit_end)
                break
        end = min(end, n)
        return (idx, end) if end > idx else None

    missed: list[tuple[str, list[str]]] = []
    for block in _fence_aware_blocks(markdown):
        stripped = block.strip()
        cands = _probe_candidates(stripped)
        if not cands:
            continue
        attempted += 1
        hit = locate(stripped, cands, cursor)
        if hit is None:
            missed.append((stripped, cands))
            continue
        spans.append({"start": hit[0], "end": hit[1], "kind": "block"})
        cursor = hit[1]  # non-overlap: next span starts at/after this end

    # Second pass: markdown reorders some content (footnote definitions
    # render at the END of the document but live EARLIER in the source)
    # and a wrong-instance lead match can jump the cursor past a run of
    # blocks, so a monotonic cursor can never find them. Retry misses
    # from the top of the source, scanning SUCCESSIVE occurrences of
    # each probe for a hit that doesn't overlap an already-claimed
    # region (the first occurrence often lands inside the very span the
    # wrong-instance jump claimed) — output stays non-overlapping +
    # monotonic.
    if missed:
        claimed = [(s["start"], s["end"]) for s in spans]
        extra = []
        for stripped, cands in missed:
            hit = None
            probes = []
            for p in cands:
                probes.append(p)
                if len(p) > 16:
                    probes.append(p[:16])
            for probe in probes:
                frm = 0
                for _ in range(8):
                    idx = source.find(probe, frm)
                    if idx < 0:
                        break
                    cand = locate(stripped, [probe], idx)
                    if cand is not None:
                        lo, hi = cand
                        if not any(lo < e and c < hi
                                   for c, e in claimed):
                            hit = cand
                            break
                    frm = idx + 1
                if hit is not None:
                    break
            if hit is None:
                continue
            lo, hi = hit
            claimed.append((lo, hi))
            extra.append({"start": lo, "end": hi, "kind": "block"})
        if extra:
            spans = sorted(spans + extra, key=lambda s: s["start"])
    return spans, attempted


def span_coverage(docs) -> dict:
    """Corpus span-coverage stats over ``(source, markdown)`` pairs:
    ``blocks`` attempted, ``spanned`` located, ``coverage`` ratio.
    Tracked in bench (``span_coverage``) and floored in pytest so span
    quality is measured, not assumed."""
    blocks = 0
    spanned = 0
    for source, markdown in docs:
        spans, attempted = _spans_with_attempts(source or "", markdown or "")
        blocks += attempted
        spanned += len(spans)
    return {"blocks": blocks, "spanned": spanned,
            "coverage": round(spanned / blocks, 4) if blocks else None}


def extract_one(text: Optional[str], url: Optional[str] = None,
                with_spans: bool = True) -> dict:
    """One document → result dict matching RESULT_SCHEMA. Never raises."""
    if text is None or not text.strip():
        out = dict(_EMPTY)
        out["error"] = "empty_input"
        return out
    try:
        r = trek_parse(text, url or None)
        md = r["content_markdown"] or ""
        return {
            "extracted_text": md,
            "content_html": r["content_html"],
            "plain_text": r.get("content_text"),
            "title": r["title"], "author": r["author"], "site": r["site"],
            "published": r["published"], "description": r["description"],
            "domain": r["domain"], "image": r["image"],
            "favicon": r["favicon"],
            "word_count": int(r["word_count"] or 0),
            "extractor_type": r["extractor_type"],
            "parse_time_ms": int(r["parse_time_ms"] or 0),
            "error": None,
            "content_spans": compute_content_spans(text, md) if with_spans else [],
            "meta_tags": [
                {"name": t.get("name"), "property": t.get("property"),
                 "content": t.get("content")}
                for t in (r["meta_tags"] or [])
            ],
        }
    except Exception:
        out = dict(_EMPTY)
        out["error"] = traceback.format_exc(limit=3)
        return out


def extract_pdf_one(text: Optional[str]) -> dict:
    """PDF-branch result for a ``tool == 'pdf'`` turn (north-star "embedded
    PDFs via layout parse"; the reference has no PDF path — SURVEY §2 note).
    The string payload is the PDF bytes as Latin-1 (binary-safe in a string
    column) or base64. Never raises."""
    import base64
    import binascii

    from ..extract.pdf_text import looks_like_pdf, pdf_to_text
    from ..extract.utils import count_words

    if text is None or not text.strip():
        out = dict(_EMPTY)
        out["error"] = "empty_input"
        return out
    try:
        data = text.encode("latin-1", errors="replace")
        if not looks_like_pdf(data):
            try:
                decoded = base64.b64decode(text, validate=True)
            except (binascii.Error, ValueError):
                decoded = b""
            if looks_like_pdf(decoded):
                data = decoded
        t0 = time.time()
        plain = pdf_to_text(data) if looks_like_pdf(data) else ""
        out = dict(_EMPTY)
        out.update({
            "extracted_text": plain,
            "content_html": "",
            "plain_text": plain,
            "title": "", "author": "", "site": "", "published": "",
            "description": "", "domain": "", "image": "", "favicon": "",
            "word_count": count_words(plain),
            "extractor_type": "pdf-layout",
            "parse_time_ms": int((time.time() - t0) * 1000),
            "error": None if looks_like_pdf(data) else "not_a_pdf",
            "content_spans": [],
            "meta_tags": [],
        })
        return out
    except Exception:
        out = dict(_EMPTY)
        out["error"] = traceback.format_exc(limit=3)
        return out


_RESULT_NAMES = [f.name for f in RESULT_SCHEMA.fields]


def _extract_series(texts: pd.Series, urls: Optional[pd.Series],
                    tools: Optional[pd.Series] = None) -> dict[str, list]:
    """Extract one batch of documents: one list per ``RESULT_SCHEMA``
    column.

    GC policy: trek DOM trees are parent<->child reference cycles, so
    only the cyclic collector frees them. Automatic collection is off for
    the batch and one gen-0 sweep runs at each document boundary, where
    the finished tree is young garbage (``trek_parse`` drops the memos'
    references to it first). Measured in-process on 320 ``web_pages``
    documents in 5-document batches (4-core host, best of 3): 4.3 s of
    CPU with 0.10 s in GC and +6 MB peak RSS, against 5.0-5.2 s with
    0.5 s in GC (778 gen-0, 70 gen-1 and 6 gen-2 collections) and +9 MB
    under the default thresholds."""
    import gc

    rows = []
    url_list = (list(urls) if urls is not None else [None] * len(texts))
    tool_list = (list(tools) if tools is not None else [None] * len(texts))
    was_enabled = gc.isenabled()
    gc.disable()
    try:
        for t, u, tool in zip(texts, url_list, tool_list):
            if tool == "pdf":
                rows.append(extract_pdf_one(t))
            else:
                rows.append(extract_one(t, u if isinstance(u, str) else None))
            gc.collect(0)
    finally:
        if was_enabled:
            gc.enable()
    return {name: [r[name] for r in rows] for name in _RESULT_NAMES}


METRICS_SCHEMA = StructType([
    StructField("part_id", IntegerType()),
    StructField("batch_idx", IntegerType()),
    StructField("doc_bytes", LongType()),
    StructField("wall_ms", LongType()),
])


def extract_map_in_pandas(iterator: Iterator[pd.DataFrame]
                          ) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: passes through key columns, adds result columns
    plus per-row lineage columns.

    Lineage is per-ROW (doc_bytes = this document's input size) except
    wall_ms, which is the wall time of the Arrow batch the row traveled in
    (stamped on each of its rows; aggregate with first() per
    (part_id, batch_idx)). Row-level counts (docs, failures) are derived by
    the job from count(*)/error — stamping batch totals on every row made
    the sums quadratic in batch size (round-1 ADVICE)."""
    from pyspark import TaskContext
    ctx = TaskContext.get()
    part_id = ctx.partitionId() if ctx is not None else -1
    for batch_idx, pdf in enumerate(iterator):
        if pdf.empty:
            continue  # no rows to extract or to stamp
        t0 = time.time()
        urls = pdf["url"] if "url" in pdf.columns else None
        tools = pdf["tool"] if "tool" in pdf.columns else None
        # per-document gen0 GC sweeps happen inside _extract_series
        res = _extract_series(pdf["text"], urls, tools)
        # one frame from the key columns and the result lists (about half
        # the cost of a row-wise result frame joined by pd.concat)
        out = pd.DataFrame({**{c: pdf[c] for c in pdf.columns if c != "text"},
                            **res})
        out["part_id"] = part_id
        out["batch_idx"] = batch_idx
        out["doc_bytes"] = pdf["text"].str.len().fillna(0).astype("int64").values
        out["wall_ms"] = int((time.time() - t0) * 1000)
        yield out
