"""End-to-end per-document extraction pipeline.

Mirrors the reference lifecycle (`src/lib.rs:95-341`):

  head scan → metadata → [site extractor] → body extract → noscript promote
  → clutter removal → callouts → legacy standardize → DOM pass chain
  (removals.pre → callouts → standardize → elements → removals.post)
  → word count / image fallback → markdown render → low-content retry.

Everything after the head scan operates on ONE parsed DOM (the reference
re-parses between its string passes and DOM passes; here the clutter and
standardize stages share the tree, which preserves the observable output
while parsing each document at most twice — head scan + body).
"""

from __future__ import annotations

import os
import re
import time
from typing import Optional

from ..dom.node import Node, inner_html, release_memos
from ..dom.parser import body_of, parse_html
from . import elements, passes, removals_post
from .head_scan import collect_from_dom
from .html_to_text import node_to_text
from .markdown import node_to_markdown
from .metadata import extract_metadata
from .utils import count_words

_NOSCRIPT_IMG_RE = re.compile(
    r"<noscript[^>]*>\s*(<img[^>]+>)\s*</noscript>", re.I | re.S)

DEFAULT_OPTIONS = {
    "url": None,
    "markdown": True,
    "separate_markdown": True,
    "remove_exact_selectors": True,
    "remove_partial_selectors": True,
    "debug": False,
}


def promote_noscript_html(html: str) -> str:
    """`src/elements/images.rs:60-80` — keep lazy images alive."""
    return _NOSCRIPT_IMG_RE.sub(r"\1", html)


def _first_image_from_dom(body: Node) -> str:
    """First content <img> ≥50×50 with non-data src (`src/lib.rs:551-604`)."""
    for n in body.iter_elements():
        if n.tag != "img":
            continue
        src = n.get("src") or ""
        if not src or src.startswith("data:"):
            continue

        def dim(attr: str) -> Optional[int]:
            v = n.get(attr)
            if v:
                m = re.match(r"(\d+)", v)
                if m:
                    return int(m.group(1))
            return None

        w, h = dim("width"), dim("height")
        if (w is not None and w < 50) or (h is not None and h < 50):
            continue
        return src
    return ""


def _run_cleanup(body: Node, url: Optional[str], title: str,
                 remove_exact: bool, remove_partial: bool,
                 debug: bool = False) -> int:
    """Clutter removal + full DOM pass chain, in reference order.

    Returns the number of nodes removed by the GATED removal passes (clutter
    + selectors + hidden) — the only passes the low-content retry disables,
    so a zero return means a retry would reproduce the same output and can
    be skipped (saves a full re-parse for short documents)."""
    gated_removed = 0
    # legacy MathJax v2 payloads must convert before scripts are stripped
    elements.convert_math_tex_scripts(body)
    if remove_exact or remove_partial:
        gated_removed += passes.remove_clutter(body, remove_exact,
                                               remove_partial)

    # callouts normalize BEFORE legacy flatten (ref `src/lib.rs:281-289`)
    elements.normalize_callouts(body)
    # margin-note footnote containers are spans holding block content —
    # convert before wrapper flattening splits them
    elements._convert_margin_footnotes(body)

    # legacy standardize (`src/standardize_legacy.rs:9-36`); debug keeps
    # empty elements and wrappers for inspection (`:26-33` gates them
    # behind `if !debug`)
    passes.remove_comments(body)
    passes.rewrite_embed_iframes(body)
    if not debug:
        passes.remove_empty_elements(body)
        passes.flatten_wrapper_elements_legacy(body)
        passes.flatten_wrapper_elements_legacy(body)

    # DOM pass chain (`src/lib.rs:350-387`)
    if remove_exact or remove_partial:
        gated_removed += passes.selectors_pass(body)
    # hidden-element removal is ungated: hidden content stays hidden in the
    # low-content retry too (hidden--nodes fixture)
    passes.hidden_pass(body)
    elements.normalize_callouts(body)
    # standardize::run_all order (`src/standardize/mod.rs:29-49`);
    # TREK_C_SKIP=name1,name2 disables passes by their reference names
    # (dev/bisection tool, read per-call like the reference's
    # default_passes())
    skip = {s.strip()
            for s in os.environ.get("TREK_C_SKIP", "").split(",")
            if s.strip()}
    std_passes = (
        ("code_blocks", lambda: elements.code_blocks(body)),
        ("flatten_wrappers", lambda: passes.flatten_wrappers(body)),
        ("promote_semantics", lambda: passes.promote_semantics(body)),
        ("relative_urls", lambda: passes.relative_urls(body, url)),
        ("figure_image", lambda: passes.figure_image(body)),
        ("footnotes", lambda: passes.footnotes_std(body)),
        ("tables", lambda: passes.tables_std(body)),
        ("headings", lambda: passes.headings_std(body)),
    )
    for pass_name, run in std_passes:
        if pass_name not in skip:
            run()
    # elements::normalize_all order (`src/elements/mod.rs:31-39`)
    elements.normalize_all(body)
    # removals post (`src/removals/mod.rs:18-25`)
    removals_post.run_post(body, title)
    return gated_removed


def _parse_once(html: str, metadata: dict, url: Optional[str],
                remove_exact: bool, remove_partial: bool,
                doc: Optional[Node] = None,
                debug: bool = False) -> tuple[Node, str, int]:
    """One cleanup pass. ``doc`` lets the caller hand in the single
    full-document parse (head-scan fusion — the document is tokenized
    once, not twice); the retry path re-parses because the first pass
    mutated the tree."""
    if doc is None:
        body_html = passes.extract_body_substring(html)
        body_html = promote_noscript_html(body_html)
        doc = parse_html(body_html)
    body = body_of(doc)
    entry = passes.find_entry_point(body)
    if entry is not None:
        # re-root on the marked article container: detach so removal passes
        # never see the page chrome around it
        entry.detach()
        wrapper = Node.element("body")
        wrapper.append(entry)
        body = wrapper
    gated_removed = _run_cleanup(body, url, metadata.get("title", ""),
                                 remove_exact, remove_partial, debug=debug)
    content_html = inner_html(body)
    return body, content_html, gated_removed


class RecursionLimitError(RuntimeError):
    """Re-entrant parse depth exceeded (`src/extractor.rs:112-170`
    `RecursionDepth` / `ExtractError::RecursionLimit`)."""


# Re-entrancy guard state. Extractors that re-feed embedded HTML through
# trek_parse (X-Article quote-tweets, nested conversation messages) cannot
# infinite-loop on malicious or pathologically nested input: the cap is
# shared across the whole outer trek_parse invocation, mirroring the
# reference's ctx-carried RecursionDepth (DEFAULT_MAX = 3 nested calls).
_RECURSION_MAX = 3
_parse_depth = 0


def trek_parse(html: str, url: Optional[str] = None,
               options: Optional[dict] = None) -> dict:
    """One document in → response dict out (shape of `TrekResponse`,
    `src/types.rs:120-138`)."""
    global _parse_depth
    # >= so the enter that would EXCEED the cap errors (reference
    # RecursionDepth, src/extractor.rs:113-160: DEFAULT_MAX=3 means at most
    # 3 live parses; the 4th enter fails)
    if _parse_depth >= _RECURSION_MAX:
        raise RecursionLimitError(
            f"recursion limit exceeded: max depth {_RECURSION_MAX}")
    _parse_depth += 1
    try:
        return _trek_parse_inner(html, url, options)
    finally:
        _parse_depth -= 1
        if _parse_depth == 0:
            release_memos()
            removals_post.release_memos()


def _trek_parse_inner(html: str, url: Optional[str] = None,
                      options: Optional[dict] = None) -> dict:
    opts = dict(DEFAULT_OPTIONS)
    if options:
        opts.update(options)
    if url is not None:
        opts["url"] = url
    url = opts["url"]

    start = time.time()
    html = html or ""

    # ONE tokenization per document: parse the full document, collect the
    # head signals from the tree (byte-identical to the streaming
    # collector on the whole corpus — both ride the same stdlib
    # tokenizer), and reuse the same tree for the generic cleanup pass.
    # The reference tokenizes 2-3x (lol_html head scan, lol_html clutter,
    # kuchikiki DOM) because its passes are engine-separated; ours are
    # not, and tokenization was ~30% of pipeline self-time.
    doc = parse_html(promote_noscript_html(html))
    collected = collect_from_dom(doc)
    metadata = extract_metadata(collected, url)

    # site-specific extractors (ported incrementally; falls back to generic)
    from .extractors import try_extractors
    extracted = try_extractors(html, url, collected, metadata)
    if extracted is not None:
        content_html, extractor_type, overrides = extracted
        for k, v in overrides.items():
            if v is not None:
                metadata[k] = v
        word_count = count_words(content_html)
        metadata["word_count"] = word_count
        return _response(content_html, metadata, collected,
                         extractor_type, start, opts=opts)

    remove_exact = opts["remove_exact_selectors"]
    remove_partial = opts["remove_partial_selectors"]
    debug = bool(opts.get("debug"))

    body, content_html, gated_removed = _parse_once(
        html, metadata, url, remove_exact, remove_partial, doc=doc,
        debug=debug)
    word_count = count_words(content_html)

    # low-content retry (`src/lib.rs:199-237`); skipped when the gated
    # removal passes removed nothing — the retry output would be identical
    if word_count < 200 and gated_removed > 0 \
            and (remove_exact or remove_partial):
        body2, content2, _ = _parse_once(html, metadata, url, False, False,
                                         debug=debug)
        retry_count = count_words(content2)
        if retry_count > word_count * 2 or (word_count < 30
                                            and retry_count > word_count):
            body, content_html, word_count = body2, content2, retry_count

    metadata["word_count"] = word_count
    if not metadata.get("image"):
        metadata["image"] = _first_image_from_dom(body)

    return _response(content_html, metadata, collected, None, start,
                     body=body, opts=opts)


def _response(content_html: str, metadata: dict, collected,
              extractor_type: Optional[str], start: float,
              body: Optional[Node] = None,
              opts: Optional[dict] = None) -> dict:
    opts = opts if opts is not None else DEFAULT_OPTIONS
    url = opts.get("url")
    want_md = bool(opts.get("markdown", True))
    want_separate = bool(opts.get("separate_markdown", True))
    # markdown is rendered only when an output mode asks for it
    # (`src/lib.rs:154-181,314-341`): `content` is markdown when
    # output.markdown else the cleaned HTML; `content_markdown` is populated
    # only under separate_markdown.
    # plain-text rendering (reference public surface `src/html_to_text.rs`):
    # reuse the final DOM when the generic path provides it; extractor paths
    # pass body=None and we parse their (small, already-cleaned) HTML once
    # for both renderings, taking the text before ``body_of`` wraps it.
    if body is not None:
        text = node_to_text(body)
    else:
        doc = parse_html(content_html or "")
        text = node_to_text(doc) if content_html else ""
        body = body_of(doc)
    md = None
    if want_md or want_separate:
        md = node_to_markdown(body, metadata.get("title", ""), url)
    return {
        "content": (md or "") if want_md else content_html,
        "content_markdown": md if want_separate else None,
        "content_html": content_html,
        "content_text": text,
        "extractor_type": extractor_type,
        "meta_tags": collected.meta_tags,
        "title": metadata.get("title", ""),
        "author": metadata.get("author", ""),
        "site": metadata.get("site", ""),
        "published": metadata.get("published", ""),
        "description": metadata.get("description", ""),
        "domain": metadata.get("domain", ""),
        "favicon": metadata.get("favicon", ""),
        "image": metadata.get("image", ""),
        "word_count": metadata.get("word_count", 0),
        "parse_time_ms": int((time.time() - start) * 1000),
        "schema_org_data": metadata.get("schema_org_data", []),
    }
