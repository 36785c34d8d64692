"""Phase 0 — collect head signals from the parsed document.

Equivalent of the reference's lol_html streaming collection
(``src/lib.rs:390-523``): meta tags, canonical link, favicon, <title>,
``fc:frame`` mini-app embed, and ``application/ld+json`` schema.org blocks
(with ``@graph`` flattening). The reference streams the raw HTML so it never
builds a tree for the head (``docs/architecture.md:171-176``); here the
pipeline parses each document once, so the signals come from one walk over
that tree's elements.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Optional


@dataclass
class CollectedData:
    meta_tags: list = field(default_factory=list)  # dicts {name, property, content}
    schema_org_data: list = field(default_factory=list)  # parsed JSON values
    title: Optional[str] = None
    favicon: Optional[str] = None
    mini_app_embed: Optional[str] = None
    canonical: Optional[str] = None


def collect_from_dom(doc) -> CollectedData:
    """Head signals of a parsed document (the pipeline's single-parse
    path). Semantics of the reference's collector: LAST <title> wins,
    FIRST canonical wins, rel="icon" beats shortcut variants, @graph
    flattens."""
    d = CollectedData()
    for n in doc.iter_elements():
        tag = n.tag
        if tag == "meta":
            a = n.attrs or {}
            content = a.get("content")
            if content is None:
                continue
            name = a.get("name")
            prop = a.get("property")
            if name is None and prop is None:
                continue
            if name == "fc:frame":
                d.mini_app_embed = content
            d.meta_tags.append(
                {"name": name, "property": prop, "content": content})
        elif tag == "link":
            a = n.attrs or {}
            rel = a.get("rel") or ""
            href = a.get("href")
            if not href:
                continue
            rel_tokens = rel.split()
            if rel == "canonical" and d.canonical is None:
                d.canonical = href
            if "icon" in rel_tokens or "shortcut" in rel_tokens:
                if d.favicon is None or rel == "icon":
                    d.favicon = href
        elif tag == "title":
            d.title = n.text_content().strip()
        elif tag == "script":
            if (n.get("type") or "").strip().lower() == "application/ld+json":
                raw = n.text_content()
                try:
                    val = json.loads(raw)
                except (ValueError, RecursionError):
                    continue
                graph = val.get("@graph") if isinstance(val, dict) else None
                if isinstance(graph, list):
                    d.schema_org_data.extend(graph)
                else:
                    d.schema_org_data.append(val)
    return d
