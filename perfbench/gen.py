"""Seeded input generator for the extraction benchmark.

Everything here is a pure function of the seed: the same seed gives the
same pages, turns, markers and parquet bytes.  The program under test only
ever sees the parquet files; the expectations (planted markers, re-delivery
keys) stay in the returned ``Turn`` records.

Markers are lowercase alphanumeric tokens (``zq`` + kind letter + hex), so
the markdown renderer has nothing to escape inside them:

* ``zqb…`` body text that extraction must keep;
* ``zqn…``/``zqs…``/``zqa…``/``zqf…`` nav, sidebar, ad and footer clutter
  that extraction must drop;
* ``zqt…`` the page title, planted in ``<title>``, OpenGraph and JSON-LD.
"""

from __future__ import annotations

import datetime as dt
import html
import json
import math
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

# Columns and types of the transcript table (``corpus.TRANSCRIPT_SCHEMA``).
# ``ts`` must be microsecond UTC and ``url`` an explicit string column: the
# streaming reader uses that fixed schema and rejects pandas' nanosecond
# timestamps and an all-null (type-less) url column.
ARROW_SCHEMA = pa.schema([
    pa.field("conv_id", pa.string(), nullable=False),
    pa.field("turn_idx", pa.int32(), nullable=False),
    pa.field("role", pa.string(), nullable=False),
    pa.field("text", pa.string()),
    pa.field("tool", pa.string()),
    pa.field("ts", pa.timestamp("us", tz="UTC"), nullable=False),
    pa.field("url", pa.string()),
])

_WORDS = (
    "system data model query index cache worker batch stream table page "
    "value result request server client network memory process thread "
    "buffer schema record column filter join merge sort scan write read "
    "commit offset window state checkpoint partition shuffle driver task "
    "stage plan engine layer format parser token node tree element text "
    "markup header footer section article content summary detail example "
    "option setting config runtime version update release change issue "
    "feature support design method approach pattern practice problem "
    "solution analysis measure metric latency throughput capacity limit "
    "budget cost price market growth report study survey review question "
    "answer reason context history future people team project product "
    "customer service account policy rule law court city region "
    "country river mountain forest garden kitchen recipe flavor season "
    "weather morning evening journey travel station harbor bridge tower "
    "library museum theater concert artist painting novel chapter poem "
    "the a an of to in for with on by from over under about across after "
    "before during between into through without within along among"
).split()


def marker(rng: random.Random, kind: str) -> str:
    return f"zq{kind}{rng.getrandbits(44):011x}"


def _sentence(rng: random.Random, lo: int = 8, hi: int = 18) -> str:
    words = [rng.choice(_WORDS) for _ in range(rng.randint(lo, hi))]
    return words[0].capitalize() + " " + " ".join(words[1:]) + "."


def _prose(rng: random.Random, sentences: int) -> str:
    return " ".join(_sentence(rng) for _ in range(sentences))


@dataclass
class Doc:
    """One generated document plus what extraction must do with it."""
    text: str
    url: str | None
    tool: str
    body: list[str] = field(default_factory=list)
    clutter: list[str] = field(default_factory=list)
    title: str | None = None


# ------------------------------------------------------------ web pages

def _body_paragraph(rng: random.Random, body: list[str]) -> str:
    m = marker(rng, "b")
    body.append(m)
    pre = _prose(rng, rng.randint(1, 3))
    post = _prose(rng, rng.randint(1, 3))
    return f"<p>{pre} The {m} entry {_sentence(rng, 4, 8).lower()} {post}</p>"


def _code_block(rng: random.Random) -> str:
    lang = rng.choice(("python", "rust", "sql", "bash"))
    lines = [f"{rng.choice(_WORDS)}_{i} = {rng.choice(_WORDS)}({rng.randint(0, 99)})"
             for i in range(rng.randint(3, 12))]
    code = html.escape("\n".join(lines))
    return f'<pre><code class="language-{lang}">{code}</code></pre>'


def _table(rng: random.Random) -> str:
    cols = rng.randint(2, 5)
    head = "".join(f"<th>{rng.choice(_WORDS).title()}</th>" for _ in range(cols))
    rows = "".join(
        "<tr>" + "".join(f"<td>{rng.choice(_WORDS)} {rng.randint(1, 999)}</td>"
                         for _ in range(cols)) + "</tr>"
        for _ in range(rng.randint(2, 8)))
    return f"<table><thead><tr>{head}</tr></thead><tbody>{rows}</tbody></table>"


def _list(rng: random.Random, body: list[str]) -> str:
    tag = rng.choice(("ul", "ol"))
    items = []
    for _ in range(rng.randint(3, 7)):
        m = marker(rng, "b")
        body.append(m)
        items.append(f"<li>{_sentence(rng, 5, 10)[:-1]} {m} {_sentence(rng, 3, 6).lower()}</li>")
    return f"<{tag}>{''.join(items)}</{tag}>"


def _nav(rng: random.Random, clutter: list[str]) -> str:
    links = []
    for _ in range(rng.randint(4, 8)):
        m = marker(rng, "n")
        clutter.append(m)
        links.append(f'<li><a href="/{rng.choice(_WORDS)}">{rng.choice(_WORDS).title()} {m}</a></li>')
    return (f'<header class="site-header"><nav class="main-nav" role="navigation">'
            f'<ul>{"".join(links)}</ul></nav></header>')


def _sidebar(rng: random.Random, clutter: list[str]) -> str:
    items = []
    for _ in range(rng.randint(3, 6)):
        m = marker(rng, "s")
        clutter.append(m)
        items.append(f'<li><a href="/related/{rng.randint(1, 9999)}">'
                     f'{_sentence(rng, 3, 6)[:-1]} {m}</a></li>')
    return (f'<aside class="sidebar widget-area"><h3>Related posts</h3>'
            f'<ul>{"".join(items)}</ul></aside>')


def _ad(rng: random.Random, clutter: list[str]) -> str:
    m = marker(rng, "a")
    clutter.append(m)
    return (f'<div class="ad-container advertisement" id="ad-{rng.randint(1, 99)}">'
            f'<span>Advertisement</span><a href="https://ads.example.net/c">'
            f'Sponsored {m} offer</a></div>')


def _footer(rng: random.Random, clutter: list[str]) -> str:
    m = marker(rng, "f")
    clutter.append(m)
    return (f'<footer class="site-footer"><p>Copyright 2024 {m} '
            f'{rng.choice(_WORDS).title()} Media</p><ul><li><a href="/privacy">'
            f'Privacy</a></li><li><a href="/terms">Terms</a></li></ul></footer>')


def _head(title: str, site: str, author: str, url: str, published: str) -> str:
    ld = json.dumps({"@context": "https://schema.org", "@type": "Article",
                     "headline": title, "author": {"@type": "Person", "name": author},
                     "datePublished": published, "publisher": {"@type": "Organization",
                                                               "name": site}})
    t = html.escape(title)
    return (
        f'<head><meta charset="utf-8"><title>{t} | {site}</title>'
        f'<meta name="description" content="{t} explained">'
        f'<meta name="author" content="{author}">'
        f'<meta property="og:title" content="{t}">'
        f'<meta property="og:site_name" content="{site}">'
        f'<meta property="og:url" content="{url}">'
        f'<meta property="article:published_time" content="{published}">'
        f'<link rel="canonical" href="{url}">'
        f'<script type="application/ld+json">{ld}</script></head>')


_TEMPLATES = ("blog", "docs", "news", "forum")


def web_page(rng: random.Random, target_bytes: int) -> Doc:
    """A full page of one of four templates, grown to about
    ``target_bytes`` of HTML."""
    kind = rng.choice(_TEMPLATES)
    body: list[str] = []
    clutter: list[str] = []
    tmark = marker(rng, "t")
    title = f"{_sentence(rng, 3, 6)[:-1]} {tmark}"
    site = f"{rng.choice(_WORDS).title()} {kind.title()}"
    host = f"{kind}.{rng.choice(_WORDS)}{rng.randint(1, 99)}.example.com"
    url = f"https://{host}/{kind}/{rng.randint(1000, 99999)}"
    author = f"{rng.choice(_WORDS).title()} {rng.choice(_WORDS).title()}"
    published = (dt.date(2023, 1, 1) + dt.timedelta(days=rng.randint(0, 700))).isoformat()

    blocks = [f"<h1>{html.escape(title)}</h1>",
              f'<p class="byline">By {author} on <time datetime="{published}">'
              f"{published}</time></p>"]
    size = 0
    footnotes = []
    while size < target_bytes:
        r = rng.random()
        if r < 0.12:
            b = f"<h2>{_sentence(rng, 3, 7)[:-1]}</h2>"
        elif r < 0.22:
            b = _code_block(rng)
        elif r < 0.30:
            b = _table(rng)
        elif r < 0.40:
            b = _list(rng, body)
        elif r < 0.45 and len(footnotes) < 9:
            n = len(footnotes) + 1
            footnotes.append(f'<li id="fn{n}">{_sentence(rng)}</li>')
            b = _body_paragraph(rng, body)[:-4] + (
                f'<sup id="fnref{n}"><a href="#fn{n}">{n}</a></sup></p>')
        elif kind == "forum" and r < 0.55:
            b = (f'<div class="post"><div class="post-author">{rng.choice(_WORDS)}'
                 f'</div><div class="post-body">{_body_paragraph(rng, body)}</div></div>')
        else:
            b = _body_paragraph(rng, body)
        blocks.append(b)
        size += len(b)
    if footnotes:
        blocks.append(f'<section class="footnotes"><ol>{"".join(footnotes)}</ol></section>')
    main = "".join(blocks)
    tag = "article" if kind != "docs" else "main"
    page = (
        f'<!DOCTYPE html><html lang="en">{_head(title, site, author, url, published)}'
        f"<body>{_nav(rng, clutter)}<div class=\"layout\">"
        f'<{tag} class="content">{main}</{tag}>'
        f"{_sidebar(rng, clutter)}{_ad(rng, clutter)}</div>"
        f"{_footer(rng, clutter)}</body></html>")
    return Doc(page, url, "browser", body, clutter, tmark)


def share_page(rng: random.Random, target_bytes: int) -> Doc:
    """A ChatGPT or Claude share page on its real host, so the site
    extractors claim it."""
    body: list[str] = []
    clutter: list[str] = []
    chatgpt = rng.random() < 0.5
    msgs = []
    size = 0
    i = 0
    while size < target_bytes or i < 2:
        user = i % 2 == 0
        inner = _body_paragraph(rng, body)
        if not user and rng.random() < 0.5:
            inner += _code_block(rng)
        if chatgpt:
            role = "user" if user else "assistant"
            cls = "whitespace-pre-wrap" if user else "markdown prose"
            m = (f'<div data-message-author-role="{role}" data-message-id="m{i}">'
                 f'<div class="{cls}">{inner}</div></div>')
        elif user:
            m = f'<div data-testid="user-message" class="font-user-message">{inner}</div>'
        else:
            m = (f'<div data-testid="assistant-message" class="font-claude-response">'
                 f'<div class="standard-markdown">{inner}</div></div>')
        msgs.append(m)
        size += len(m)
        i += 1
    host = "chatgpt.com" if chatgpt else "claude.ai"
    url = f"https://{host}/share/{rng.getrandbits(64):016x}"
    page = (
        f'<!DOCTYPE html><html><head><meta charset="utf-8"><title>Shared chat</title>'
        f"</head><body>{_nav(rng, clutter)}<main>{''.join(msgs)}</main>"
        f"{_footer(rng, clutter)}</body></html>")
    return Doc(page, url, "browser", body, clutter, None)


def pdf_doc(rng: random.Random) -> Doc:
    from trek_spark.extract.pdf_text import make_simple_pdf

    body: list[str] = []
    lines = []
    for _ in range(rng.randint(4, 30)):
        m = marker(rng, "b")
        body.append(m)
        lines.append(f"{_sentence(rng, 3, 6)[:-1]} {m}")
    data = make_simple_pdf(lines, compress=rng.random() < 0.5)
    url = f"https://papers.example.org/{rng.randint(1, 99999)}.pdf"
    return Doc(data.decode("latin-1"), url, "pdf", body, [], None)


def fragment(rng: random.Random, assistant: bool) -> Doc:
    """A 100 B - 2 KB chat message rendered as an HTML fragment."""
    body: list[str] = []
    parts = [_body_paragraph(rng, body)] if rng.random() < 0.7 else [
        f"<p>{_sentence(rng, 2, 5)[:-1]} {_mark(rng, body)}?</p>"]
    if assistant:
        for _ in range(rng.randint(0, 2)):
            r = rng.random()
            parts.append(_code_block(rng) if r < 0.3 else
                         _list(rng, body) if r < 0.6 else _body_paragraph(rng, body))
    return Doc("".join(parts), None, "", body, [], None)


def _mark(rng: random.Random, body: list[str]) -> str:
    m = marker(rng, "b")
    body.append(m)
    return m


def lognormal_sizes(rng: random.Random, n: int, median: int, sigma: float,
                    lo: int, hi: int, total: int) -> list[int]:
    """``n`` heavy-tailed sizes, clipped to [lo, hi] and rescaled so they
    sum to about ``total`` — every seed then offers the same amount of
    work while the shape of the tail still varies."""
    raw = [min(hi, max(lo, median * math.exp(rng.gauss(0.0, sigma))))
           for _ in range(n)]
    scale = total / sum(raw)
    return [int(min(hi, max(lo, s * scale))) for s in raw]


# ---------------------------------------------------------- transcripts

@dataclass
class Turn:
    conv_id: str
    turn_idx: int
    role: str
    doc: Doc
    ts_us: int
    dup_of: tuple[str, int] | None = None

    @property
    def key(self) -> tuple[str, int]:
        return (self.conv_id, self.turn_idx)


EPOCH_US = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)


def exact_kinds(rng: random.Random, n: int, shares: dict[str, float],
                rest: str) -> list[str]:
    """``n`` kinds in seeded order with exactly ``round(share * n)`` of
    each, so the work mix does not drift with the seed."""
    kinds = [k for k, share in shares.items() for _ in range(round(share * n))]
    kinds += [rest] * (n - len(kinds))
    rng.shuffle(kinds)
    return kinds


def web_pages(seed: int, n_pages: int, total_bytes: int) -> list[Turn]:
    """Every turn a browser-tool page: 10% chat share pages, 1% fetched
    PDFs, the rest blog/docs/news/forum templates.  Log-normal sizes,
    median about 20 KB, capped at 300 KB."""
    rng = random.Random(seed * 7919 + 1)
    sizes = lognormal_sizes(rng, n_pages, 20_000, 0.9, 3_000, 300_000, total_bytes)
    kinds = exact_kinds(rng, n_pages, {"share": 0.10, "pdf": 0.01}, "page")
    turns = []
    for i, (size, kind) in enumerate(zip(sizes, kinds)):
        doc = (pdf_doc(rng) if kind == "pdf" else share_page(rng, size)
               if kind == "share" else web_page(rng, size))
        conv = f"w{seed}-{i // 2:05d}"
        turns.append(Turn(conv, i % 2, "tool", doc, EPOCH_US + i * 1_000_000))
    return turns


class ChatDocs:
    """Chat-like documents in a seeded, exact mix: short user/assistant
    fragments, 5% tool-fetched pages (log-normal, about 4.5 KB mean), 1%
    PDFs and, where allowed, 0.2% empty turns."""

    def __init__(self, rng: random.Random, n: int, allow_empty: bool):
        self.rng = rng
        mix = {"pdf": 0.01, "tool": 0.05, **({"empty": 0.002} if allow_empty else {})}
        self.kinds = exact_kinds(rng, n, mix, "msg")
        n_tool = self.kinds.count("tool")
        self.tool_sizes = (lognormal_sizes(rng, n_tool, 4_000, 0.6, 1_000, 60_000,
                                           4_500 * n_tool) if n_tool else [])

    def turn(self, conv: str, idx: int, serial: int) -> Turn:
        rng, kind = self.rng, self.kinds[serial]
        if kind == "empty":
            doc, role = Doc("", None, "", [], [], None), "user"
        elif kind == "pdf":
            doc, role = pdf_doc(rng), "tool"
        elif kind == "tool":
            doc, role = web_page(rng, self.tool_sizes.pop()), "tool"
        else:
            role = "assistant" if idx % 2 else "user"
            doc = fragment(rng, role == "assistant")
        return Turn(conv, idx, role, doc, EPOCH_US + serial * 1000)


def chat_turns(seed: int, n_turns: int) -> list[Turn]:
    """Zipf conversation lengths (a few conversations of thousands of
    turns) over the chat mix, with a few empty turns."""
    rng = random.Random(seed * 7919 + 2)
    lengths = []
    left = n_turns
    while left > 0:
        n = min(left, 3_000, int(2 / (1.0 - rng.random()) ** (1 / 1.1)))
        lengths.append(n)
        left -= n
    docs = ChatDocs(rng, n_turns, allow_empty=True)
    turns = []
    for c, n in enumerate(lengths):
        conv = f"c{seed}-{c:05d}"
        for i in range(n):
            turns.append(docs.turn(conv, i, len(turns)))
    return turns


def stream_files(seed: int, n_files: int, turns_per_file: int,
                 dup_share: float) -> list[list[Turn]]:
    """Open-loop stream input: ``n_files`` files of chat-mix turns (none
    empty).  In every file, ``dup_share`` of the turns re-deliver the text
    of an earlier turn under a new key; every other text is unique
    (markers make it so)."""
    rng = random.Random(seed * 7919 + 3)
    docs = ChatDocs(rng, n_files * turns_per_file, allow_empty=False)
    files: list[list[Turn]] = []
    offered: list[Turn] = []
    serial = 0
    n_dups = round(dup_share * turns_per_file)
    for f in range(n_files):
        batch = []
        dup_slots = set(rng.sample(range(1, turns_per_file), n_dups))
        for pos in range(turns_per_file):
            conv = f"s{seed}-{f:04d}-{pos // 16:03d}"
            idx = pos % 16
            if pos in dup_slots:
                src = rng.choice(offered)
                t = Turn(conv, idx, src.role, src.doc, 0, dup_of=src.key)
            else:
                t = docs.turn(conv, idx, serial)
                offered.append(t)
            serial += 1
            batch.append(t)
        files.append(batch)
    return files


def to_table(turns: list[Turn], ts_us: list[int] | None = None) -> pa.Table:
    return pa.table({
        "conv_id": [t.conv_id for t in turns],
        "turn_idx": [t.turn_idx for t in turns],
        "role": [t.role for t in turns],
        "text": [t.doc.text for t in turns],
        "tool": [t.doc.tool for t in turns],
        "ts": ts_us if ts_us is not None else [t.ts_us for t in turns],
        "url": [t.doc.url for t in turns],
    }, schema=ARROW_SCHEMA)


def write_parquet(turns: list[Turn], out_dir: str, files: int) -> None:
    """Split ``turns`` over ``files`` parquet files in ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    step = math.ceil(len(turns) / files)
    for i in range(files):
        chunk = turns[i * step:(i + 1) * step]
        if chunk:
            pq.write_table(to_table(chunk), os.path.join(out_dir, f"part-{i:03d}.parquet"))
