"""Scalar text helpers (word counting, tag stripping, entity decoding).

Semantics mirror reference ``src/utils.rs:55-88``.
"""

from __future__ import annotations

import html as _html
import re

_TAG_RE = re.compile(r"<[^>]+>")
_WS_RE = re.compile(r"\s+")


def strip_html_tags(html: str) -> str:
    return _WS_RE.sub(" ", _TAG_RE.sub(" ", html)).strip()


# exactly the four per-char ranges of the CJK word-count rule below
_CJK_ANY_RE = re.compile("[\u3040-\u30ff\u3400-\u9fff\uac00-\ud7af\uf900-\ufaff]")


def count_words(html: str) -> int:
    # ``split()`` already skips whitespace runs and the ends, so only the
    # tags need replacing (by a space, so words either side stay apart)
    text = _TAG_RE.sub(" ", html)
    # no CJK anywhere: every whitespace token counts exactly 1 (the
    # dominant case -- skips the per-word per-char range scan)
    if _CJK_ANY_RE.search(text) is None:
        return len(text.split())
    n = 0
    for w in text.split():
        # CJK scripts don't use spaces — count each ideograph/kana/hangul
        # as a word so the low-content-retry threshold behaves for zh/ja/ko
        cjk = sum(1 for c in w
                  if "぀" <= c <= "ヿ" or "㐀" <= c <= "鿿"
                  or "가" <= c <= "힯" or "豈" <= c <= "﫿")
        n += cjk if cjk else 1
    return n


def decode_html_entities(text: str) -> str:
    if "&" not in text:
        return text
    return _html.unescape(text)
