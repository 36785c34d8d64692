"""Cleanup-pass unit tests (cases mirror reference src/lib.rs:783-1193 and
src/standardize_legacy.rs embedded tests)."""

from trek_spark.dom import body_of, inner_html, parse_html
from trek_spark.extract import elements, passes, removals_post


def run(html: str, fn, *args) -> str:
    body = body_of(parse_html(html))
    fn(body, *args)
    return inner_html(body)


def test_clutter_removes_nav_footer():
    out = run("<nav>n</nav><p>keep</p><footer>f</footer>",
              passes.remove_clutter)
    assert out == "<p>keep</p>"


def test_clutter_partial_selector_class():
    out = run('<div class="share-buttons">x</div><p>keep</p>',
              passes.remove_clutter)
    assert out == "<p>keep</p>"


def test_clutter_keeps_content_svg():
    out = run('<svg role="img"><title>t</title></svg><svg><path d="x"/></svg>',
              passes.remove_clutter)
    assert 'role="img"' in out and out.count("<svg") == 1


def test_clutter_exempts_pre_content():
    html = '<pre><span class="token promo">code</span></pre>'
    assert run(html, passes.remove_clutter) == html


def test_tailwind_arbitrary_variant_not_removed():
    html = '<div class="[&_.foo]:hidden">keep</div>'
    out = run(html, passes.remove_clutter)
    assert "keep" in out


def test_hidden_inline_style():
    out = run('<div style="display:none">x</div><p>keep</p>',
              passes.hidden_pass)
    assert out == "<p>keep</p>"


def test_hidden_responsive_show_kept():
    html = '<div class="hidden sm:flex">keep</div>'
    assert "keep" in run(html, passes.hidden_pass)


def test_iframe_rewrite_youtube():
    out = run('<iframe src="https://www.youtube.com/embed/dQw4w9WgXcQ">'
              "</iframe>", passes.rewrite_embed_iframes)
    # golden-corpus convention: embeds become image-links to the watch URL
    assert out == ('<img src="https://www.youtube.com/watch?v=dQw4w9WgXcQ"'
                   ' alt="">')


def test_iframe_rewrite_x_status():
    out = run('<iframe src="https://x.com/jack/status/20"></iframe>',
              passes.rewrite_embed_iframes)
    assert out == '<img src="https://x.com/jack/status/20" alt="">' 


def test_unknown_iframe_untouched():
    html = '<iframe src="https://example.com/foo"></iframe>'
    assert run(html, passes.rewrite_embed_iframes) == html


def test_flatten_wrapper_divs():
    assert run("<div><div><p>deep</p></div></div>",
               passes.flatten_wrapper_elements_legacy) == "<p>deep</p>"


def test_flatten_preserves_semantic():
    html = '<div role="article"><p>x</p></div>'
    assert run(html, passes.flatten_wrapper_elements_legacy) == html


def test_flatten_preserves_content_class():
    html = '<div class="article-content"><p>x</p></div>'
    assert run(html, passes.flatten_wrapper_elements_legacy) == html


def test_remove_empty_elements():
    out = run("<p>a</p><p></p><div>  </div><p>b</p>",
              passes.remove_empty_elements)
    assert out == "<p>a</p><p>b</p>"


def test_promote_semantics_data_as():
    out = run('<span data-as="h2">t</span>', passes.promote_semantics)
    assert out == '<h2 data-as="h2">t</h2>'


def test_promote_heading_anchor_inversion():
    out = run('<a href="/x"><h2>T</h2></a>', passes.promote_semantics)
    assert out == '<h2><a href="/x">T</a></h2>'


def test_tables_std_unwraps_layout():
    out = run("<table><tr><td><p>only</p></td></tr></table>",
              passes.tables_std)
    assert out == "<p>only</p>"


def test_headings_std_demotes_extra_h1():
    out = run("<h1>a</h1><p>x</p><h1>b</h1><p>y</p>", passes.headings_std)
    assert out == "<h1>a</h1><p>x</p><h2>b</h2><p>y</p>"


def test_callout_github_blockquote():
    out = run("<blockquote><p>[!WARNING] heads up</p></blockquote>",
              elements.normalize_callouts)
    assert 'data-callout="warning"' in out
    assert "heads up" in out
    assert "callout-title-inner" in out


def test_callout_admonition():
    out = run('<div class="admonition note">'
              '<p class="admonition-title">My note</p><p>body</p></div>',
              elements.normalize_callouts)
    assert 'data-callout="note"' in out and "My note" in out and "body" in out


def test_images_lazy_promotion():
    out = run('<img src="" data-src="real.png">', elements.normalize_images)
    assert 'src="real.png"' in out and "data-src" not in out


def test_images_tracking_pixel_dropped():
    out = run('<img src="/pixel.gif" width="1" height="1"><p>k</p>',
              elements.normalize_images)
    assert "<img" not in out


def test_code_chroma_lntable():
    html = ('<table class="lntable"><tr>'
            '<td class="lntd"><code><span class="lnt">1</span></code></td>'
            '<td class="lntd"><pre><code class="language-go">x := 1'
            "</code></pre></td></tr></table>")
    out = run(html, elements.normalize_code_blocks)
    assert "lntable" not in out and "language-go" in out


def test_small_images_removed():
    out = run('<img src="a.png" width="16" height="16"><p>k</p>',
              removals_post.small_images)
    assert "<img" not in out


def test_small_images_keeps_figure_subject():
    html = '<figure><img src="a.png" width="16" height="16"></figure>'
    assert "<img" in run(html, removals_post.small_images)


def test_content_patterns_read_time():
    out = run("<h1>T</h1><div>5 min read</div><p>long prose content here "
              "with quite a few words to stop the walker</p>",
              removals_post.content_patterns)
    assert "min read" not in out


def test_scoring_drops_link_farm():
    links = "".join(f'<a href="/{i}">somewhere link {i}</a> ' for i in range(12))
    html = f'<div class="related">{links}</div><p>real prose</p>'
    out = run(html, removals_post.scoring)
    assert "somewhere link" not in out and "real prose" in out


def test_markdown_false_returns_html_content():
    """output.markdown=False → `content` is the cleaned HTML, not markdown
    (src/lib.rs:154-181,314-341); separate_markdown still yields markdown."""
    from trek_spark.extract.pipeline import trek_parse
    html = ("<html><body><article><h2>Header</h2><p>Some body prose with "
            "enough words to survive extraction easily.</p></article>"
            "</body></html>")
    r = trek_parse(html, "https://ex.example/a",
                   {"markdown": False, "separate_markdown": True})
    assert "<p>" in r["content"]          # HTML, not markdown
    assert "##" not in r["content"]
    assert r["content_markdown"] and "## Header" in r["content_markdown"]

    r2 = trek_parse(html, "https://ex.example/a",
                    {"markdown": False, "separate_markdown": False})
    assert "<p>" in r2["content"]
    assert r2["content_markdown"] is None

    r3 = trek_parse(html, "https://ex.example/a")
    assert "## Header" in r3["content"]   # default unchanged
    assert r3["content_markdown"] == r3["content"]


def test_debug_mode_preserves_empty_elements_and_wrappers():
    """debug=True skips empty-element removal and legacy wrapper flattening
    (src/standardize_legacy.rs:26-33) so the cleaned HTML keeps structure
    for inspection."""
    from trek_spark.extract.pipeline import trek_parse
    probe = '<div class="gap-xx"></div>'
    html = (f"<html><body><article><p>Real content paragraph with plenty "
            f"of words for the scorer to keep around.</p>{probe}"
            f"<p>Another real paragraph with further words to keep scoring "
            f"above every removal threshold comfortably.</p></article>"
            f"</body></html>")
    dbg = trek_parse(html, "https://ex.example/d",
                     {"debug": True, "markdown": False})
    std = trek_parse(html, "https://ex.example/d", {"markdown": False})
    assert probe in dbg["content"]       # empty element preserved
    assert probe not in std["content"]   # default removes it


def test_trek_c_skip_disables_named_passes(monkeypatch):
    """TREK_C_SKIP=name1,name2 disables standardize passes by their
    reference names (src/standardize/mod.rs:29-49); read per call."""
    from trek_spark.extract.pipeline import trek_parse
    html = ("<html><body><article><h2>Header<a href='#h'>#</a></h2>"
            "<p>Content paragraph with plenty of words to keep the "
            "extraction pipeline from retrying anything here.</p>"
            "<p><a href='/rel'>relative link</a> inside text.</p>"
            "</article></body></html>")
    url = "https://ex.example/base/page"
    std = trek_parse(html, url, {"markdown": False})
    assert "https://ex.example/rel" in std["content"]  # relative_urls ran

    monkeypatch.setenv("TREK_C_SKIP", "relative_urls, headings")
    skipped = trek_parse(html, url, {"markdown": False})
    assert 'href="/rel"' in skipped["content"]  # pass disabled

    monkeypatch.delenv("TREK_C_SKIP")
    again = trek_parse(html, url, {"markdown": False})
    assert "https://ex.example/rel" in again["content"]  # re-enabled


def test_short_turns_survive_extraction():
    """Transcript turns are often tiny fragments; the trailing-chrome
    walker must not treat the document's ONLY content block as trailing
    junk (whole-content guard in _drop_link_dense_trailing)."""
    from trek_spark.extract.pipeline import trek_parse
    cases = {
        "<p>deep content paragraph here</p>": "deep content paragraph here",
        "<p>sounds good thanks</p>": "sounds good thanks",
        "<p>ok</p>": "ok",
        "<p>how do I do this?</p>": "how do I do this?",
        "<ul><li>alpha</li><li>beta</li></ul>": "- alpha\n- beta",
        "<pre><code>x = 1</code></pre>": "```\nx = 1\n```",
    }
    for frag, want in cases.items():
        r = trek_parse(f"<html><body>{frag}</body></html>",
                       "https://ex.example/s")
        assert r["content"] == want, (frag, r["content"])


def test_pathological_documents_bounded_time():
    """Guard against O(n²) reintroduction in heading/link/widget passes:
    4-8k-element pathological docs must complete in bounded time."""
    import time
    from trek_spark.extract.pipeline import trek_parse
    docs = [
        "<article>" + "".join(
            f"<h2>Section {i}</h2><p>body {i} words</p>"
            for i in range(3000)) + "</article>",
        "<article><p>intro prose</p>" + "".join(
            f'<a href="/l{i}">link {i}</a> ' for i in range(6000))
        + "</article>",
        "<div>" * 300 + "<p>deep content paragraph with words</p>"
        + "</div>" * 300,
    ]
    for html in docs:
        t0 = time.time()
        trek_parse(f"<html><body>{html}</body></html>",
                   "https://ex.example/p")
        assert time.time() - t0 < 15, "pathological doc exceeded time bound"


def test_count_words_cjk_fast_path_equivalence():
    """The CJK-free fast path (len(split)) must agree with the per-char
    range scan on strings straddling every range boundary, and the CJK
    path must still count ideographs/kana/hangul individually."""
    from trek_spark.extract.utils import count_words

    def reference(html):
        from trek_spark.extract.utils import strip_html_tags
        text = strip_html_tags(html)
        n = 0
        for w in text.split():
            cjk = sum(1 for c in w
                      if "぀" <= c <= "ヿ"
                      or "㐀" <= c <= "鿿"
                      or "가" <= c <= "힯"
                      or "豈" <= c <= "﫿")
            n += cjk if cjk else 1
        return n

    cases = [
        "", "one", "two words", "<p>a  b</p>", "tabs\tand\nnewlines",
        "日本語です", "日本語 mixed words", "한국어 단어", "豈 compat",
        # boundary chars: one inside each range, one just outside
        "〿 x", "぀ x", "ヿ x", "㄀ x",
        "㏿ x", "㐀 x", "鿿 x", "ꀀ x",
        "꯿ x", "가 x", "힯 x", "ힰ x",
        " x", "豈 x", "﫿 x", "ﬀ x",
        "a日b c", "<b>漢字</b> and <i>kanji</i>",
    ]
    for html in cases:
        assert count_words(html) == reference(html), repr(html)


def test_descendants_under_matches_ancestor_walk():
    """The per-pass set holds exactly the nodes whose ancestor walk finds
    a tag of the set, including nested matches and a root inside one;
    with ``include_text`` it holds their text nodes too."""
    from trek_spark.dom.node import ELEMENT, TEXT, descendants_under

    def walk_finds(n, tags):
        return any(a.type == ELEMENT and a.tag in tags
                   for a in n.ancestors())

    pre_code = frozenset(("pre", "code"))
    html = ("<div><pre><span>a<code><b>x</b></code></span></pre>"
            "<p><code><i><em>y</em></i></code><span>z</span></p>"
            "<code><pre><u>w</u></pre></code><div><a>v</a></div></div>")
    body = body_of(parse_html(html))
    inside = descendants_under(body, pre_code)
    nodes = body.iter_elements()
    assert inside == {n for n in nodes if walk_finds(n, pre_code)}
    assert {n.tag for n in inside} == {"span", "code", "b", "i", "em",
                                       "pre", "u"}
    inner = next(n for n in nodes if n.tag == "b")
    assert descendants_under(inner, pre_code) == {inner}

    heads = frozenset(("h2", "h3"))
    body = body_of(parse_html("<h2>a<b>b</b></h2><p>c</p>"
                              "<div><h3><h2>d</h2>e</h3></div>"))
    inside = descendants_under(body, heads, include_text=True)
    assert inside == {n for n in body.iter() if walk_finds(n, heads)}
    assert sorted(n.text for n in inside if n.type == TEXT) == [
        "a", "b", "d", "e"]


def test_passes_keep_pre_and_code_content_exempt():
    """Removal, div flattening and bare-span unwrapping skip everything
    under a pre/code, also when the wrappers around the pre are unwrapped
    in the same pass."""
    chrome = '<span class="share-buttons">s</span>'
    html = (f"<div><div><pre>{chrome}<div><b>k</b></div></pre></div></div>"
            f"<p><code><span>c</span>{chrome}</code><span>t</span></p>")
    out = run(html, passes.remove_clutter)
    assert out.count("share-buttons") == 2
    out = run(html, passes.selectors_pass)
    assert out.count("share-buttons") == 2
    out = run(html, passes.flatten_wrapper_elements_legacy)
    assert out.startswith("<pre>") and "<div><b>k</b></div>" in out
    out = run(html, passes.promote_semantics)
    assert "<code><span>c</span>" in out and "<span>t</span>" not in out


def test_nested_div_extraction_is_near_linear():
    """A deep run of nested <div>s costs about linear time: 4x the depth
    may take about 4x as long, not the ~16x of a per-node ancestor walk.
    CPU time, best of 5 runs at each depth; the smaller depth is large
    enough (tens of ms) to sit well above timer and scheduling noise."""
    import gc
    import time
    from trek_spark.spark.udf import extract_one

    def best_time(depth):
        html = ("<html><body>" + "<div>" * depth + "<p>deep text</p>"
                + "</div>" * depth + "</body></html>")
        best = None
        for _ in range(5):
            gc.collect()
            t0 = time.process_time()
            r = extract_one(html)
            dt = time.process_time() - t0
            best = dt if best is None else min(best, dt)
        assert r["error"] is None and r["extracted_text"] == "deep text"
        return best

    small, large = best_time(4_000), best_time(16_000)
    assert large / small < 8, (small, large)


def test_count_words_direct():
    """Tags count as word breaks; any whitespace run, nbsp included,
    separates words; CJK characters count one each."""
    from trek_spark.extract.utils import count_words

    assert count_words("") == 0
    assert count_words("   \t\n ") == 0
    assert count_words("<p></p><br/>") == 0
    assert count_words("<b>bold</b>word") == 2
    assert count_words("glued<br>words<i>x</i>y") == 4
    assert count_words("a\t\tb\n\n\nc  d   e") == 5
    assert count_words("  lead and trail  ") == 3
    assert count_words("\n<p> one </p>\n") == 1
    assert count_words("日本語 text 中文") == 6
    assert count_words("<p>漢字</p>kanji<b>かな</b>") == 5
    assert count_words("x<a href='日本'>y</a>") == 2


def test_spaced_text_longer_matches_joined_length():
    """The early-exit length check agrees with the joined text's length
    at every limit, with words split across text nodes and runs of
    whitespace (nbsp included) inside and between them."""
    frags = [
        "<div><h2>Title</h2></div>",
        "<div><h2>Ti<b>tle</b></h2>  more\n\ttext <i>x</i>y\u00a0 </div>",
        "<div> <span>a</span><span>b</span> <span> c</span> d </div>",
        "<div><p>   </p><p></p>word<!-- c -->glued</div>",
        "<div></div>",
    ]
    for frag in frags:
        node = body_of(parse_html(frag)).children[0]
        n = len(" ".join(node.text_content().split()))
        for limit in range(n + 3):
            assert passes._spaced_text_longer(node, limit) == (n > limit), \
                (frag, limit)


def test_removal_marks_heading_of_emptied_section():
    """Removing a section's only content marks the heading that
    introduced it, directly or inside a wrapper holding little else."""
    html = ('<h2>Share</h2><!-- x --> <div class="share-buttons">s</div>'
            '<div><h3>Follow us</h3> ok</div><div class="share-buttons">f</div>'
            '<div><h3>Long</h3><p>plenty of other words here</p></div>'
            '<div class="share-buttons">g</div>')
    out = run(html, passes.remove_clutter)
    assert '<h2 data-trek-orphaned="1">Share</h2>' in out
    assert '<h3 data-trek-orphaned="1">Follow us</h3>' in out
    assert "<h3>Long</h3>" in out and "share-buttons" not in out
