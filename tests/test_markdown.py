"""Markdown renderer per-construct tests (mirrors reference
src/markdown/mod.rs embedded tests + golden-corpus conventions)."""

from trek_spark.dom import body_of, parse_html
from trek_spark.extract.markdown import escape_md_text, node_to_markdown


def md(html: str, title: str = "", url: str | None = None) -> str:
    return node_to_markdown(body_of(parse_html(html)), title, url)


def test_headings_demoted():
    assert md("<h1>A</h1><p>x</p>") == "## A\n\nx"
    assert md("<h3>B</h3>") == "### B"


def test_paragraphs_and_emphasis():
    assert md("<p>a <strong>b</strong> <em>c</em> <del>d</del></p>") == \
        "a **b** *c* ~~d~~"


def test_inline_code_backticks():
    # content ending in a backtick gets a pad space before the closing fence
    assert md("<p>run <code>x = `y`</code></p>") == "run ``x = `y` ``"


def test_links_and_images():
    assert md('<p><a href="https://e.com/a">t</a></p>') == "[t](https://e.com/a)"
    assert md('<p><img src="i.png" alt="alt"></p>') == "![alt](i.png)"
    # bare-host normalization appends slash
    assert md('<p><a href="https://e.com">t</a></p>') == "[t](https://e.com/)"


def test_relative_url_resolution():
    assert md('<p><a href="/a">t</a></p>', url="https://e.com/b/c") == \
        "[t](https://e.com/a)"


def test_unordered_list():
    assert md("<ul><li>a</li><li>b</li></ul>") == "- a\n- b"


def test_ordered_list_with_start():
    assert md('<ol start="3"><li>a</li><li>b</li></ol>') == "3. a\n4. b"


def test_nested_list_tabs():
    assert md("<ul><li>a<ul><li>b</li></ul></li></ul>") == "- a\n\t- b"


def test_task_list():
    out = md('<ul><li><input type="checkbox" checked>done</li>'
             '<li><input type="checkbox">todo</li></ul>')
    assert out == "- [x] done\n- [ ] todo"


def test_blockquote_blank_line_keeps_marker_space():
    out = md("<blockquote><p>a</p><p>b</p></blockquote>")
    assert out == "> a\n> \n> b"


def test_fenced_code_with_language():
    out = md('<pre><code class="language-rust">fn x() {}</code></pre>')
    assert out == "```rust\nfn x() {}\n```"


def test_simple_table_gfm():
    out = md("<table><tr><th>h1</th><th>h2</th></tr>"
             "<tr><td>a</td><td>b</td></tr></table>")
    assert out == "| h1 | h2 |\n| --- | --- |\n| a | b |"


def test_layout_table_unwrapped():
    assert md("<table><tr><td><p>only</p></td></tr></table>") == "only"


def test_footnote_ref_and_appendix():
    html = ('<p>text<sup><a href="#fn:1">1</a></sup></p>'
            '<ol class="footnotes-list"><li id="fn:1">note body</li></ol>')
    out = md(html)
    assert "[^1]" in out
    assert out.endswith("[^1]: note body")


def test_callout():
    html = ('<div data-callout="warning" class="callout">'
            '<div class="callout-title"><div class="callout-title-inner">'
            'Careful</div></div>'
            '<div class="callout-content"><p>body</p></div></div>')
    assert md(html) == "> [!warning] Careful\n> body"


def test_leading_title_heading_stripped():
    assert md("<h1>My Title</h1><p>x</p>", title="My Title") == "x"


def test_escape_rules():
    assert escape_md_text("a_b") == "a\\_b"
    assert escape_md_text("_a_") == "_a_"  # only inter-word underscores
    assert escape_md_text("a[b]c") == "a\\[b\\]c"
    assert escape_md_text("x`y") == "x\\`y"


def test_consecutive_images_join():
    out = md('<img src="a.png" alt="a"> <img src="b.png" alt="b">')
    assert out == "![a](a.png) ![b](b.png)"


def test_math_katex_annotation():
    html = ('<p><span class="katex"><annotation '
            'encoding="application/x-tex">x^2</annotation></span></p>')
    assert md(html) == "$x^2$"


def test_srcset_best_width():
    out = md('<p><img srcset="a.png 100w, b.png 800w, c.png 400w"></p>')
    assert out == "![](b.png)"


def test_post_process_space_before_colon():
    """Prose drops the space before a colon that ends a word; lines with
    code or math, lines inside a fence, and colons glued to the next word
    keep it."""
    from trek_spark.extract.markdown import post_process

    cases = {
        "formulæ : 8": "formulæ: 8",
        "ends with :": "ends with:",
        "a :b stays": "a :b stays",
        "no guard here: x": "no guard here: x",
        "`code` : kept": "`code` : kept",
        "$x$ : kept": "$x$ : kept",
        "a : b : c": "a: b: c",
    }
    for line, want in cases.items():
        assert post_process(line, [], "") == want, line
    doc = "before : x\n\n```\nkey : value\n```\n\nafter : y"
    assert post_process(doc, [], "") == (
        "before: x\n\n```\nkey : value\n```\n\nafter: y")


def test_post_process_link_then_punctuation():
    """A space between a link's closing parenthesis and ASCII punctuation
    that ends a word goes, outside fences only; escaped parentheses in
    the URL still count as part of the link."""
    from trek_spark.extract.markdown import post_process

    cases = {
        "see [a](http://x) , then": "see [a](http://x), then",
        "end [a](http://x) ?": "end [a](http://x)?",
        r"[a](http://x/\(y\)) ; z": r"[a](http://x/\(y\)); z",
        "[a](http://x) ,5 stays": "[a](http://x) ,5 stays",
        "(plain) , no link": "(plain) , no link",
        "[a](http://x)!": "[a](http://x)!",
    }
    for line, want in cases.items():
        assert post_process(line, [], "") == want, line
    doc = "```\n[a](http://x) , code\n```\n\n[a](http://x) , prose"
    assert post_process(doc, [], "") == (
        "```\n[a](http://x) , code\n```\n\n[a](http://x), prose")


def test_post_process_line_rules_match_unguarded_patterns():
    """The substring guards never skip a line the two per-line patterns
    would change: seeded random prose lines against the patterns applied
    unconditionally."""
    import random
    import re

    from trek_spark.extract.markdown import post_process

    colon = re.compile(r"(?<=\S) :(?=\s|$)")
    link = re.compile(
        r"(\]\([^()\s]*(?:\\[()][^()\s]*)*\)) (?=[.,;:!?](?:\s|$))")
    tokens = ["word", " ", ":", " :", ")", ") ", "](", "[a](b)", "(c)",
              "[d](e/\\(f\\))", ",", ";", "?", "`", "$", "  ", "\t", "x"]
    rng = random.Random(5)
    for _ in range(3000):
        line = "".join(rng.choice(tokens) for _ in range(rng.randint(1, 9)))
        want = line
        if "`" not in want and "$" not in want:
            want = colon.sub(":", want)
        want = link.sub(r"\1", want)
        assert post_process(line, [], "") == want.strip(), repr(line)
