"""Metadata extraction unit tests (cases mirror reference
src/metadata.rs:805-945 embedded tests)."""

from trek_spark.dom.parser import parse_html
from trek_spark.extract.head_scan import collect_from_dom
from trek_spark.extract.metadata import (
    clean_author_string,
    clean_title,
    extract_metadata,
    is_placeholder,
    parse_date_text,
    schema_property,
)


def test_placeholder_detection():
    assert is_placeholder("{{title}}")
    assert is_placeholder("#xauthor")
    assert is_placeholder(". .")
    assert is_placeholder("-")
    assert not is_placeholder("Real Title")


def test_clean_title_site_suffix():
    title, site = clean_title("My Article | Example Site", "Example Site")
    assert title == "My Article"
    assert site == "Example Site"


def test_clean_title_site_prefix():
    title, site = clean_title("Example Site - My Article", "Example Site")
    assert title == "My Article"


def test_clean_title_heuristic_dash():
    title, site = clean_title("A Long Interesting Article Title - Blog", "")
    assert title == "A Long Interesting Article Title"
    assert site == "Blog"


def test_clean_title_no_split_when_balanced():
    title, _ = clean_title("One - Two", "")
    assert title == "One - Two"  # guard: title must be > site words


def test_clean_author():
    assert clean_author_string("By Jane Doe") == "Jane Doe"
    assert clean_author_string("Jane Doe and John Smith") == \
        "Jane Doe, John Smith"
    assert clean_author_string("Jane (https://x.com/jane)") == "Jane"


def test_parse_date_text():
    assert parse_date_text("26 February 2025") == "2025-02-26T00:00:00+00:00"
    assert parse_date_text("February 26, 2025") == "2025-02-26T00:00:00+00:00"
    assert parse_date_text("no date here") is None


def test_schema_property_walker():
    data = [{"publisher": {"name": "Acme"},
             "author": [{"name": "A"}, {"name": "B"}]}]
    assert schema_property(data, "publisher.name") == "Acme"
    assert schema_property(data, "author.name") == "A, B"
    assert schema_property(data, "missing.path") is None


def test_head_scan_collects_signals():
    html = """
    <html><head>
      <title>Doc &mdash; Title</title>
      <meta name="author" content="Jane">
      <meta property="og:title" content="OG Title">
      <link rel="canonical" href="https://example.com/a">
      <link rel="icon" href="/fav.ico">
      <script type="application/ld+json">
        {"@graph": [{"@type": "Article", "headline": "H"}]}
      </script>
    </head><body><p>x</p></body></html>
    """
    data = collect_from_dom(parse_html(html))
    assert data.title == "Doc — Title"
    assert data.canonical == "https://example.com/a"
    assert data.favicon == "/fav.ico"
    assert {"name": "author", "property": None, "content": "Jane"} in data.meta_tags
    assert data.schema_org_data[0]["headline"] == "H"


def test_metadata_priority_chain():
    html = """
    <html><head>
      <title>T | Site</title>
      <meta property="og:title" content="{{placeholder}}">
      <meta name="twitter:title" content="Real Title">
      <meta property="og:site_name" content="Site">
      <meta name="author" content="By Jane Doe">
    </head><body></body></html>
    """
    md = extract_metadata(collect_from_dom(parse_html(html)),
                          "https://www.example.com/x")
    assert md["title"] == "Real Title"  # placeholder og:title skipped
    assert md["site"] == "Site"
    assert md["author"] == "Jane Doe"
    assert md["domain"] == "example.com"
