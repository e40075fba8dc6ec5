"""Mirrors extractor/ContentExtractorTest.java + the rule class tests
(TagNameContentRuleTest, ClassNameContentRuleTest, MinCharacterRuleTest,
ElementStyleRuleTest) and exercises Jsoup text() fidelity (SURVEY §2.4 E8)."""

import pytest

from webcrawler_spark.kernel import (
    ClassNameRule,
    ElementStyleRule,
    LambdaRule,
    MinCharacterRule,
    TagNameRule,
    build_rules,
    extract_content,
    parse,
)
from webcrawler_spark.kernel.rules import RuleError


class TestRules:
    def test_tag_name_case_insensitive(self):
        doc = parse("<html><body><P>hi</P></body></html>")
        p = [e for e in doc.iter_elements() if e.tag == "p"][0]
        assert TagNameRule("p").is_matched(p)
        assert TagNameRule("P").is_matched(p)
        assert not TagNameRule("div").is_matched(p)

    def test_tag_name_ctor_rejects_blank(self):
        with pytest.raises(RuleError):
            TagNameRule("")
        with pytest.raises(RuleError):
            TagNameRule("   ")
        with pytest.raises(RuleError):
            TagNameRule(None)

    def test_class_name_case_sensitive_membership(self):
        doc = parse("<html><body><p class='lead big Main'>x</p></body></html>")
        p = [e for e in doc.iter_elements() if e.tag == "p"][0]
        assert ClassNameRule("lead").is_matched(p)
        assert ClassNameRule("big").is_matched(p)
        assert not ClassNameRule("Lead").is_matched(p)  # case-sensitive (Jsoup hasClass doc)
        assert not ClassNameRule("ain").is_matched(p)   # membership, not substring

    def test_class_name_ctor_rejects_blank(self):
        with pytest.raises(RuleError):
            ClassNameRule(" ")

    def test_min_character_rule(self):
        doc = parse("<html><body><p>  hello  </p></body></html>")
        p = [e for e in doc.iter_elements() if e.tag == "p"][0]
        assert MinCharacterRule(5).is_matched(p)
        assert MinCharacterRule(6).is_matched(p) is False
        assert MinCharacterRule(-3).min_chars == 0  # negative -> 0

    def test_element_style_substring_case_insensitive(self):
        doc = parse('<html><body><span style="Font-Size: 24px; line-height: normal">x</span></body></html>')
        s = [e for e in doc.iter_elements() if e.tag == "span"][0]
        assert ElementStyleRule("font-size: 24px").is_matched(s)
        assert ElementStyleRule("FONT-SIZE").is_matched(s)
        assert not ElementStyleRule("color: red").is_matched(s)

    def test_element_style_blank_style_no_match(self):
        doc = parse("<html><body><span>x</span></body></html>")
        s = [e for e in doc.iter_elements() if e.tag == "span"][0]
        assert not ElementStyleRule("font").is_matched(s)

    def test_build_rules_from_config(self):
        # crawler/CrawlerProperties.java:260-280
        rules = build_rules(
            {"minCharacter": 600, "tagName": "span", "classNames": "a, b ,", "elementStyle": "font"}
        )
        kinds = [type(r).__name__ for r in rules]
        assert kinds == [
            "MinCharacterRule",
            "TagNameRule",
            "ClassNameRule",
            "ClassNameRule",
            "ElementStyleRule",
        ]
        assert build_rules(None) == []
        assert build_rules({"minCharacter": -1}) == []


class TestExtractContent:
    # ContentExtractorTest.extract_nullOrBlankHtml_returnsEmptyList
    def test_null_or_blank_html(self):
        assert extract_content(None, [ClassNameRule("lead")]) == []
        assert extract_content("   ", [ClassNameRule("lead")]) == []

    # ContentExtractorTest.extract_emptyRules_returnsEmptyList
    def test_empty_rules(self):
        html = "<html><body><p>hello</p></body></html>"
        assert extract_content(html, None) == []
        assert extract_content(html, []) == []
        assert extract_content(html, [], []) == []

    # ContentExtractorTest.extract_matchAllRules_requiresAll
    def test_match_all_requires_all(self):
        html = """
            <html><body>
              <p class='lead'>Lead paragraph</p>
              <p>Other paragraph</p>
              <div class='lead'>Not a paragraph</div>
            </body></html>
        """
        out = extract_content(html, None, [TagNameRule("p"), ClassNameRule("lead")])
        assert out == ["Lead paragraph"]

    # ContentExtractorTest.extract_matchAnyOrAll_combined_unionAndParentSkip
    def test_any_or_all_union_and_parent_skip(self):
        html = """
            <html><body>
              <section class='take'>
                <h2>Heading</h2>
                <p class='lead'>Inside Lead</p>
                <p>Inside Para</p>
              </section>
              <div>
                <p class='lead'>Outside Lead</p>
              </div>
            </body></html>
        """
        out = extract_content(
            html,
            [ClassNameRule("lead")],
            [TagNameRule("section"), ClassNameRule("take")],
        )
        assert len(out) == 2
        assert out[0] == "Heading Inside Lead Inside Para"
        assert out[1] == "Outside Lead"

    # ContentExtractorTest.extract_withRules_collectsMatchedElementsInOrder
    def test_collects_in_document_order(self):
        html = """
            <html><body>
              <div id='main'>
                <h1>Title</h1>
                <p class='lead'>Lead paragraph</p>
                <p>Other paragraph</p>
              </div>
              <div id='side'><p class='lead'>Sidebar lead</p></div>
            </body></html>
        """
        main_div = LambdaRule(lambda e: e.attr("id") == "main")
        out = extract_content(html, [main_div, ClassNameRule("lead")])
        assert len(out) == 2
        assert out[0] == "Title Lead paragraph Other paragraph"
        assert out[1] == "Sidebar lead"

    # ContentExtractorTest.extract_nestedMatches_parentWins_childrenSkipped
    def test_parent_wins_children_skipped(self):
        html = """
            <html><body>
              <section id='article'>
                <h2>Heading</h2>
                <p>Para 1</p>
                <p class='take'>Para 2</p>
              </section>
            </body></html>
        """
        article = LambdaRule(lambda e: e.tag == "section" and e.attr("id") == "article")
        take_p = LambdaRule(lambda e: e.tag == "p" and e.has_class("take"))
        out = extract_content(html, [article, take_p])
        assert out == ["Heading Para 1 Para 2"]

    def test_blank_segments_dropped(self):
        html = "<html><body><p>   </p><p>ok</p></body></html>"
        assert extract_content(html, [TagNameRule("p")]) == ["ok"]

    def test_forum_style_match_all(self):
        # The WebCrawlerConfig.json:10-19 rule set over a forum-shaped page
        long_post = "A" * 700
        html = (
            "<html><body>"
            f'<span style="font-size: 24px; line-height: normal">{long_post}</span>'
            '<span style="font-size: 24px; line-height: normal">short</span>'
            f"<span>{long_post}</span>"
            "</body></html>"
        )
        rules = build_rules(
            {
                "minCharacter": 600,
                "tagName": "span",
                "elementStyle": "font-size: 24px; line-height: normal",
            }
        )
        out = extract_content(html, None, rules)
        assert out == [long_post]


class TestJsoupTextFidelity:
    """Jsoup 1.18 Element.text() goldens (SURVEY §2.4 E8, §7 risk #1)."""

    def _body_text(self, html):
        return parse(html).body().text()

    def test_whitespace_collapse(self):
        assert self._body_text("<html><body><p>a   b\n\t c</p></body></html>") == "a b c"

    def test_block_boundary_spacing(self):
        assert self._body_text("<html><body><div>One</div><div>Two</div></body></html>") == "One Two"

    def test_block_then_text(self):
        # jsoup tail rule: <div>One</div>Two -> "One Two"
        assert self._body_text("<html><body><div>One</div>Two</body></html>") == "One Two"

    def test_inline_no_extra_space(self):
        assert self._body_text("<html><body><p>a<b>b</b>c</p></body></html>") == "abc"

    def test_inline_keeps_existing_space(self):
        assert self._body_text("<html><body><p>a <b>b</b> c</p></body></html>") == "a b c"

    def test_br_contributes_space(self):
        assert self._body_text("<html><body><p>a<br>b</p></body></html>") == "a b"

    def test_nbsp_is_whitespace(self):
        assert self._body_text("<html><body><p>a&nbsp;b</p></body></html>") == "a b"
        assert self._body_text("<html><body><p>a&nbsp;&nbsp; b</p></body></html>") == "a b"

    def test_invisible_chars_dropped(self):
        assert self._body_text("<html><body><p>a​b­c</p></body></html>") == "abc"

    def test_pre_preserves_whitespace(self):
        assert (
            self._body_text("<html><body><pre>a\n  b</pre></body></html>")
            == "a\n  b"
        )

    def test_script_style_excluded(self):
        html = "<html><body><p>x</p><script>var a=1;</script><style>.c{}</style></body></html>"
        assert self._body_text(html) == "x"

    def test_trimmed(self):
        assert self._body_text("<html><body>  <p> x </p>  </body></html>") == "x"

    def test_title(self):
        doc = parse("<html><head><title>  My   Title </title></head><body>b</body></html>")
        assert doc.title() == "My Title"

    def test_entities_decoded_in_text(self):
        assert self._body_text("<html><body><p>a &amp; b</p></body></html>") == "a & b"


# ---------------------------------------------------------------------------
# deterministic parse failure (ERROR_PARSE trigger, kernel/dom.py nesting cap)
# ---------------------------------------------------------------------------

def test_nesting_cap_raises_parse_error():
    from webcrawler_spark.kernel.dom import MAX_NESTING_DEPTH, ParseError, parse

    deep = "<div>" * (MAX_NESTING_DEPTH + 10) + "x" + "</div>" * (MAX_NESTING_DEPTH + 10)
    try:
        parse("<html><body>" + deep + "</body></html>")
        assert False, "expected ParseError"
    except ParseError:
        pass
    # one below the cap parses fine (the guard is exact, not approximate)
    ok = "<div>" * 200 + "x" + "</div>" * 200
    doc = parse("<html><body>" + ok + "</body></html>")
    assert doc.body() is not None


def test_extract_page_propagates_parse_error():
    from webcrawler_spark.kernel.dom import ParseError
    from webcrawler_spark.kernel.extract import extract_page

    bad = "<html><body>" + "<div>" * 400 + "x" + "</div>" * 400 + "</body></html>"
    try:
        extract_page(bad, "https://x.example.com/")
        assert False, "expected ParseError"
    except ParseError:
        pass


def test_extract_pages_wrapper_contract():
    """make_extract_pages over one pandas batch (no Spark): one row per input
    row in input order, exactly the EXTRACT_SCHEMA columns (what the crawl
    reads: no body text) plus the carried ones, carried values (nulls
    included) passed through unchanged, and the error shape on null html and
    on a page that raises ParseError."""
    import pandas as pd

    from webcrawler_spark.config import CrawlConfig
    from webcrawler_spark.udfs import EXTRACT_SCHEMA, make_extract_pages

    carry = ["pos", "lang", "warc_ts", "http_status", "fetch_ms"]
    bad = "<html><body>" + "<div>" * 400 + "x" + "</div>" * 400 + "</body></html>"
    ok = (
        "<html><head><title> T </title></head><body><p>one para</p>"
        '<a href="/b">b</a><a href="mailto:x@y">m</a></body></html>'
    )
    pdf = pd.DataFrame(
        {
            "url": [f"https://h.example.com/{i}" for i in range(4)],
            "html": [ok.encode(), b"   ", None, bad.encode()],
            "pos": [0.0, None, 2.0, 3.0],
            "lang": ["en", None, "de", None],
            "warc_ts": pd.to_datetime(["2025-06-01", None, "2025-06-03", None]),
            "http_status": [200.0, 404.0, None, 200.0],
            "fetch_ms": [5.0, None, 7.0, 0.0],
        },
        index=[10, 11, 12, 13],
    )
    fn, _ = make_extract_pages(
        CrawlConfig(content_rules={"tagName": "p"}), carry_cols=carry
    )
    outs = list(fn(iter([pdf])))
    assert len(outs) == 1
    out = outs[0].reset_index(drop=True)

    names = ["url", "title", "segments", "links", "parse_error"]
    assert [f.name for f in EXTRACT_SCHEMA.fields] == names
    assert list(out.columns) == names + carry
    assert list(out["url"]) == list(pdf["url"])
    pd.testing.assert_frame_equal(out[carry], pdf[carry].reset_index(drop=True))

    ok_row, blank, null, broken = out.to_dict("records")
    assert ok_row["title"] == "T" and ok_row["segments"] == ["one para"]
    assert ok_row["links"] == [{"href": "https://h.example.com/b", "pos": 0}]
    assert not ok_row["parse_error"]
    assert (blank["title"], blank["segments"], blank["links"]) == ("", [], [])
    assert not blank["parse_error"]
    for err in (null, broken):
        assert err["parse_error"]
        assert err["links"] == []
        assert err["title"] is None and err["segments"] is None


# ---------------------------------------------------------------------------
# meta description + canonical link (README.md:152 — declared-only)
# ---------------------------------------------------------------------------


def test_select_meta_basic_and_first_wins():
    from webcrawler_spark.kernel.dom import parse, select_meta

    html = (
        '<html><head>'
        '<meta name="keywords" content="x">'
        '<meta name="description" content="first desc">'
        '<meta name="description" content="second desc">'
        '<link rel="stylesheet" href="/s.css">'
        '<link rel="canonical" href="https://c.example.com/page">'
        '<link rel="canonical" href="https://c.example.com/other">'
        "</head><body></body></html>"
    )
    d, c = select_meta(parse(html), "https://a.example.com/x")
    assert d == "first desc"  # first match wins (Jsoup select().attr())
    assert c == "https://c.example.com/page"


def test_select_meta_case_insensitive_and_relative_href():
    from webcrawler_spark.kernel.dom import parse, select_meta

    html = (
        '<head><META NAME="Description" CONTENT="Desc Here">'
        '<LINK REL="Canonical" HREF="/canon/1"></head>'
    )
    d, c = select_meta(parse(html), "https://host.example.com/deep/page")
    assert d == "Desc Here"  # value match case-insensitive, content verbatim
    assert c == "https://host.example.com/canon/1"  # abs:href resolution


def test_select_meta_missing_gives_empty():
    from webcrawler_spark.kernel.dom import parse, select_meta

    d, c = select_meta(parse("<html><body><p>x</p></body></html>"), "https://a/")
    assert d == "" and c == ""
    # empty href: no canonical
    d, c = select_meta(parse('<link rel="canonical" href="">'), "https://a/x")
    assert c == ""


def test_select_anchor_texts_order_and_normalization():
    from webcrawler_spark.kernel.dom import parse, select_anchor_texts

    html = (
        '<body><a href="/a">  One&nbsp;  <b>bold</b>\n word </a>'
        "<a>no href, skipped</a>"
        '<a href="https://x.example.com/b"></a></body>'
    )
    got = select_anchor_texts(parse(html), "https://h.example.com/base/page")
    # &nbsp; collapses too (Jsoup StringUtil.isActuallyWhitespace includes 160)
    assert got == [
        ("https://h.example.com/a", "One bold word", 0),
        ("https://x.example.com/b", "", 1),
    ]
