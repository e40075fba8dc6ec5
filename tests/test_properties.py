"""Property-based tests (hypothesis) over the pure-Python kernel: the
invariants the reference's semantics imply must hold for ARBITRARY inputs,
not just the golden cases — fuzzing the exact surfaces a hostile web feeds
(URLs, HTML fragments, text segments). Pure Python, no Spark session."""

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from webcrawler_spark.kernel.extract import remove_html_tags
from webcrawler_spark.kernel.hashing import (
    compute_hash,
    compute_hash_segments,
    content_length,
    host_hash,
)
from webcrawler_spark.kernel.urlnorm import normalize_url

url_ish = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
    max_size=120,
)
html_ish = st.text(
    alphabet=st.sampled_from(list("<>/ab c=\"'!-&;\n\tx")), max_size=200
)


@settings(max_examples=300, deadline=None)
@given(url_ish)
def test_normalize_url_idempotent_and_invariant(raw):
    out = normalize_url(raw)
    if out is None:
        return
    # normalization is a projection: applying it again changes nothing
    assert normalize_url(out) == out
    # invariants of every accepted url (CrawlerService.java:222-264 rules)
    assert out.startswith(("http://", "https://"))
    assert "#" not in out                       # fragment stripped
    scheme, rest = out.split("://", 1)
    assert scheme == scheme.lower()
    authority = rest.split("/", 1)[0]
    assert authority == authority.lower()       # host lowercased
    assert not authority.endswith((":80", ":443"))  # default ports dropped
    assert rest == "" or "/" in rest             # empty path became '/'


@settings(max_examples=300, deadline=None)
@given(html_ish)
def test_remove_html_tags_fixpoint_and_complete(s):
    out = remove_html_tags(s)
    # no complete tag survives, and the operation is a fixpoint
    assert re.search(r"<[^>]*>", out) is None
    assert remove_html_tags(out) == out


@settings(max_examples=200, deadline=None)
@given(
    st.text(st.characters(min_codepoint=1), max_size=80),
    st.text(st.characters(min_codepoint=1), max_size=80),
)
def test_compute_hash_is_injective_on_the_separator(url, content):
    """url+NUL+content framing: moving a character across the separator must
    change the hash (the reference's NUL framing exists exactly for this —
    WebPageContent.java:213-225). NUL itself is excluded from the data: the
    framing is NOT injective when the payload contains the separator byte
    (hypothesis found url='\\x00', content='' colliding with the swap — the
    reference's '\\0' framing has the identical property; URLs and extracted
    text never legitimately contain NUL)."""
    h = compute_hash(url, content)
    assert re.fullmatch(r"[0-9a-f]{64}", h)
    if url:
        shifted = compute_hash(url[:-1], url[-1] + content)
        assert shifted != h


@settings(max_examples=200, deadline=None)
@given(st.lists(st.one_of(st.none(), st.text(max_size=30)), max_size=8))
def test_segment_hash_sensitive_to_order_and_split(segs):
    h = compute_hash_segments("u", segs)
    assert re.fullmatch(r"[0-9a-f]{64}", h)
    # content_length: nulls count 0, total is the sum of segment lengths
    assert content_length(segs) == sum(len(s) for s in segs if s is not None)
    non_null = [s for s in segs if s]
    if len(non_null) >= 2 and non_null[0] != non_null[-1]:
        swapped = list(segs)
        i, j = segs.index(non_null[0]), len(segs) - 1 - segs[::-1].index(non_null[-1])
        swapped[i], swapped[j] = swapped[j], swapped[i]
        assert compute_hash_segments("u", swapped) != h


@settings(max_examples=300, deadline=None)
@given(st.one_of(st.none(), st.text(max_size=60)))
def test_host_hash_range_and_determinism(host):
    v = host_hash(host)
    assert 0 <= v < (1 << 60)
    assert host_hash(host) == v


# -- DOM kernel: total on arbitrary bytes (a crawler parses hostile HTML) ---

html_hostile = st.lists(
    st.sampled_from(
        list("<>/=\"'! -abdivspn&;#\n\r\t")
        + ["<!--", "-->", "<script>", "</", "<p>", "</div>", "<a href=", "&amp;"]
    ),
    max_size=80,
).map("".join)


@settings(max_examples=200, deadline=None)
@given(html_hostile)
def test_extract_page_total_and_text_normalized(html):
    """The page kernel must be TOTAL on arbitrary input (no crash, ever) and
    the body text must satisfy the Jsoup text() contract: no leading or
    trailing whitespace and no internal whitespace runs."""
    from webcrawler_spark.kernel.extract import body_text, extract_page

    out = extract_page(html, "https://x.test/a")
    text = body_text(html)
    assert text == text.strip()
    assert "  " not in text and "\n" not in text and "\t" not in text
    for href, pos in out.links:
        assert isinstance(href, str) and isinstance(pos, int)


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=200))
def test_extract_page_total_on_arbitrary_bytes(raw):
    from webcrawler_spark.kernel.extract import body_text, extract_page

    extract_page(raw, "https://x.test/a")     # bytes: decode w/ replace
    text = body_text(raw)
    assert text == text.strip()
