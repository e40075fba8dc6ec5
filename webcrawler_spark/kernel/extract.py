"""Rule-gated DFS content extraction + page kernel.

``extract_content`` reimplements ContentExtractor.extractContent
(``extractor/ContentExtractor.java:42-106``): depth-first, document order; an
element matches when it matches ANY of ``match_any_rules`` OR ALL of
``match_all_rules``; on match its (Jsoup-normalized) text is emitted as one
trimmed segment and its children are skipped (parent wins); blank texts are
dropped; both rule sets empty -> no output; null/blank html -> no output.

``extract_page`` is the fused per-page kernel the Spark engine vectorizes:
one parse yielding (title, segments, links-with-positions) — the work of
WebPageProcessor.processUrl (``processor/WebPageProcessor.java:172-195``) and
CrawlerService's link harvest (``service/CrawlerService.java:133-136``) —
and nothing the crawl does not read. ``body_text`` is the full-body Jsoup
text, computed only for the corpus's ``pages.text`` golden.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import List, Optional, Sequence, Tuple

from .dom import Document, Element, parse, select_links
from .rules import Rule, matches_all, matches_any

_TAG_RE = re.compile(r"<[^>]*>")


def remove_html_tags(s: Optional[str]) -> Optional[str]:
    """CrawlerUtils.removeHtmlTags (util/CrawlerUtils.java:13-18):
    ``replaceAll("<[^>]*>", "")``, null-safe, entities untouched."""
    if s is None:
        return None
    return _TAG_RE.sub("", s)


def extract_content(
    html_or_root,
    match_any_rules: Optional[Sequence[Rule]] = None,
    match_all_rules: Optional[Sequence[Rule]] = None,
) -> List[str]:
    """ContentExtractor.extractContent over an HTML string or Element root."""
    if html_or_root is None:
        return []
    if isinstance(html_or_root, (str, bytes)):
        html = html_or_root
        if isinstance(html, bytes):
            html = html.decode("utf-8", errors="replace")
        if html.strip() == "":
            return []
        doc = parse(html)
        root: Element = doc.body()
    else:
        root = html_or_root
    if not match_any_rules and not match_all_rules:
        return []
    out: List[str] = []
    _traverse(root, match_any_rules, match_all_rules, out)
    return out


def _traverse(el: Element, any_rules, all_rules, out: List[str]) -> None:
    # ContentExtractor.traverse (:90-106); parentMatched short-circuits via
    # early return, so the flag is always False on recursion.
    matched = matches_any(el, any_rules) or matches_all(el, all_rules)
    if matched:
        text = el.text()
        if text.strip() != "":
            out.append(text.strip())
        return  # skip children to avoid nested duplicates
    for child in el.child_elements():
        _traverse(child, any_rules, all_rules, out)


@dataclass
class PageExtract:
    title: str
    segments: List[str]            # rule-extracted contents, document order
    links: List[Tuple[str, int]]   # (abs href, document position)


def _parse_page(html) -> Optional[Document]:
    """The parsed page; None for null or blank html. Bytes decode with
    replacement; dom.ParseError propagates."""
    if isinstance(html, bytes):
        html = html.decode("utf-8", errors="replace")
    if html is None or html.strip() == "":
        return None
    return parse(html)


def body_text(html) -> str:
    """Full-body Jsoup text of ``html`` ("" for null or blank html)."""
    doc = _parse_page(html)
    return "" if doc is None else doc.body().text()


def extract_page(
    html,
    base_url: str,
    match_any_rules: Optional[Sequence[Rule]] = None,
    match_all_rules: Optional[Sequence[Rule]] = None,
) -> PageExtract:
    """One-parse page kernel: title + rule segments + links."""
    doc = _parse_page(html)
    if doc is None:
        return PageExtract("", [], [])
    segments = (
        extract_content(doc.body(), match_any_rules, match_all_rules)
        if (match_any_rules or match_all_rules)
        else []
    )
    return PageExtract(
        title=doc.title(),
        segments=segments,
        links=select_links(doc, base_url),
    )
