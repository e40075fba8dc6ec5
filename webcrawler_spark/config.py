"""Crawl configuration: the reference's WebCrawlerConfig.json shape.

Mirrors crawler/CrawlerProperties.java: config fields (:31-67), per-URL rule
resolution via *full-match* regex (``getContentRules``, :210-228 — note
``String.matches`` full-match semantics, unlike the include/exclude filters'
``find()``), matchAll flag resolution (``matchAllByUrl``, :189-195), and rule
construction (``buildRules``, :260-280). Defaults follow
``src/main/resources/WebCrawlerConfig.json:1-27``.

The config is a small driver-side object, broadcast into pandas UDFs.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from typing import List, Optional

from .kernel.rules import Rule, build_rules


@dataclass
class PageConfig:
    url_pattern: str
    match_all: bool = False
    content_rules: Optional[dict] = None


@dataclass
class CrawlConfig:
    max_depth: int = 2
    include_url_patterns: List[str] = field(default_factory=list)
    exclude_url_patterns: List[str] = field(default_factory=list)
    content_rules: Optional[dict] = None       # generic rules config
    pages: List[PageConfig] = field(default_factory=list)
    # engine-only extensions (reference README design, not in its code):
    per_host_budget: Optional[int] = None      # politeness: URLs/host/round
    obey_robots: bool = False                  # jobs/crawl.py needs --robots for it
    # virtual round length for timed politeness (README.md:55-57 designs
    # politenessDelayMs 2000 ≈ 5 fetches per 10 s window): round r spans
    # [r·W, (r+1)·W) ms and per-host next_allowed_ts carries between rounds
    politeness_window_ms: int = 10_000
    # global politeness caps (reference README.md:55-57 "globalQps: 5",
    # "maxConcurrentPerDomain: 2" — designed there, never implemented):
    # globalQps caps the round's TOTAL admissions at floor(qps · W/1000),
    # taken in global discovery order AFTER per-host admission (each host's
    # final admitted set stays a prefix of its per-host order, so per-host
    # politeness invariants survive the cut); maxConcurrentPerDomain caps a
    # host's in-flight fetches per round-window at c — in the batch-round
    # model where a fetch occupies its slot for the window, that is an
    # additional per-host-per-round admission cap of c
    global_qps: Optional[int] = None
    max_concurrent_per_domain: Optional[int] = None
    # maxPages (reference README.md:50 "maxPages: 1000", :144 "cap depth and
    # total pages per job"): total ADMITTED fetches per crawl job. When the
    # budget runs out mid-round the admitted set is prefix-cut in global
    # discovery order (same machinery as globalQps); discovery state (queue /
    # seen) keeps everything found up to the cut, and the crawl stops.
    max_pages: Optional[int] = None
    # content gate (README.md:60 "allowedContentTypes: [text/html]",
    # README.md:212 "max content size limits" — both declared-only in the
    # reference): fetched rows failing either check become
    # SKIPPED_CONTENT_TYPE / SKIPPED_TOO_LARGE docs and NEVER enter the
    # Python parse stage (operators/contentgate.py). None = gate off.
    allowed_content_types: Optional[List[str]] = None
    max_content_bytes: Optional[int] = None

    def __post_init__(self) -> None:
        self._generic_rules: List[Rule] = build_rules(self.content_rules)
        self._page_rules = {}
        for p in self.pages:
            if p and p.url_pattern:
                self._page_rules[p.url_pattern] = build_rules(p.content_rules)

    @property
    def has_content_rules(self) -> bool:
        """True when any extraction rule exists anywhere (generic or per-page).
        When False, extraction yields empty contents for EVERY page by
        reference semantics (ContentExtractor.java:83-88: both rule sets empty
        -> empty result), so identical-non-empty-contents DUPLICATE marking
        (model/CrawlStatus.java:14-16) cannot fire on any document."""
        return bool(self._generic_rules) or any(self._page_rules.values())

    # -- rule resolution ------------------------------------------------------
    def get_content_rules(self, url: Optional[str]) -> List[Rule]:
        """First page whose urlPattern fully matches wins; else generic rules
        (CrawlerProperties.java:210-228). Invalid patterns skipped."""
        if url is None or url.strip() == "":
            return self._generic_rules
        for p in self.pages:
            if p is None or not p.url_pattern or p.url_pattern.strip() == "":
                continue
            try:
                if re.fullmatch(p.url_pattern, url):
                    rules = self._page_rules.get(p.url_pattern)
                    if rules is not None:
                        return rules
            except re.error:
                continue
        return self._generic_rules

    def match_all_by_url(self, url: Optional[str]) -> bool:
        """Any page pattern fully matching with matchAll=True
        (CrawlerProperties.java:189-195)."""
        if url is None or url.strip() == "" or not self.pages:
            return False
        for p in self.pages:
            try:
                if p.match_all and re.fullmatch(p.url_pattern, url):
                    return True
            except re.error:
                continue
        return False

    # -- (de)serialization ------------------------------------------------------
    @classmethod
    def from_dict(cls, d: dict) -> "CrawlConfig":
        """Load a WebCrawlerConfig.json-shaped dict. The reference's
        ``userAgent``, ``requestTimeoutMs``, ``queueNamespace`` and
        ``indexPrefix`` keys are accepted and ignored: the engine has no HTTP
        client, Redis queue or ES index."""
        pages = [
            PageConfig(
                url_pattern=p.get("urlPattern", ""),
                match_all=bool(p.get("matchAll", False)),
                content_rules=p.get("contentRules"),
            )
            for p in d.get("pages", []) or []
        ]
        return cls(
            max_depth=d.get("maxDepth", 2),
            include_url_patterns=d.get("includeUrlPatterns", []) or [],
            exclude_url_patterns=d.get("excludeUrlPatterns", []) or [],
            content_rules=d.get("contentRules"),
            pages=pages,
            per_host_budget=d.get("perHostBudget"),
            obey_robots=bool(d.get("obeyRobotsTxt", False)),
            politeness_window_ms=d.get("politenessWindowMs", 10_000),
            global_qps=d.get("globalQps"),
            max_concurrent_per_domain=d.get("maxConcurrentPerDomain"),
            max_pages=d.get("maxPages"),
            allowed_content_types=d.get("allowedContentTypes"),
            max_content_bytes=d.get("maxContentBytes"),
        )

    @classmethod
    def from_json(cls, path: str) -> "CrawlConfig":
        with open(path, "r", encoding="utf-8") as f:
            return cls.from_dict(json.load(f))
