"""Sequential reference oracle: a pure-Python, single-threaded reimplementation
of the reference crawler's exact semantics, used as the golden for the Spark
engine's distributed equivalents.

Semantics mirrored:
- BFS traversal with FIFO deque + visited set, maxDepth guard, harvest-only at
  maxDepth, entry-enqueue-only-with-processor — service/CrawlerService.java:94-168.
- LinkQueue enqueue-with-dedup + retention (seen set never shrinks) —
  crawler/InMemoryLinkQueue.java:33-52, crawler/LinkQueue.java:14-24.
- Processor doc assembly — processor/WebPageProcessor.java:142-227 (fetch
  missing -> ERROR_FETCH row; title, per-URL rule resolution, matchAll flag,
  extracted segments, contents hash, content length; id = sha256(url) per the
  reference README's designed id).
"""

from __future__ import annotations

from collections import deque
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Set, Tuple

from .config import CrawlConfig
from .kernel.extract import extract_page
from .kernel.filters import compile_patterns, is_accepted
from .kernel.hashing import compute_hash_segments, content_length, sha256_hex
from .kernel.urlnorm import domain_of, normalize_url


@dataclass
class OracleResult:
    queue_order: List[str] = field(default_factory=list)   # LinkQueue drain order
    seen: Set[str] = field(default_factory=set)            # queue dedup set
    visited: Set[str] = field(default_factory=set)         # traversal dedup set
    docs: List[dict] = field(default_factory=list)         # processed documents
    # traversal bookkeeping for the order theorem tests:
    dequeue_ranks: Dict[str, Tuple[int, int]] = field(default_factory=dict)
    # url -> (depth, rank_within_depth) at which it was *traversed*


class LinkQueueOracle:
    """InMemoryLinkQueue semantics (crawler/InMemoryLinkQueue.java:33-59)."""

    def __init__(self) -> None:
        self._queue: deque = deque()
        self._seen: Set[str] = set()

    def enqueue(self, url: Optional[str]) -> None:
        if url is None or url.strip() == "":
            return
        if url not in self._seen:
            self._seen.add(url)
            self._queue.append(url)

    def dequeue(self) -> Optional[str]:
        return self._queue.popleft() if self._queue else None

    def init(self) -> None:
        self._queue.clear()
        self._seen.clear()

    @property
    def seen(self) -> Set[str]:
        return set(self._seen)

    def drain(self) -> List[str]:
        out = []
        while True:
            u = self.dequeue()
            if u is None:
                return out
            out.append(u)


def gate_status_oracle(
    html: Optional[str],
    content_type: Optional[str],
    config: CrawlConfig,
) -> Optional[str]:
    """Sequential twin of operators/contentgate.skip_status_col: the skip
    status for a fetched page, or None when admitted. Content-type precedence
    over size (headers arrive before the body); a missing/None content type
    never skips on the allowlist; size is the utf-8 octet length (the Spark
    side gates on length(html) over the BINARY column)."""
    if html is None:
        return None
    act = config.allowed_content_types
    if act and content_type is not None:
        mt = content_type.split(";", 1)[0].strip().lower()
        if mt not in {t.strip().lower() for t in act}:
            return "SKIPPED_CONTENT_TYPE"
    mcb = config.max_content_bytes
    if mcb is not None and len(html.encode("utf-8")) > int(mcb):
        return "SKIPPED_TOO_LARGE"
    return None


def crawl_oracle(
    corpus: Dict[str, str],
    entry_url: str,
    config: CrawlConfig,
    with_processor: bool = True,
    meta: Optional[Dict[str, Tuple[int, int]]] = None,
    content_types: Optional[Dict[str, str]] = None,
) -> OracleResult:
    """CrawlerService.crawl + worker consumption, sequentially.

    ``corpus`` maps url -> html string; a missing url behaves as a fetch
    failure (fetch() -> null in traversal; ERROR_FETCH doc in processing).
    """
    res = OracleResult()
    queue = LinkQueueOracle()

    # seed-list extension (README.md seed-list design): a str behaves exactly
    # as CrawlerService.crawl(entry); a list seeds the BFS deque in order at
    # depth 0 with first-occurrence dedup across seeds
    seeds = [entry_url] if isinstance(entry_url, str) else list(entry_url)
    starts: List[str] = []
    _start_set: Set[str] = set()  # list membership is O(n) -> O(n^2) over big seed lists
    for s in seeds:
        n = normalize_url(s)
        if n is not None and n not in _start_set:
            _start_set.add(n)
            starts.append(n)
    if not starts:
        return res

    max_depth = max(0, config.max_depth)
    includes = compile_patterns(config.include_url_patterns)
    excludes = compile_patterns(config.exclude_url_patterns)

    frontier: deque = deque()
    for start in starts:
        frontier.append((start, 0))
        res.visited.add(start)
        if with_processor:
            queue.enqueue(start)

    rank_within_depth: Dict[int, int] = {}

    while frontier:
        url, depth = frontier.popleft()
        if depth > max_depth:
            continue
        r = rank_within_depth.get(depth, 0)
        rank_within_depth[depth] = r + 1
        res.dequeue_ranks[url] = (depth, r)

        html = corpus.get(url)  # fetch(); missing/None -> skip silently
        if html is None:
            continue
        if gate_status_oracle(html, (content_types or {}).get(url), config):
            continue  # gated fetch: never parsed, harvests nothing

        try:
            links = extract_page(html, url).links  # document order, abs-resolved
        except Exception:
            continue  # malformed page: harvests nothing (ERROR_PARSE at doc time)

        if depth == max_depth:
            # enqueueFilteredLinks (CrawlerService.java:170-179): enqueue only
            for href, _pos in links:
                n = normalize_url(href)
                if n is None:
                    continue
                if not is_accepted(n, includes, excludes):
                    continue
                queue.enqueue(n)
            continue

        for href, _pos in links:
            n = normalize_url(href)
            if n is None:
                continue
            if not is_accepted(n, includes, excludes):
                continue
            queue.enqueue(n)  # always enqueue accepted links
            if n not in res.visited:
                res.visited.add(n)
                frontier.append((n, depth + 1))

    res.seen = queue.seen
    res.queue_order = queue.drain()

    if with_processor:
        for url in res.queue_order:
            res.docs.append(
                process_url_oracle(
                    corpus, url, config, meta=meta, content_types=content_types
                )
            )
        mark_duplicates(res.docs)
    return res


def mark_duplicates(docs: List[dict]) -> None:
    """Content-hash dedup (CrawlStatus.DUPLICATE, model/CrawlStatus.java:19-20;
    README.md:156): among OK docs with identical NON-EMPTY contents, the first
    by queue position stays OK, the rest become DUPLICATE. ``docs`` must be in
    queue order (they are: built by iterating queue_order)."""
    seen_keys: Set[str] = set()
    for d in docs:
        if d["status"] != "OK" or not d["contents"]:
            continue
        key = "".join(d["contents"])
        if key in seen_keys:
            d["status"] = "DUPLICATE"
        else:
            seen_keys.add(key)


def process_url_oracle(
    corpus: Dict[str, str],
    url: str,
    config: CrawlConfig,
    meta: Optional[Dict[str, Tuple[int, int]]] = None,
    content_types: Optional[Dict[str, str]] = None,
) -> dict:
    """WebPageProcessor.processUrl (:142-227) against the corpus 'fetch'.

    ``meta`` maps url -> (http_status, fetch_ms) (the corpus P2 fidelity
    columns); absent -> 200/0. A kernel parse failure yields ERROR_PARSE with
    the fetched http_status kept and the ``crawlDepth = maxDepth`` quirk
    (WebPageProcessor.java:216-227, :224).
    """
    html = corpus.get(url)
    if html is None:
        return {
            "id": None,
            "url": url,
            "domain": domain_of(url),
            "status": "ERROR_FETCH",
            "http_status": None,
            "fetch_duration_ms": 0,
            "title": None,
            "contents": None,
            "content_length": 0,
            "out_links": None,
            "hash": compute_hash_segments(url, None),
            "crawl_depth": None,
        }
    http_status, fetch_ms = (meta or {}).get(url, (200, 0))
    gate = gate_status_oracle(html, (content_types or {}).get(url), config)
    if gate is not None:
        # fetched but never parsed: fetch evidence kept, content fields empty
        # (process_queue's gated-row shape; fetch_ms rides the P8 clamp like every doc row)
        return {
            "id": None,
            "url": url,
            "domain": domain_of(url),
            "status": gate,
            "http_status": http_status,
            "fetch_duration_ms": max(0, fetch_ms),
            "title": None,
            "contents": None,
            "content_length": 0,
            "out_links": None,
            "hash": compute_hash_segments(url, None),
            "crawl_depth": None,
        }
    rules = config.get_content_rules(url)
    match_all = config.match_all_by_url(url)
    try:
        page = extract_page(
            html,
            url,
            match_any_rules=None if match_all else rules,
            match_all_rules=rules if match_all else None,
        )
    except Exception:
        return {
            "id": None,
            "url": url,
            "domain": domain_of(url),
            "status": "ERROR_PARSE",
            "http_status": http_status,
            "fetch_duration_ms": fetch_ms,
            "title": None,
            "contents": None,
            "content_length": 0,
            "out_links": None,
            "hash": compute_hash_segments(url, None),
            "crawl_depth": max(0, config.max_depth),  # the :224 quirk
        }
    contents = page.segments
    return {
        "id": sha256_hex(url),
        "url": url,
        "domain": domain_of(url),
        "status": "OK",
        "http_status": http_status,
        "fetch_duration_ms": fetch_ms,
        "title": page.title,
        "contents": contents,
        "content_length": content_length(contents),
        "out_links": [
            n
            for n, _ in (
                (normalize_url(href), pos) for href, pos in page.links
            )
            if n is not None
        ],
        "hash": compute_hash_segments(url, contents),
        "crawl_depth": None,  # only set on ERROR_PARSE in the reference (:224)
    }


# ---------------------------------------------------------------------------
# Politeness-windowed crawl (per-host admission budget + robots gate)
# ---------------------------------------------------------------------------

def _robots_blocked(url: str, robots: Optional[Dict[str, List[str]]]) -> bool:
    """Per-host path-prefix disallow (README.md:145-147 designed semantics)."""
    if not robots:
        return False
    host = domain_of(url)
    if host is None:
        return False
    prefixes = robots.get(host)
    if not prefixes:
        return False
    # path exactly as apply_robots: everything after the authority
    rest = url.split("://", 1)[-1]
    slash = rest.find("/")
    path = rest[slash:] if slash >= 0 else "/"
    return any(path.startswith(p) for p in prefixes)


@dataclass
class PoliteOracleResult(OracleResult):
    rounds: int = 0
    admitted_per_round: List[int] = field(default_factory=list)


def crawl_oracle_polite(
    corpus: Dict[str, str],
    entry_url,
    config: CrawlConfig,
    robots: Optional[Dict[str, List[str]]] = None,
    max_rounds: int = 10_000,
    meta: Optional[Dict[str, Tuple[int, int]]] = None,
    delays: Optional[Dict[str, int]] = None,
    window_ms: Optional[int] = None,
    global_qps: Optional[int] = None,
    max_concurrent: Optional[int] = None,
    max_pages: Optional[int] = None,
    content_types: Optional[Dict[str, str]] = None,
) -> PoliteOracleResult:
    """The reference BFS extended with the *designed* politeness + robots
    semantics (README.md:55-57,145-147 — declared, never implemented there;
    north_rule requires them). Definitions this oracle fixes, mirrored by
    rounds.run_polite_crawl:

    - pending frontier is a deque in global discovery order; each ROUND admits,
      per host, the first ``per_host_budget`` pending URLs in that order; the
      rest defer to the next round unchanged (budget None = admit all).
    - robots-blocked URLs consume admission budget but are neither fetched nor
      harvested; at processing time they become SKIPPED_ROBOTS docs.
    - links of an admitted page are enqueued exactly as the base crawl
      (always-enqueue-accepted, queue dedup); children are pushed to pending
      iff unvisited and child depth <= maxDepth (harvest-only at maxDepth).
    - with ``delays`` (host -> crawl_delay_ms): TIMED politeness. Round r
      spans virtual time [r·W, (r+1)·W); a host serving from
      t0 = max(next_allowed_ts, r·W) admits k = min(budget,
      ceil(((r+1)·W − t0) / delay)) URLs (every fetch STARTING before round
      end counts) and its clock advances to t0 + served·delay — the
      inter-round politeness window state (README.md:55-57) mirrored by
      admission.timed_admit.
    - ``max_concurrent`` (maxConcurrentPerDomain, README.md:55-57): an extra
      per-host-per-round cap min'd into k — a fetch occupies its slot for the
      round window, so at most that many per host are in flight per round.
    - ``max_pages`` (maxPages, README.md:50,:144): the job's total
      admitted-fetch budget. The in-round remainder prefix-cuts the admitted
      set in global discovery order (same shape as the globalQps cut); the
      crawl stops once the budget is spent. Discovery state (queue/seen)
      keeps everything found up to the cut.
    - ``global_qps`` (globalQps): the round admits at most
      floor(global_qps · window_ms / 1000) URLs TOTAL, keeping the first G of
      the per-host-admitted set in global discovery order; overflow defers
      (each host's final admitted set stays a prefix of its per-host order),
      and timed clocks advance only by URLs actually served after the cut —
      mirrored by admission.timed_admit(global_cap)/global_cap_admit.
    """
    res = PoliteOracleResult()
    queue = LinkQueueOracle()

    seeds = [entry_url] if isinstance(entry_url, str) else list(entry_url)
    starts: List[str] = []
    _start_set: Set[str] = set()  # list membership is O(n) -> O(n^2) over big seed lists
    for s in seeds:
        n = normalize_url(s)
        if n is not None and n not in _start_set:
            _start_set.add(n)
            starts.append(n)
    if not starts:
        return res

    max_depth = max(0, config.max_depth)
    budget = config.per_host_budget
    if window_ms is None:
        window_ms = config.politeness_window_ms
    if global_qps is None:
        global_qps = config.global_qps
    if max_concurrent is None:
        max_concurrent = config.max_concurrent_per_domain
    includes = compile_patterns(config.include_url_patterns)
    excludes = compile_patterns(config.exclude_url_patterns)

    pending: deque = deque((u, 0) for u in starts)
    for u in starts:
        res.visited.add(u)
        queue.enqueue(u)

    global_cap = (
        int(global_qps * window_ms / 1000) if global_qps is not None else None
    )
    if max_pages is None:
        max_pages = config.max_pages
    fetched_total = 0
    next_allowed: Dict[str, int] = {}
    while (
        pending
        and res.rounds < max_rounds
        and (max_pages is None or fetched_total < max_pages)
    ):
        r = res.rounds
        res.rounds += 1
        admitted: List[Tuple[str, int]] = []
        host_counts: Dict[str, int] = {}
        host_k: Dict[str, float] = {}
        host_t0: Dict[str, int] = {}
        for u, d in pending:
            h = domain_of(u) or ""
            if h not in host_k:
                delay = (delays or {}).get(h, 0)
                t0 = max(next_allowed.get(h, 0), r * window_ms)
                host_t0[h] = t0
                if delay and delay > 0:
                    import math

                    # every fetch STARTING before round end counts (ceil):
                    # k = #{i >= 0 : t0 + i*delay < (r+1)*W}
                    k: float = max(0, math.ceil(((r + 1) * window_ms - t0) / delay))
                else:
                    k = float("inf")
                if budget is not None:
                    k = min(k, budget)
                if max_concurrent is not None:
                    k = min(k, max_concurrent)
                host_k[h] = k
            c = host_counts.get(h, 0)
            if c < host_k[h]:
                host_counts[h] = c + 1
                admitted.append((u, d))
        if global_cap is not None:
            # global budget: keep the first G in discovery order, defer the
            # rest (a prefix cut per host — per-host ordering preserved)
            admitted = admitted[:global_cap]
        if max_pages is not None:
            admitted = admitted[: max(0, max_pages - fetched_total)]
        fetched_total += len(admitted)
        adm_set = {u for u, _ in admitted}
        # deferred = pending minus final admitted, in original discovery order
        # (urls are unique in pending: the visited gate pushes each once)
        pending = deque(p for p in pending if p[0] not in adm_set)
        if delays:
            final_counts: Dict[str, int] = {}
            for u, _ in admitted:
                h = domain_of(u) or ""
                final_counts[h] = final_counts.get(h, 0) + 1
            for h, c in final_counts.items():
                delay = delays.get(h, 0)
                if c > 0 and delay > 0:
                    next_allowed[h] = host_t0[h] + c * delay
        res.admitted_per_round.append(len(admitted))

        for u, d in admitted:
            if _robots_blocked(u, robots):
                continue  # budget consumed, nothing fetched or harvested
            html = corpus.get(u)
            if html is None:
                continue
            if gate_status_oracle(html, (content_types or {}).get(u), config):
                continue  # gated fetch: budget consumed, harvests nothing
            try:
                harvested = extract_page(html, u).links
            except Exception:
                continue  # malformed page: harvests nothing
            for href, _pos in harvested:
                n = normalize_url(href)
                if n is None or not is_accepted(n, includes, excludes):
                    continue
                queue.enqueue(n)
                if d < max_depth and n not in res.visited:
                    res.visited.add(n)
                    pending.append((n, d + 1))

    res.seen = queue.seen
    res.queue_order = queue.drain()
    for url in res.queue_order:
        if _robots_blocked(url, robots):
            doc = {
                "id": None,
                "url": url,
                "domain": domain_of(url),
                "status": "SKIPPED_ROBOTS",
                "http_status": None,
                "fetch_duration_ms": 0,
                "title": None,
                "contents": None,
                "content_length": 0,
                "out_links": None,
                "hash": compute_hash_segments(url, None),
                "crawl_depth": None,
            }
        else:
            doc = process_url_oracle(
                corpus, url, config, meta=meta, content_types=content_types
            )
        res.docs.append(doc)
    mark_duplicates(res.docs)
    return res
