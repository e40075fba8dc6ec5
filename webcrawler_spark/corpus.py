"""Deterministic synthetic Common-Crawl-style corpus generator.

Produces the ``pages`` table with the exact ``input_hint`` schema
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``
plus ``seeds`` and ``robots`` tables (FIXTURES.md §1). All generation is a pure
function of (seed, scale): no wall-clock, no external data.

Topology knobs (FIXTURES.md §1.1): Zipf(s≈1.2) pages-per-host skew (exercises
hot-host salting), 80/20 intra/cross-host links, ~5% dangling links (the
ERROR_FETCH path), ~10% duplicate links on a page (first-occurrence dedup),
plus mailto:/javascript:/#fragment links mirroring the reference's
CrawlerServiceTest in-process server pages (service/CrawlerServiceTest.java:181-250).

``pages.text`` is *defined* as the kernel's body text of ``html``, so the
byte-identical invariant is testable end-to-end.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from typing import Dict, List, Optional, Tuple

from .kernel.extract import extract_page

EPOCH = datetime(2025, 6, 1, tzinfo=timezone.utc)

_WORDS = (
    "planet orbit neptune survey hypothetical telescope observation gravity "
    "kuiper belt astronomer evidence signal distant solar system object mass "
    "cluster frontier crawl queue spark shuffle partition vector arrow batch "
    "column table schema index shard replica merge segment token corpus text"
).split()

_LANGS = ["en", "en", "en", "de", "fr", "es", "ja"]


@dataclass
class SyntheticCorpus:
    pages: Dict[str, Tuple[datetime, str, str]] = field(default_factory=dict)
    # url -> (warc_ts, html, lang); `text` derived on materialization
    seeds: List[str] = field(default_factory=list)
    robots: List[dict] = field(default_factory=list)
    hosts: List[str] = field(default_factory=list)
    # url -> (http_status, fetch_ms): per-page fetch fidelity (P2). Jsoup's
    # ignoreHttpErrors(true) means non-200 pages still parse -> OK docs carry
    # their real http status (WebPageProcessor.java:149-153,176).
    meta: Dict[str, Tuple[int, int]] = field(default_factory=dict)

    def rows(self) -> List[dict]:
        out = []
        for url, (ts, html, lang) in self.pages.items():
            try:
                body_text: Optional[str] = extract_page(html, url).text
            except Exception:
                body_text = None  # malformed page: the kernel's ERROR_PARSE path
            status, fetch_ms = self.meta.get(url, (200, 0))
            out.append(
                {
                    "url": url,
                    "warc_ts": ts,
                    "html": html.encode("utf-8"),
                    "text": body_text,
                    "lang": lang,
                    "http_status": status,
                    "fetch_ms": fetch_ms,
                }
            )
        return out


def _sentence(rng: random.Random, n_words: int) -> str:
    words = [rng.choice(_WORDS) for _ in range(n_words)]
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _paragraph(rng: random.Random, min_chars: int, max_chars: int) -> str:
    target = rng.randint(min_chars, max_chars)
    parts: List[str] = []
    total = 0
    while total < target:
        s = _sentence(rng, rng.randint(4, 12))
        parts.append(s)
        total += len(s) + 1
    return " ".join(parts)


def _article_html(rng: random.Random, title: str, links: List[str]) -> str:
    """Article-like page (≈ planet-x.html shape): h1, h2 sections, mixed <p>."""
    buf = [
        "<!doctype html><html><head><title>",
        title,
        "</title></head><body>",
        f"<h1>{_sentence(rng, 4)[:-1]}?</h1>",
    ]
    for _ in range(rng.randint(1, 3)):
        buf.append(f"<h2>{_sentence(rng, 2)[:-1]}</h2>")
        for _ in range(rng.randint(1, 4)):
            buf.append(f"<p>{_paragraph(rng, 20, 400)}</p>")
    buf.append("<ul>")
    for href in links:
        buf.append(f'<li><a href="{href}">{_sentence(rng, 2)[:-1]}</a></li>')
    buf.append("</ul></body></html>")
    return "".join(buf)


def _forum_html(rng: random.Random, title: str, links: List[str]) -> str:
    """Forum-like page: >=600-char spans with the WebCrawlerConfig.json style."""
    buf = [
        "<!doctype html><html><head><title>",
        title,
        "</title></head><body><div class='posts'>",
    ]
    for _ in range(rng.randint(1, 3)):
        buf.append(
            '<span style="font-size: 24px; line-height: normal">'
            + _paragraph(rng, 600, 900)
            + "</span>"
        )
        buf.append(f"<span>{_paragraph(rng, 30, 120)}</span>")
    buf.append("</div><div class='nav'>")
    for href in links:
        buf.append(f'<a href="{href}">next</a>')
    buf.append("</div></body></html>")
    return "".join(buf)


def _malformed_html(title: str) -> str:
    """Pathologically nested markup that trips the kernel's deterministic
    MAX_NESTING_DEPTH guard (kernel/dom.py) — the ERROR_PARSE fixture."""
    depth = 300
    return (
        "<!doctype html><html><head><title>"
        + title
        + "</title></head><body>"
        + "<div>" * depth
        + "deep"
        + "</div>" * depth
        + "</body></html>"
    )


def _page_status(rng: random.Random) -> Tuple[int, int]:
    """(http_status, fetch_ms): mostly 200, ~4% 404, ~3% 500 (still parsed —
    ignoreHttpErrors semantics); deterministic synthetic fetch duration."""
    r = rng.random()
    status = 404 if r < 0.04 else (500 if r < 0.07 else 200)
    return status, rng.randint(5, 1500)


def _trivial_html(rng: random.Random, title: str, links: List[str]) -> str:
    """Trivial link page mirroring CrawlerServiceTest's in-process server pages,
    including mailto:/javascript:/#fragment noise links."""
    buf = [
        "<!doctype html><html><head><title>",
        title,
        "</title></head><body><p>",
        _paragraph(rng, 10, 60),
        "</p>",
        '<a href="mailto:someone@example.com">mail</a>',
        '<a href="javascript:void(0)">js</a>',
        '<a href="#section">frag</a>',
    ]
    for href in links:
        buf.append(f'<a href="{href}">link</a>')
    buf.append("</body></html>")
    return "".join(buf)


def generate_corpus(
    seed: int = 42,
    n_hosts: int = 8,
    n_pages: int = 120,
    zipf_s: float = 1.2,
    intra_host_frac: float = 0.8,
    dangling_frac: float = 0.05,
    dup_link_frac: float = 0.10,
    max_links_per_page: int = 12,
    malformed_frac: float = 0.05,
    dup_page_frac: float = 0.08,
) -> SyntheticCorpus:
    rng = random.Random(seed)
    hosts = [f"host{h:03d}.example.com" for h in range(n_hosts)]

    # Zipf-ish pages-per-host allocation (rank-proportional 1/r^s)
    weights = [1.0 / ((r + 1) ** zipf_s) for r in range(n_hosts)]
    wsum = sum(weights)
    alloc = [max(1, round(n_pages * w / wsum)) for w in weights]
    urls_by_host: List[List[str]] = []
    for h, host in enumerate(hosts):
        urls_by_host.append(
            [f"https://{host}/page/{i}" for i in range(alloc[h])]
        )
    all_urls = [u for urls in urls_by_host for u in urls]

    corpus = SyntheticCorpus(hosts=hosts)
    _last_normal: Dict[str, str] = {}  # per-host most recent normal html

    for h, host in enumerate(hosts):
        for url in urls_by_host[h]:
            n_links = rng.randint(0, max_links_per_page)
            links: List[str] = []
            for _ in range(n_links):
                if rng.random() < dangling_frac:
                    links.append(
                        f"https://{host}/missing/{rng.randint(0, 10**6)}"
                    )
                elif rng.random() < intra_host_frac:
                    links.append(rng.choice(urls_by_host[h]))
                else:
                    links.append(rng.choice(all_urls))
            # duplicate some links in-page (first-occurrence dedup exercise)
            if links and rng.random() < dup_link_frac:
                links.append(rng.choice(links))
            # relative links within host (abs:href resolution exercise)
            links = [
                l.split(host, 1)[1] if (rng.random() < 0.3 and host in l) else l
                for l in links
            ]
            kind = rng.random()
            title = f"Page {url.rsplit('/', 1)[1]} on {host}"
            special = rng.random()
            if special < malformed_frac:
                # ERROR_PARSE fixture (no harvestable links by construction)
                html = _malformed_html(title)
            elif special < malformed_frac + dup_page_frac and _last_normal.get(host):
                # byte-identical copy of an earlier same-host page: the
                # DUPLICATE-status fixture (content-hash dedup, README.md:156)
                html = _last_normal[host]
            elif kind < 0.45:
                html = _article_html(rng, title, links)
            elif kind < 0.7:
                html = _forum_html(rng, title, links)
            else:
                html = _trivial_html(rng, title, links)
            if special >= malformed_frac + dup_page_frac:
                _last_normal[host] = html
            ts = EPOCH + timedelta(seconds=rng.randint(0, 86400 * 30))
            lang = rng.choice(_LANGS)
            corpus.pages[url] = (ts, html, lang)
            corpus.meta[url] = _page_status(rng)

    # seeds: first page of the largest few hosts
    corpus.seeds = [urls_by_host[h][0] for h in range(min(3, n_hosts))]

    # robots: ~10% of hosts disallow /page/ prefix subsets; crawl delays
    for host in hosts:
        disallow = ["/missing/"]
        if rng.random() < 0.10:
            disallow.append("/page/1")
        corpus.robots.append(
            {
                "host": host,
                "fetched_ts": EPOCH,
                "disallow": disallow,
                "crawl_delay_ms": rng.choice([0, 500, 2000]),
            }
        )
    return corpus


def write_parquet(corpus: SyntheticCorpus, out_dir: str) -> None:
    """Materialize pages/seeds/robots as parquet via pyarrow (Spark-readable)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os

    os.makedirs(out_dir, exist_ok=True)
    rows = corpus.rows()
    pages = pa.table(
        {
            "url": [r["url"] for r in rows],
            "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us", tz="UTC")),
            "html": pa.array([r["html"] for r in rows], pa.binary()),
            "text": [r["text"] for r in rows],
            "lang": [r["lang"] for r in rows],
        }
    )
    pages = pages.append_column(
        "http_status", pa.array([r["http_status"] for r in rows], pa.int32())
    ).append_column("fetch_ms", pa.array([r["fetch_ms"] for r in rows], pa.int64()))
    pq.write_table(pages, f"{out_dir}/pages.parquet")
    seeds = pa.table(
        {
            "seed_id": pa.array(range(len(corpus.seeds)), pa.int64()),
            "url": corpus.seeds,
        }
    )
    pq.write_table(seeds, f"{out_dir}/seeds.parquet")
    robots = pa.table(
        {
            "host": [r["host"] for r in corpus.robots],
            "fetched_ts": pa.array(
                [r["fetched_ts"] for r in corpus.robots], pa.timestamp("us", tz="UTC")
            ),
            "disallow": pa.array([r["disallow"] for r in corpus.robots], pa.list_(pa.string())),
            "crawl_delay_ms": pa.array(
                [r["crawl_delay_ms"] for r in corpus.robots], pa.int64()
            ),
        }
    )
    pq.write_table(robots, f"{out_dir}/robots.parquet")


# ---------------------------------------------------------------------------
# Distributed generation (the scale path: millions of pages via mapInPandas)
# ---------------------------------------------------------------------------

def zipf_alloc(n_hosts: int, n_pages: int, zipf_s: float = 1.2) -> List[int]:
    """Closed-form Zipf-ish pages-per-host allocation (same formula as
    ``generate_corpus``); computable identically on driver and executors."""
    weights = [1.0 / ((r + 1) ** zipf_s) for r in range(n_hosts)]
    wsum = sum(weights)
    return [max(1, round(n_pages * w / wsum)) for w in weights]


def _page_decision(
    seed: int, host_idx: int, page_idx: int,
    malformed_frac: float = 0.05, dup_page_frac: float = 0.08,
) -> Tuple[str, Optional[int]]:
    """Pure per-page special-page decision: ('malformed'|'dup'|'normal', src).
    Dup pages copy an earlier same-host NORMAL page (checking the target's own
    decision keeps copies one level deep — indices strictly decrease, so the
    check terminates)."""
    rng = random.Random(f"{seed}:decide:host{host_idx:03d}:page{page_idx}")
    r = rng.random()
    if r < malformed_frac:
        return "malformed", None
    if r < malformed_frac + dup_page_frac and page_idx > 0:
        t = rng.randrange(page_idx)
        if _page_decision(seed, host_idx, t, malformed_frac, dup_page_frac)[0] == "normal":
            return "dup", t
    return "normal", None


def _gen_page(seed: int, host_idx: int, page_idx: int, alloc: List[int],
              prefix: "object", total: int, n_hosts: int,
              intra_host_frac: float = 0.8, dangling_frac: float = 0.05,
              dup_link_frac: float = 0.10, max_links_per_page: int = 12):
    """One deterministic page — a pure function of (seed, host_idx, page_idx).

    Unlike ``generate_corpus`` (one shared sequential rng), every page gets its
    own ``random.Random(f"{seed}:{url}")``, so generation order — and hence
    Spark partitioning — cannot change the output.
    Returns (url, ts, html, lang, http_status, fetch_ms).
    """
    import bisect

    host = f"host{host_idx:03d}.example.com"
    url = f"https://{host}/page/{page_idx}"
    rng = random.Random(f"{seed}:{url}")
    decision, dup_src = _page_decision(seed, host_idx, page_idx)
    title = f"Page {page_idx} on {host}"
    if decision == "malformed":
        ts = EPOCH + timedelta(seconds=rng.randint(0, 86400 * 30))
        return url, ts, _malformed_html(title), rng.choice(_LANGS), *_page_status(rng)
    if decision == "dup":
        src = _gen_page(seed, host_idx, dup_src, alloc, prefix, total, n_hosts,
                        intra_host_frac, dangling_frac, dup_link_frac,
                        max_links_per_page)
        ts = EPOCH + timedelta(seconds=rng.randint(0, 86400 * 30))
        return url, ts, src[2], rng.choice(_LANGS), *_page_status(rng)
    n_links = rng.randint(0, max_links_per_page)
    links: List[str] = []
    for _ in range(n_links):
        if rng.random() < dangling_frac:
            links.append(f"https://{host}/missing/{rng.randint(0, 10**6)}")
        elif rng.random() < intra_host_frac:
            links.append(f"https://{host}/page/{rng.randrange(alloc[host_idx])}")
        else:
            g = rng.randrange(total)
            th = bisect.bisect_right(prefix, g)
            tp = g - (prefix[th - 1] if th > 0 else 0)
            links.append(f"https://host{th:03d}.example.com/page/{tp}")
    if links and rng.random() < dup_link_frac:
        links.append(rng.choice(links))
    links = [
        l.split(host, 1)[1] if (rng.random() < 0.3 and host in l) else l
        for l in links
    ]
    kind = rng.random()
    if kind < 0.45:
        html = _article_html(rng, title, links)
    elif kind < 0.7:
        html = _forum_html(rng, title, links)
    else:
        html = _trivial_html(rng, title, links)
    ts = EPOCH + timedelta(seconds=rng.randint(0, 86400 * 30))
    lang = rng.choice(_LANGS)
    return url, ts, html, lang, *_page_status(rng)


def generate_pages_distributed(
    spark,
    seed: int = 42,
    n_hosts: int = 64,
    n_pages: int = 100_000,
    zipf_s: float = 1.2,
    num_partitions: Optional[int] = None,
):
    """The ``pages`` table as a distributed DataFrame (input_hint schema).

    spark.range over global page ids → mapInPandas generation; each page is an
    independent pure function of (seed, host, page), so output is bit-stable
    under any partitioning. ``text`` is the kernel's extraction of ``html``
    (byte-identical invariant holds by construction). Scales linearly with
    cores — this is how the 1M+-row scaling-bench corpus is produced.
    """
    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    alloc = zipf_alloc(n_hosts, n_pages, zipf_s)
    prefix: List[int] = []
    acc = 0
    for a in alloc:
        acc += a
        prefix.append(acc)
    total = acc
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism * 2

    schema = StructType(
        [
            StructField("url", StringType()),
            StructField("warc_ts", TimestampType()),
            StructField("html", BinaryType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("http_status", IntegerType()),
            StructField("fetch_ms", LongType()),
        ]
    )

    def gen(batches):
        import bisect

        import pandas as pd

        for pdf in batches:
            urls, tss, htmls, texts, langs, stats, fms = [], [], [], [], [], [], []
            for gid in pdf["id"]:
                gid = int(gid)
                h = bisect.bisect_right(prefix, gid)
                p = gid - (prefix[h - 1] if h > 0 else 0)
                url, ts, html, lang, status, fetch_ms = _gen_page(
                    seed, h, p, alloc, prefix, total, n_hosts
                )
                urls.append(url)
                tss.append(ts.replace(tzinfo=None))
                htmls.append(html.encode("utf-8"))
                try:
                    texts.append(extract_page(html, url).text)
                except Exception:
                    texts.append(None)  # malformed page (ERROR_PARSE fixture)
                langs.append(lang)
                stats.append(status)
                fms.append(fetch_ms)
            yield pd.DataFrame(
                {
                    "url": urls, "warc_ts": tss, "html": htmls, "text": texts,
                    "lang": langs, "http_status": stats, "fetch_ms": fms,
                }
            )

    return (
        spark.range(0, total, numPartitions=num_partitions).mapInPandas(gen, schema),
        [f"https://host{h:03d}.example.com/page/0" for h in range(min(3, n_hosts))],
    )
