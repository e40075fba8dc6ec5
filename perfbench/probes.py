"""Kernel and mapInPandas-wrapper probes: one process, no Spark.

Both run on the same page sample (the workload's own fetched pages, in queue
order) with the workload's own rules, so their rates compare the same work
the crawl does.
"""

from __future__ import annotations

import time

import pandas as pd


def _rate(n: int, t0: float) -> float:
    return n / (time.perf_counter() - t0)


def kernel(sample: list[tuple[str, str]], config) -> dict:
    """Per-stage rates of the extraction kernel on decoded pages."""
    from webcrawler_spark.kernel.dom import parse, select_links
    from webcrawler_spark.kernel.extract import extract_page
    from webcrawler_spark.kernel.urlnorm import normalize_url

    t0 = time.perf_counter()
    docs, errors = [], 0
    for url, html in sample:
        try:
            docs.append((url, parse(html)))
        except Exception:  # the kernel's ERROR_PARSE pages
            errors += 1
    parse_rate = _rate(len(sample), t0)

    t0 = time.perf_counter()
    hrefs = [h for url, doc in docs for h, _ in select_links(doc, url)]
    links_rate = _rate(len(docs), t0)

    t0 = time.perf_counter()
    for h in hrefs:
        normalize_url(h)
    norm_rate = _rate(len(hrefs), t0)

    t0 = time.perf_counter()
    for url, html in sample:
        rules = config.get_content_rules(url)
        match_all = config.match_all_by_url(url)
        try:
            extract_page(
                html, url,
                match_any_rules=None if match_all else rules,
                match_all_rules=rules if match_all else None,
            )
        except Exception:
            pass
    extract_rate = _rate(len(sample), t0)
    return {
        "kernel.extract_page.pages_per_s": extract_rate,
        "kernel.parse.pages_per_s": parse_rate,
        "kernel.select_links.pages_per_s": links_rate,
        "kernel.normalize_url.urls_per_s": norm_rate,
        "kernel.parse_error_ratio": errors / len(sample),
    }


def udfs(rows: dict, config, batch_rows: int) -> float:
    """Pages/s of make_extract_pages over pandas batches shaped like a crawl
    round's parse input (the carried columns of run_crawl)."""
    from webcrawler_spark.udfs import make_extract_pages

    carry = ["rank", "pos", "lang", "warc_ts", "http_status", "fetch_ms"]
    fn, _ = make_extract_pages(config, carry_cols=carry)
    pdf = pd.DataFrame(rows)
    batches = [pdf.iloc[i:i + batch_rows].reset_index(drop=True)
               for i in range(0, len(pdf), batch_rows)]
    t0 = time.perf_counter()
    n = sum(len(out) for out in fn(iter(batches)))
    return _rate(n, t0)
