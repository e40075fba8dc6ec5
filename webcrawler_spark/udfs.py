"""Vectorized (Arrow/pandas) UDF kernels — the only Python in the hot path.

The kernels per SURVEY §7 "Built-in vs custom":
- ``extract_pages``   — html -> (title, text, segments, links[pos]) via
  mapInPandas; one DOM parse per page, config broadcast.
- ``normalize_url_udf`` — URL normalization (pandas_udf, arrow batches).
- ``page_meta_udf``   — meta description + canonical link per page.
- ``anchor_texts_fn`` — one (url, href, anchor_text, pos) row per link
  (mapInPandas).

Everything else (hashes, lengths, regex filters, window ranks) stays JVM-side
in ``functions.py`` built-ins.
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .config import CrawlConfig
from .kernel.extract import extract_page
from .kernel.urlnorm import normalize_url

# Schema of the fused page-extraction kernel output. ``parse_error`` marks
# pages the kernel refused/failed to parse (dom.ParseError or any unexpected
# per-page exception): no links harvested, null title/text/segments — the
# ERROR_PARSE path of WebPageProcessor.java:216-227.
EXTRACT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("title", StringType()),
        StructField("text", StringType()),
        StructField("segments", ArrayType(StringType())),
        StructField(
            "links",
            ArrayType(
                StructType(
                    [
                        StructField("href", StringType()),
                        StructField("pos", IntegerType()),
                    ]
                )
            ),
        ),
        StructField("parse_error", BooleanType()),
    ]
)


def make_extract_pages(config: CrawlConfig, carry_cols: Optional[list] = None):
    """Returns a mapInPandas function: pages(url, html[, carry]) -> EXTRACT_SCHEMA
    (+carried columns). Parses each page once (WebPageProcessor.processUrl's
    title+rules+extract and CrawlerService's link harvest fused — SURVEY §3.1).

    Harvested links are emitted already normalized (CrawlerService.normalizeUrl,
    T3), nulls dropped, original document position kept: fusing normalization
    into this kernel removes a second Arrow/pandas-UDF stage per round and
    lets out_links be a plain column transform instead of an explode+regroup
    self-join. Ordering semantics are unchanged — ``pos`` values stay the
    document positions, they just may be non-consecutive."""
    carry_cols = carry_cols or []

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "url": [],
                "title": [],
                "text": [],
                "segments": [],
                "links": [],
                "parse_error": [],
            }
            for c in carry_cols:
                out[c] = []
            for row in pdf.itertuples(index=False):
                url = row.url
                html = row.html
                if html is None:
                    # null html (fetch-missing rows riding through the docs
                    # pass): emit the error shape without attempting a
                    # parse — the caller distinguishes ERROR_FETCH from
                    # ERROR_PARSE via its own carried fetch flag
                    out["url"].append(url)
                    out["title"].append(None)
                    out["text"].append(None)
                    out["segments"].append(None)
                    out["links"].append([])
                    out["parse_error"].append(True)
                    for c in carry_cols:
                        out[c].append(getattr(row, c))
                    continue
                if isinstance(html, (bytes, bytearray, memoryview)):
                    html = bytes(html).decode("utf-8", errors="replace")
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
                    # WebPageProcessor.java:216-227: any throw in the parse/
                    # extract block -> ERROR_PARSE (title lost too, since the
                    # reference's try wraps the whole assembly)
                    out["url"].append(url)
                    out["title"].append(None)
                    out["text"].append(None)
                    out["segments"].append(None)
                    out["links"].append([])
                    out["parse_error"].append(True)
                    for c in carry_cols:
                        out[c].append(getattr(row, c))
                    continue
                out["url"].append(url)
                out["title"].append(page.title)
                out["text"].append(page.text)
                out["segments"].append(page.segments)
                out["links"].append(
                    [
                        {"href": n, "pos": p}
                        for n, p in (
                            (normalize_url(h), p) for h, p in page.links
                        )
                        if n is not None
                    ]
                )
                out["parse_error"].append(False)
                for c in carry_cols:
                    out[c].append(getattr(row, c))
            yield pd.DataFrame(out)

    schema = StructType(EXTRACT_SCHEMA.fields.copy())
    return fn, schema


def extract_schema_with(carry_fields: list) -> StructType:
    return StructType(EXTRACT_SCHEMA.fields + carry_fields)


@F.pandas_udf(StringType())
def normalize_url_udf(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: normalize_url(u) if u is not None else None)


META_SCHEMA = StructType(
    [StructField("description", StringType()), StructField("canonical", StringType())]
)


@F.pandas_udf(META_SCHEMA)
def page_meta_udf(urls: pd.Series, htmls: pd.Series) -> pd.DataFrame:
    """meta[name=description]@content + link[rel=canonical]@abs:href per page
    (kernel.dom.select_meta; README.md:152 declared-only semantics). Arrow
    batches; one DOM parse per page."""
    from .kernel.dom import parse, select_meta

    descs, canons = [], []
    for u, h in zip(urls, htmls):
        if h is None:
            descs.append("")
            canons.append("")
            continue
        if isinstance(h, (bytes, bytearray)):
            h = bytes(h).decode("utf-8", "replace")
        try:
            d, c = select_meta(parse(h), u or "")
        except Exception:
            d, c = "", ""
        descs.append(d)
        canons.append(c)
    return pd.DataFrame({"description": descs, "canonical": canons})


ANCHOR_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("href", StringType()),
        StructField("anchor_text", StringType()),
        StructField("pos", IntegerType()),
    ]
)


def anchor_texts_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas UDTF shape: pages(url, html) → one row per a[href] with
    its Jsoup-normalized visible text (kernel.dom.select_anchor_texts) —
    the anchor-text harvest beside the plain link harvest. One DOM parse
    per page, Arrow-batched."""
    from .kernel.dom import parse, select_anchor_texts

    for pdf in batches:
        urls, hrefs, texts, poss = [], [], [], []
        for u, h in zip(pdf["url"], pdf["html"]):
            if h is None:
                continue
            if isinstance(h, (bytes, bytearray)):
                h = bytes(h).decode("utf-8", "replace")
            try:
                rows = select_anchor_texts(parse(h), u or "")
            except Exception:
                continue
            for href, text, pos in rows:
                urls.append(u)
                hrefs.append(href)
                texts.append(text)
                poss.append(pos)
        yield pd.DataFrame(
            {"url": urls, "href": hrefs, "anchor_text": texts, "pos": poss}
        )
