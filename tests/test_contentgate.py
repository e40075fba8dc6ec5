"""Content-type allowlist + max-size gate (operators/contentgate.py):
README.md:60 ``allowedContentTypes`` and README.md:212 max-content-size —
declared-only in the reference, implemented here as a pre-parse gate."""

import pytest
from pyspark.sql import functions as F


def _pages(spark, rows):
    return spark.createDataFrame(
        [
            {
                "url": u,
                "html": h.encode("utf-8") if h is not None else None,
                "content_type": ct,
            }
            for u, h, ct in rows
        ]
    )


def test_split_gated_semantics(spark):
    from webcrawler_spark.operators.contentgate import split_gated

    rows = [
        ("https://a.com/ok", "<p>x</p>", "text/html"),
        ("https://a.com/param", "<p>x</p>", "Text/HTML; charset=UTF-8"),
        ("https://a.com/pdf", "%PDF-1.4", "application/pdf"),
        ("https://a.com/noct", "<p>x</p>", None),  # no header: admitted
        ("https://a.com/missing", None, "application/pdf"),  # no fetch: not gated
        ("https://a.com/big", "<p>" + "y" * 100 + "</p>", "text/html"),
        # disallowed AND oversize: content-type wins (headers before body)
        ("https://a.com/bigpdf", "z" * 200, "application/pdf"),
    ]
    adm, skipped = split_gated(
        _pages(spark, rows), ["text/html"], max_content_bytes=50
    )
    a = {r.url.rsplit("/", 1)[1] for r in adm.collect()}
    s = {r.url.rsplit("/", 1)[1]: r.skip_status for r in skipped.collect()}
    assert a == {"ok", "param", "noct", "missing"}
    assert s == {
        "pdf": "SKIPPED_CONTENT_TYPE",
        "big": "SKIPPED_TOO_LARGE",
        "bigpdf": "SKIPPED_CONTENT_TYPE",
    }


def test_gate_off_is_identity(spark):
    from webcrawler_spark.operators.contentgate import skip_status_col, split_gated

    df = _pages(spark, [("https://a.com/x", "<p>x</p>", "application/pdf")])
    adm, skipped = split_gated(df, None, None)
    assert skipped is None and adm is df  # same object: zero plan delta
    assert skip_status_col(None, None) is None


def test_gate_without_content_type_column(spark):
    """Allowlist inert without the evidence column; size still applies."""
    from webcrawler_spark.operators.contentgate import split_gated

    df = spark.createDataFrame(
        [("https://a.com/s", bytearray(b"abc")), ("https://a.com/b", bytearray(b"x" * 99))],
        "url string, html binary",
    )
    adm, skipped = split_gated(df, ["text/html"], max_content_bytes=10)
    assert [r.url for r in adm.collect()] == ["https://a.com/s"]
    assert [r.skip_status for r in skipped.collect()] == ["SKIPPED_TOO_LARGE"]


def _gated_corpus_bits():
    import __spark_entry__ as entry

    return entry._gate_corpus()


@pytest.mark.slow
def test_gated_crawl_matches_sequential_oracle_fused(spark):
    """The rules-less docs pass (no losers job) with the gate on: statuses and
    queue order must match the sequential oracle with the same gate."""
    from webcrawler_spark.config import CrawlConfig
    from webcrawler_spark.oracle import crawl_oracle
    from webcrawler_spark.rounds import run_crawl

    corpus, ctypes, mcb = _gated_corpus_bits()
    rows = corpus.rows()
    for r in rows:
        r["content_type"] = ctypes[r["url"]]
    pages = spark.createDataFrame(rows)
    cfg = CrawlConfig(
        max_depth=2, allowed_content_types=["text/html"], max_content_bytes=mcb
    )
    res = run_crawl(spark, pages, corpus.seeds, cfg, with_processor=True)
    got = {
        r.url: (r.status, r.pos, r.content_type)
        for r in res.docs.select("url", "status", "pos", "content_type").collect()
    }
    o = crawl_oracle(
        {u: h for u, (t, h, l) in corpus.pages.items()},
        corpus.seeds,
        cfg,
        with_processor=True,
        meta=corpus.meta,
        content_types=ctypes,
    )
    assert len(got) == len(o.docs)
    n_gate = 0
    for pos, d in enumerate(o.docs):
        st, p, ct = got[d["url"]]
        assert (st, p) == (d["status"], pos), d["url"]
        if st in ("SKIPPED_CONTENT_TYPE", "SKIPPED_TOO_LARGE"):
            n_gate += 1
            assert ct == ctypes[d["url"]]  # raw header preserved as evidence
    assert n_gate > 0  # the plant actually fired


@pytest.mark.slow
def test_gated_polite_crawl_matches_oracle(spark):
    """run_polite_crawl with the gate: gated fetches consume their admission
    slot but harvest nothing; docs surface SKIPPED_* rows."""
    from webcrawler_spark.config import CrawlConfig
    from webcrawler_spark.corpus import generate_corpus
    from webcrawler_spark.oracle import crawl_oracle_polite
    from webcrawler_spark.rounds import run_polite_crawl

    corpus = generate_corpus(seed=11, n_hosts=4, n_pages=28)
    ctypes = {
        u: ("application/pdf" if i % 5 == 2 else "text/html")
        for i, u in enumerate(sorted(corpus.pages))
    }
    rows = corpus.rows()
    for r in rows:
        r["content_type"] = ctypes[r["url"]]
    pages = spark.createDataFrame(rows)
    cfg = CrawlConfig(
        max_depth=2, per_host_budget=3, allowed_content_types=["text/html"]
    )
    res = run_polite_crawl(spark, pages, corpus.seeds, cfg, with_processor=True)
    got = {r.url: r.status for r in res.docs.select("url", "status").collect()}
    got_order = [r.url for r in res.queue.collect()]
    o = crawl_oracle_polite(
        {u: h for u, (t, h, l) in corpus.pages.items()},
        corpus.seeds,
        cfg,
        meta=corpus.meta,
        content_types=ctypes,
    )
    assert got_order == o.queue_order  # gate changed traversal identically
    want = {d["url"]: d["status"] for d in o.docs}
    assert got == want
    assert "SKIPPED_CONTENT_TYPE" in set(want.values())


# ---------------------------------------------------------------------------
# Domain blacklist/whitelist gate (operators/domaingate.py) — the other half
# of README.md:212 ("domain blacklists/whitelists").


def _frontier(spark, hosts):
    return spark.createDataFrame([{"url": f"https://{h}/", "host": h} for h in hosts])


def test_domain_gate_semantics(spark):
    from webcrawler_spark.operators.domaingate import (
        SKIPPED_BLACKLISTED,
        SKIPPED_NOT_WHITELISTED,
        tag_domains,
    )

    hosts = [
        "a.evil.com",          # blacklisted via registrable domain
        "www.evil.com",        # blacklisted (subdomain falls with registrant)
        "good.co.uk",          # whitelisted (multi-part suffix keying)
        "sub.good.co.uk",      # whitelisted via registrable domain
        "neutral.net",         # on neither list -> NOT_WHITELISTED
        "both.org",            # on BOTH lists -> blacklist wins
    ]
    tagged = tag_domains(
        _frontier(spark, hosts),
        blacklist=["evil.com", "both.org"],
        whitelist=["good.co.uk", "both.org"],
    )
    got = {r.host: r.domain_gate_status for r in tagged.collect()}
    assert got == {
        "a.evil.com": SKIPPED_BLACKLISTED,
        "www.evil.com": SKIPPED_BLACKLISTED,
        "good.co.uk": None,
        "sub.good.co.uk": None,
        "neutral.net": SKIPPED_NOT_WHITELISTED,
        "both.org": SKIPPED_BLACKLISTED,
    }


def test_domain_gate_seq_and_df_paths_agree(spark):
    from webcrawler_spark.operators.domaingate import SKIPPED_BLACKLISTED, tag_domains

    hosts = [f"h{i}.dom{i % 5}.com" for i in range(40)]
    black_seq = ["dom1.com", "dom3.com"]
    black_df = spark.createDataFrame([(d,) for d in black_seq], "domain string")

    def statuses(blacklist):
        tagged = tag_domains(_frontier(spark, hosts), blacklist=blacklist)
        return {r.url: r.domain_gate_status for r in tagged.collect()}

    seq, df = statuses(black_seq), statuses(black_df)
    assert seq == df
    # blacklist-only: no whitelist status can appear, and both outcomes occur
    assert set(seq.values()) == {None, SKIPPED_BLACKLISTED}


def test_domain_gate_plan_strategies(spark):
    """Sequence -> codegen isin (no join in the plan); DataFrame ->
    broadcast hash join (the frontier must never shuffle for the gate)."""
    from webcrawler_spark.operators.domaingate import tag_domains

    f = _frontier(spark, [f"h{i}.d{i % 3}.com" for i in range(20)])
    seq_plan = tag_domains(f, blacklist=["d1.com"])._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in seq_plan
    df_list = spark.createDataFrame([("d1.com",)], "domain string")
    df_plan = tag_domains(f, blacklist=df_list)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in df_plan
    # the only shuffle allowed is the list-side dedup (keyed _gate_domain);
    # the frontier itself must never repartition for the gate
    for line in df_plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "_gate_domain" in line, line


def test_domain_gate_isin_cap(spark):
    import pytest as _pytest

    from webcrawler_spark.operators.domaingate import tag_domains

    big = [f"d{i}.com" for i in range(10_001)]
    with _pytest.raises(ValueError):
        tag_domains(_frontier(spark, ["x.com"]), blacklist=big).collect()


def test_domain_gate_empty_whitelist_blocks_all(spark):
    """A configured-but-empty whitelist admits nobody — and behaves the
    same whether it arrives as an empty sequence or an empty DataFrame."""
    from webcrawler_spark.operators.domaingate import tag_domains

    f = _frontier(spark, ["a.com", "b.org"])
    seq = {r.host: r.domain_gate_status for r in tag_domains(f, whitelist=[]).collect()}
    df_empty = spark.createDataFrame([], "domain string")
    dfr = {r.host: r.domain_gate_status
           for r in tag_domains(f, whitelist=df_empty).collect()}
    want = {"a.com": "SKIPPED_DOMAIN_NOT_WHITELISTED",
            "b.org": "SKIPPED_DOMAIN_NOT_WHITELISTED"}
    assert seq == want and dfr == want
    # an empty BLACKLIST is inert either way
    assert {r.domain_gate_status for r in tag_domains(f, blacklist=[]).collect()} == {None}
