"""Conditional-GET recrawl resolution and sitemap discovery (reference
README.md:147,149,156 — declared there, never implemented; semantics fixed
here and mirrored by the recrawl_diff / sitemap_seeds DuckDB oracles)."""

import pytest


@pytest.fixture(scope="module")
def spark():
    from webcrawler_spark.session import get_spark

    return get_spark(
        app_name="recrawl-tests", master="local[4]", shuffle_partitions=8
    )


def test_recrawl_diff_all_statuses(spark):
    from webcrawler_spark.operators.recrawl import recrawl_diff

    prev = spark.createDataFrame(
        [("u1", "h1"), ("u2", "h2"), ("u3", "h3")], "url string, hash string"
    )
    cur = spark.createDataFrame(
        [("u1", "h1"), ("u2", "h2x"), ("u4", "h4")], "url string, hash string"
    )
    got = {r["url"]: r["status"] for r in recrawl_diff(prev, cur).collect()}
    assert got == {
        "u1": "NOT_MODIFIED",  # hash unchanged: the 304 skip path
        "u2": "MODIFIED",
        "u3": "GONE",
        "u4": "NEW",
    }


def test_recrawl_diff_empty_prev_is_all_new(spark):
    from webcrawler_spark.operators.recrawl import recrawl_diff

    prev = spark.createDataFrame([], "url string, hash string")
    cur = spark.createDataFrame([("u1", "h1")], "url string, hash string")
    rows = recrawl_diff(prev, cur).collect()
    assert [(r["url"], r["status"]) for r in rows] == [("u1", "NEW")]


_COND_PREV = "url string, hash string, etag string, last_modified string"
_COND_CUR = (
    "url string, http_status int, hash string, etag string, last_modified string"
)


def test_recrawl_conditional_statuses_and_validators(spark):
    from webcrawler_spark.operators.recrawl import recrawl_conditional

    lm = "Mon, 01 Jan 2024 00:00:00 GMT"
    prev = spark.createDataFrame(
        [
            ("u-et", "h1", '"e1"', None),  # 304 via ETag
            ("u-lm", "h2", None, lm),  # 304 via Last-Modified
            ("u-both", "h3", '"e3"', lm),  # 304: If-None-Match wins
            ("u-same", "h4", None, None),  # full 200, hash unchanged
            ("u-chg", "h5", '"e5"', None),  # full 200, hash changed
            ("u-gone", "h6", None, None),
        ],
        _COND_PREV,
    )
    cur = spark.createDataFrame(
        [
            ("u-et", 304, None, None, None),
            ("u-lm", 304, None, None, None),
            ("u-both", 304, None, None, None),
            ("u-same", 200, "h4", None, None),
            ("u-chg", 200, "h5x", '"e5-v2"', None),
            ("u-new", 200, "h7", None, "Tue, 02 Jan 2024 00:00:00 GMT"),
        ],
        _COND_CUR,
    )
    got = {
        r["url"]: (r["status"], r["validator"])
        for r in recrawl_conditional(prev, cur).collect()
    }
    assert got == {
        "u-et": ("NOT_MODIFIED_304", "etag"),
        "u-lm": ("NOT_MODIFIED_304", "last-modified"),
        "u-both": ("NOT_MODIFIED_304", "etag"),  # RFC 9110 §13.1.2
        "u-same": ("NOT_MODIFIED", None),
        "u-chg": ("MODIFIED", None),
        "u-gone": ("GONE", None),
        "u-new": ("NEW", None),
    }


def test_recrawl_conditional_carries_validators_forward(spark):
    from webcrawler_spark.operators.recrawl import recrawl_conditional

    lm = "Mon, 01 Jan 2024 00:00:00 GMT"
    prev = spark.createDataFrame(
        [("u-304", "h1", '"e1"', lm), ("u-200", "h2", '"e2"', lm)], _COND_PREV
    )
    cur = spark.createDataFrame(
        [
            # 304 with no repeated headers: stored validators are re-validated
            ("u-304", 304, None, None, None),
            # 200 replaces them with the response's own (lm dropped here)
            ("u-200", 200, "h2x", '"e2-v2"', None),
        ],
        _COND_CUR,
    )
    got = {
        r["url"]: (r["etag"], r["last_modified"])
        for r in recrawl_conditional(prev, cur).collect()
    }
    assert got["u-304"] == ('"e1"', lm)
    assert got["u-200"] == ('"e2-v2"', None)


def test_sitemap_entries_limit_order_and_trim(spark):
    from webcrawler_spark.operators.sitemap import sitemap_entries

    body_a = (
        "<urlset><loc> https://a.example.com/1 </loc>"
        "<loc>https://a.example.com/2</loc>"
        "<loc>\n  https://a.example.com/3\n</loc>"
        "<loc></loc>"  # empty entry: no match
        "</urlset>"
    )
    body_b = "<urlset><loc>https://b.example.com/only</loc></urlset>"
    sm = spark.createDataFrame(
        [
            ("https://a.example.com/sitemap.xml", body_a.encode()),
            ("https://b.example.com/sitemap.xml", body_b.encode()),
        ],
        "url string, html binary",
    )
    got = sitemap_entries(sm, limit_per_site=2).collect()
    by_site = {}
    for r in got:
        by_site.setdefault(r["site"], []).append((r["rank"], r["loc"]))
    # per-site cap 2, document order, whitespace trimmed, empty <loc> dropped
    assert by_site["a.example.com"] == [
        (1, "https://a.example.com/1"),
        (2, "https://a.example.com/2"),
    ]
    assert by_site["b.example.com"] == [(1, "https://b.example.com/only")]


# ---------------------------------------------------------------------------
# robots.txt parsing (README.md:146 — fetch/cache declared; parser fixed here)
# ---------------------------------------------------------------------------


def _parse(spark, bodies):
    from webcrawler_spark.operators.robots import parse_robots_txt

    df = spark.createDataFrame(bodies, "host string, body string")
    return {
        r["host"]: (list(r["disallow"]), r["crawl_delay_ms"])
        for r in parse_robots_txt(df).collect()
    }


def test_robots_parse_star_group_directives(spark):
    body = (
        "# global rules\r\n"
        "User-Agent: *\n"
        "Disallow: /admin   # backoffice\n"
        "Disallow: /tmp\n"
        "Crawl-delay: 2.5\n"
        "\n"
        "User-agent: googlebot\n"
        "Disallow: /google-only\n"
    )
    got = _parse(spark, [("a.example.com", body)])
    # star group only; document order; comments + CRLF handled; 2.5s -> 2500ms
    assert got == {"a.example.com": (["/admin", "/tmp"], 2500)}


def test_robots_parse_shared_and_empty_groups(spark):
    body = (
        "User-agent: googlebot\n"
        "User-agent: *\n"          # consecutive UA lines share ONE group
        "Disallow: /x\n"
        "Disallow:\n"              # empty value: allows everything, dropped
        "User-agent: bingbot\n"
        "Disallow: /bing\n"
    )
    got = _parse(spark, [("b.example.com", body), ("c.example.com", "# nothing\n")])
    assert got["b.example.com"] == (["/x"], None)
    # no star group at all -> unrestricted: empty disallow, null delay
    assert got["c.example.com"] == ([], None)


def test_robots_parse_first_crawl_delay_wins(spark):
    body = (
        "User-agent: *\nCrawl-delay: 1\nDisallow: /a\n"
        "User-agent: *\nCrawl-delay: 9\nDisallow: /b\n"
    )
    got = _parse(spark, [("d.example.com", body)])
    assert got["d.example.com"] == (["/a", "/b"], 1000)


def test_robots_sitemaps_directive_extraction(spark):
    """Sitemap records are group-independent: directives inside AND outside
    user-agent groups all surface, in document order; comments stripped."""
    from webcrawler_spark.operators.robots import robots_sitemaps

    body = (
        "# header comment\r\n"
        "Sitemap: https://a.test/top.xml\n"
        "User-agent: googlebot\n"
        "Disallow: /x\n"
        "Sitemap: https://a.test/in-group.xml  # trailing\n"
        "User-agent: *\n"
        "Sitemap:https://a.test/tight.xml\n"
        "sitemap: https://a.test/lower.xml\n"
        "Sitemap:\n"          # empty value dropped
    )
    df = spark.createDataFrame([("a.test", body)], "host string, body string")
    got = [r["sitemap"] for r in robots_sitemaps(df).orderBy("pos").collect()]
    assert got == [
        "https://a.test/top.xml",
        "https://a.test/in-group.xml",
        "https://a.test/tight.xml",
        "https://a.test/lower.xml",
    ]


def test_refresh_schedule_backoff_and_reset(spark):
    import datetime as dt

    from webcrawler_spark.operators.recrawl import refresh_schedule

    t0 = dt.datetime(2026, 1, 1)
    rows = []
    # url A: modified on fetch 2 of 4 -> streak 2 (fetches 3, 4)
    for i, out in enumerate(["NOT_MODIFIED", "MODIFIED", "NOT_MODIFIED", "NOT_MODIFIED"]):
        rows.append(("A", t0 + dt.timedelta(days=i), out))
    # url B: never modified over 5 fetches -> streak 5
    for i in range(5):
        rows.append(("B", t0 + dt.timedelta(days=i), "NOT_MODIFIED"))
    # url C: modified on the LAST fetch -> streak 0, interval = base
    rows += [("C", t0, "NOT_MODIFIED"), ("C", t0 + dt.timedelta(days=1), "MODIFIED")]
    df = spark.createDataFrame(rows, "url string, fetch_ts timestamp, outcome string")
    got = {r["url"]: r for r in refresh_schedule(df, base_ms=1000, max_ms=16_000).collect()}
    assert got["A"]["streak"] == 2 and got["A"]["interval_ms"] == 4000
    assert got["B"]["streak"] == 5 and got["B"]["interval_ms"] == 16_000  # capped (32k -> 16k)
    assert got["C"]["streak"] == 0 and got["C"]["interval_ms"] == 1000
    import calendar
    last = dt.datetime(2026, 1, 2)
    want_ms = int(calendar.timegm(last.timetuple()) * 1000) + 1000
    assert got["C"]["next_fetch_ms"] == want_ms


def test_robots_parse_allow_directives(spark):
    from webcrawler_spark.operators.robots import parse_robots_txt

    body = (
        "User-agent: *\n"
        "Disallow: /private\n"
        "Allow: /private/press\n"
        "Allow: /public\n"
        "User-agent: otherbot\n"
        "Allow: /other-only\n"
    )
    df = spark.createDataFrame([("a.test", body)], "host string, body string")
    r = parse_robots_txt(df).collect()[0]
    assert list(r["disallow"]) == ["/private"]
    assert list(r["allow"]) == ["/private/press", "/public"]   # star group only


def test_apply_robots_rfc_longest_match(spark):
    from webcrawler_spark.operators.admission import apply_robots_rfc

    robots = spark.createDataFrame(
        [("a.test", ["/private", "/x"], ["/private/press", "/x"])],
        "host string, disallow array<string>, allow array<string>",
    )
    urls = spark.createDataFrame(
        [
            ("https://a.test/private/doc",),        # disallow wins
            ("https://a.test/private/press/1",),    # longer allow wins
            ("https://a.test/x",),                  # equal length: allow wins (RFC tie)
            ("https://a.test/free",),               # no rule matches
            ("https://b.test/private/doc",),        # host without rules
        ],
        "url string",
    )
    allowed, skipped = apply_robots_rfc(urls, robots)
    assert {r["url"] for r in skipped.collect()} == {"https://a.test/private/doc"}
    assert allowed.count() == 4


def test_robots_parse_malformed_crawl_delay_survives(spark):
    """A garbage Crawl-delay value in ONE robots.txt must not kill the parse
    job under ANSI mode: that host degrades to no-delay, rules still parse."""
    from webcrawler_spark.operators.robots import parse_robots_txt

    body = "User-agent: *\nDisallow: /x\nCrawl-delay: fast\n"
    df = spark.createDataFrame(
        [("a.test", body), ("b.test", "User-agent: *\nCrawl-delay: 2\n")],
        "host string, body string",
    )
    got = {r["host"]: (list(r["disallow"]), r["crawl_delay_ms"])
           for r in parse_robots_txt(df).collect()}
    assert got["a.test"] == (["/x"], None)
    assert got["b.test"] == ([], 2000)


def test_robots_cache_states_boundaries(spark):
    """RFC 9309 §2.4 cache plan: exact TTL/grace boundary behavior, missing
    hosts, and the refetch list (operators/robots.robots_cache_states)."""
    from webcrawler_spark.operators.robots import robots_cache_states

    hosts = spark.createDataFrame(
        [(h,) for h in ["fresh.com", "edge-ttl.com", "stale.com",
                        "edge-grace.com", "expired.com", "missing.com"]],
        "host string",
    )
    now = "2026-01-02 00:00:00"
    rows = [
        ("fresh.com", "2026-01-01 23:00:00"),     # 1h
        ("edge-ttl.com", "2026-01-01 00:00:00"),  # exactly 24h -> FRESH
        ("stale.com", "2025-12-31 00:00:00"),     # 48h
        ("edge-grace.com", "2025-12-29 00:00:00"),# exactly 96h -> STALE_USABLE
        ("expired.com", "2025-12-01 00:00:00"),   # 32 days
    ]
    robots = spark.createDataFrame(rows, "host string, fetched_ts string") \
        .selectExpr("host", "cast(fetched_ts as timestamp) as fetched_ts")
    out = robots_cache_states(
        hosts, robots, now=now, ttl_s=24 * 3600, grace_s=96 * 3600
    )
    got = {r.host: (r.robots_state, r.refetch) for r in out.collect()}
    assert got == {
        "fresh.com": ("FRESH", False),
        "edge-ttl.com": ("FRESH", False),
        "stale.com": ("STALE_USABLE", True),
        "edge-grace.com": ("STALE_USABLE", True),
        "expired.com": ("EXPIRED", True),
        "missing.com": ("MISSING", True),
    }


@pytest.mark.slow
def test_recrawl_job_diff_schedule_and_eviction(spark, tmp_path):
    """jobs/recrawl.py end-to-end: NEW -> MODIFIED/NOT_MODIFIED/GONE
    classification across passes, bounded history + adaptive schedule, and
    --evict deleting due urls from the stopped crawl's url_seen."""
    from jobs.recrawl import run as recrawl_run
    from webcrawler_spark.config import CrawlConfig
    from webcrawler_spark.corpus import generate_corpus
    from webcrawler_spark.rounds import run_crawl
    from webcrawler_spark.storage import SnapshotStore
    from pyspark.sql import functions as F

    corpus = generate_corpus(seed=7, n_hosts=6, n_pages=80)
    pages = spark.createDataFrame(corpus.rows())
    state = str(tmp_path / "state")

    # a stopped crawl persists url_seen
    stops = iter([False, True, True, True])
    res = run_crawl(
        spark, pages, corpus.seeds[0], CrawlConfig(max_depth=2),
        store=SnapshotStore(state),
        stop=lambda: next(stops), with_processor=False,
    )
    assert res.stopped
    store = SnapshotStore(state)
    m = store.load_manifest()
    assert "url_seen" in m.tables

    snap1 = str(tmp_path / "snap1")
    pages.write.parquet(snap1)
    s1 = recrawl_run(spark, snap1, state, now="2025-06-01 00:00:00")
    assert s1["new"] > 0 and s1["modified"] == s1["gone"] == 0

    # second snapshot: every 3rd url's bytes change, one url disappears
    all_urls = sorted(corpus.pages)
    changed = set(all_urls[::3])
    gone_url = all_urls[-1]
    snap2_df = pages.filter(F.col("url") != gone_url).withColumn(
        "html",
        F.when(F.col("url").isin(list(changed)),
               F.concat(F.col("html"), F.lit(b"<!--rev2-->")))
        .otherwise(F.col("html")),
    )
    snap2 = str(tmp_path / "snap2")
    snap2_df.write.parquet(snap2)

    # pass 2 with eviction; horizon 1.2h catches only the just-modified
    # urls (next = now + 1h) and not the stable ones (next = now + 2h)
    seen_before = {
        r.url for r in store.read_committed(spark, "url_seen").collect()
    }
    s2 = recrawl_run(
        spark, snap2, state, now="2025-06-01 02:00:00",
        horizon_ms=int(1.2 * 3_600_000), evict=True,
    )
    assert s2["gone"] == 1
    assert s2["modified"] == len(changed) - (1 if gone_url in changed else 0)
    assert s2["new"] == 0
    # every url in snapshot 2 is exactly one of modified / not_modified
    assert s2["modified"] + s2["not_modified"] == len(all_urls) - 1
    assert s2["evicted_from_seen"] == len(seen_before & changed)

    # url_seen shrank by exactly the evicted urls
    seen_after = {
        r.url for r in store.read_committed(spark, "url_seen").collect()
    }
    assert seen_before - seen_after == seen_before & changed


@pytest.mark.slow
def test_resume_after_evict_readmits_due_urls(spark, tmp_path):
    """The full evict-then-resume loop (ADVICE r4 high): jobs/recrawl.py
    --evict commits url_seen at a version NEWER than the stop snapshot;
    run_crawl(resume=True) must load that one (not the stale stop-version
    table) so the due urls are re-admitted — and, with the
    processor on (_vis = _dup), re-traversed, i.e. actually refetched in
    the next round's frontier join. With the pre-fix resume (pinned at
    start_depth) the re-admitted set is empty."""
    from jobs.recrawl import run as recrawl_run
    from pyspark.sql import functions as F
    from webcrawler_spark.config import CrawlConfig
    from webcrawler_spark.corpus import generate_corpus
    from webcrawler_spark.rounds import run_crawl
    from webcrawler_spark.storage import SnapshotStore

    corpus = generate_corpus(seed=7, n_hosts=6, n_pages=80)
    pages = spark.createDataFrame(corpus.rows())
    cfg = CrawlConfig(max_depth=2)
    entry = corpus.seeds[0]

    def stopped_run(state):
        polls = {"n": 0}

        def stop():
            polls["n"] += 1
            return polls["n"] > 1  # round 0 runs, stop before round 1

        return run_crawl(
            spark, pages, entry, cfg, store=SnapshotStore(state),
            stop=stop, with_processor=True,
        )

    # ---- control: stop → resume, NO eviction; harvest the links each
    # resumed round actually encounters from the stored round tables
    state_c = str(tmp_path / "control")
    assert stopped_run(state_c).stopped
    store_c = SnapshotStore(state_c)
    run_crawl(spark, pages, entry, cfg, store=store_c, resume=True,
              with_processor=True)
    encountered = set()
    for d in (1, 2):
        encountered |= {
            r.url for r in store_c.read_table(spark, "round", d).collect()
        }

    # ---- evict run: stop → recrawl --evict → resume
    state_e = str(tmp_path / "evict")
    assert stopped_run(state_e).stopped
    store_e = SnapshotStore(state_e)
    seen_before = {
        r.url for r in store_e.read_committed(spark, "url_seen").collect()
    }

    snap1 = str(tmp_path / "snap1")
    pages.write.parquet(snap1)
    recrawl_run(spark, snap1, state_e, now="2025-06-01 00:00:00")
    all_urls = sorted(corpus.pages)
    changed = set(all_urls[::3])
    snap2 = str(tmp_path / "snap2")
    pages.withColumn(
        "html",
        F.when(F.col("url").isin(list(changed)),
               F.concat(F.col("html"), F.lit(b"<!--rev2-->")))
        .otherwise(F.col("html")),
    ).write.parquet(snap2)
    s2 = recrawl_run(
        spark, snap2, state_e, now="2025-06-01 02:00:00",
        horizon_ms=int(1.2 * 3_600_000), evict=True,
    )
    evicted = seen_before & changed
    assert s2["evicted_from_seen"] == len(evicted) > 0

    res = run_crawl(spark, pages, entry, cfg, store=store_e, resume=True,
                    with_processor=True)

    # re-admitted = evicted urls the resumed rounds re-encountered as links;
    # they re-enter url_seen with a resumed-round first_depth
    readmitted = {
        r.url: r.first_depth
        for r in res.seen.filter(F.col("first_depth") >= 1).collect()
        if r.url in evicted
    }
    expected = evicted & encountered
    assert expected, "corpus must re-encounter some due urls after round 0"
    assert set(readmitted) == expected

    # refetch evidence: a url re-admitted at round 1 is re-traversed
    # (_vis == 0 in the stored round table), so it sits in round 2's fetch
    # frontier by construction of the frontier join
    r1 = {
        r.url: r._vis
        for r in store_e.read_table(spark, "round", 1).collect()
        if r.url in evicted
    }
    for u, d in readmitted.items():
        if d == 1:
            assert r1[u] == 0
