"""End-to-end equivalence: the distributed crawl vs the sequential oracle.

The north_star contract: same seed list + config => identical crawl (queue)
ordering and identical final URL-seen set; byte-identical extracted text;
identical docs (contents, hashes, lengths) — verified here on the synthetic
corpus at multiple depths and filter configs.
"""

import os

import pytest

from webcrawler_spark.config import CrawlConfig, PageConfig
from webcrawler_spark.oracle import crawl_oracle
from webcrawler_spark.rounds import run_crawl


def _corpus_dict(small_corpus):
    return {u: h for u, (t, h, l) in small_corpus.pages.items()}


def _run_both(spark, pages_df, small_corpus, cfg, entry=None, with_processor=True, **kw):
    entry = entry or small_corpus.seeds[0]
    oracle = crawl_oracle(_corpus_dict(small_corpus), entry, cfg, with_processor=with_processor)
    result = run_crawl(spark, pages_df, entry, cfg, with_processor=with_processor, **kw)
    return oracle, result


@pytest.mark.parametrize(
    "max_depth", [0, 1, pytest.param(2, marks=pytest.mark.slow)]
)
def test_queue_order_matches_oracle(spark, pages_df, small_corpus, max_depth):
    cfg = CrawlConfig(max_depth=max_depth)
    oracle, result = _run_both(spark, pages_df, small_corpus, cfg, with_processor=False)
    got = [r["url"] for r in result.queue.collect()]
    assert got == oracle.queue_order


@pytest.mark.slow
def test_distributed_seed_path_matches_oracle(spark, pages_df, small_corpus, monkeypatch):
    """Seed DataFrames above SEED_COLLECT_MAX take the fully distributed
    dedup/rank branch (no driver collect). Force it by dropping the gate to 0
    and check the crawl is byte-identical to the driver-list path, and that
    the observable seed_path=distributed mark lands in res.timings (the
    bench's no-driver-materialization evidence)."""
    import webcrawler_spark.rounds as rounds_mod

    monkeypatch.setattr(rounds_mod, "SEED_COLLECT_MAX", 0)
    cfg = CrawlConfig(max_depth=2)
    seeds = small_corpus.seeds
    oracle = crawl_oracle(_corpus_dict(small_corpus), seeds, cfg, with_processor=False)
    seeds_df = spark.createDataFrame([(u,) for u in seeds], "url string")
    result = run_crawl(spark, pages_df, seeds_df, cfg, with_processor=False)
    got = [r["url"] for r in result.queue.collect()]
    assert got == oracle.queue_order
    assert {"phase": "seed_path", "mode": "distributed"} in result.timings


def test_seen_set_matches_oracle(spark, pages_df, small_corpus):
    cfg = CrawlConfig(max_depth=2)
    oracle, result = _run_both(spark, pages_df, small_corpus, cfg, with_processor=False)
    got = {r["url"] for r in result.seen.collect()}
    assert got == oracle.seen


def test_entry_enqueue_guard(spark, pages_df, small_corpus):
    cfg = CrawlConfig(max_depth=0)
    entry = small_corpus.seeds[0]
    oracle, result = _run_both(spark, pages_df, small_corpus, cfg, with_processor=True)
    got = [r["url"] for r in result.queue.collect()]
    assert got[0] == entry
    assert got == oracle.queue_order


@pytest.mark.slow
def test_include_exclude_filters_match(spark, pages_df, small_corpus):
    cfg = CrawlConfig(
        max_depth=2,
        include_url_patterns=["host00[01]", "page/[0-9]"],
        exclude_url_patterns=["/page/3", "host002"],
    )
    oracle, result = _run_both(spark, pages_df, small_corpus, cfg, with_processor=False)
    got = [r["url"] for r in result.queue.collect()]
    assert got == oracle.queue_order


def test_docs_match_oracle(spark, pages_df, small_corpus):
    cfg = CrawlConfig(
        max_depth=1,
        content_rules={"minCharacter": 80, "tagName": "p"},
        pages=[
            # forum rule set from WebCrawlerConfig.json:10-19 shape
            PageConfig(
                url_pattern=r"^https://host001\.example\.com.*",
                match_all=True,
                content_rules={
                    "minCharacter": 600,
                    "tagName": "span",
                    "elementStyle": "font-size: 24px; line-height: normal",
                },
            )
        ],
    )
    oracle = crawl_oracle(
        _corpus_dict(small_corpus), small_corpus.seeds[0], cfg,
        with_processor=True, meta=small_corpus.meta,
    )
    from webcrawler_spark.rounds import run_crawl as _rc

    result = _rc(spark, pages_df, small_corpus.seeds[0], cfg, with_processor=True)
    got = {r["url"]: r.asDict() for r in result.docs.collect()}
    assert set(got) == {d["url"] for d in oracle.docs}
    for d in oracle.docs:
        g = got[d["url"]]
        for col in (
            "id", "domain", "status", "title", "content_length", "hash",
            "http_status", "fetch_duration_ms", "crawl_depth",
        ):
            assert g[col] == d[col], f"{col} mismatch for {d['url']}: {g[col]!r} != {d[col]!r}"
        if d["status"] == "OK":
            assert list(g["contents"] or []) == d["contents"], d["url"]
            assert list(g["out_links"] or []) == d["out_links"], d["url"]


@pytest.mark.slow
def test_fused_docs_rules_less_matches_oracle(spark, pages_df, small_corpus):
    """Rules-less crawls take process_queue's plan without a losers job or
    tail pin (one left join, fetch-missing rows riding the kernel as
    null-html rows, one conditional projection). Every docs column must still
    match the sequential oracle — including ERROR_FETCH rows (null
    http_status/content_type), ERROR_PARSE rows (crawl_depth=maxDepth quirk)
    and OK rows whose contents are empty by reference semantics."""
    cfg = CrawlConfig(max_depth=2)  # no content rules anywhere -> no losers job
    oracle = crawl_oracle(
        _corpus_dict(small_corpus), small_corpus.seeds, cfg,
        with_processor=True, meta=small_corpus.meta,
    )
    result = run_crawl(spark, pages_df, small_corpus.seeds, cfg, with_processor=True)
    got = {r["url"]: r.asDict() for r in result.docs.collect()}
    assert set(got) == {d["url"] for d in oracle.docs}
    exp_statuses = {d["status"] for d in oracle.docs}
    assert {"OK", "ERROR_FETCH", "ERROR_PARSE"} <= exp_statuses
    assert "DUPLICATE" not in exp_statuses  # no rules -> dup pass statically empty
    for d in oracle.docs:
        g = got[d["url"]]
        for col in (
            "id", "domain", "status", "title", "content_length", "hash",
            "http_status", "fetch_duration_ms", "crawl_depth",
        ):
            assert g[col] == d[col], f"{col} mismatch for {d['url']}: {g[col]!r} != {d[col]!r}"
        # reference content_type semantics: set whenever a response was
        # received (OK + ERROR_PARSE), null when the fetch itself failed
        exp_ct = None if d["status"] == "ERROR_FETCH" else "text/html"
        assert g["content_type"] == exp_ct, d["url"]
        if d["status"] == "OK":
            assert list(g["contents"] or []) == d["contents"], d["url"]
            assert list(g["out_links"] or []) == d["out_links"], d["url"]
        else:
            assert g["contents"] is None and g["out_links"] is None, d["url"]


def test_status_surface_matches_oracle(spark, pages_df, small_corpus):
    """The planted corpus exercises every CrawlStatus: malformed markup ->
    ERROR_PARSE (with the crawl_depth=maxDepth quirk, WebPageProcessor.java:224),
    byte-identical page copies -> DUPLICATE (content-hash dedup, first queue
    pos wins), dangling links -> ERROR_FETCH, and non-200 http statuses carried
    through on OK docs (P2)."""
    cfg = CrawlConfig(max_depth=2, content_rules={"minCharacter": 0, "tagName": "p"})
    oracle = crawl_oracle(
        _corpus_dict(small_corpus), small_corpus.seeds, cfg,
        with_processor=True, meta=small_corpus.meta,
    )
    from webcrawler_spark.rounds import run_crawl as _rc

    result = _rc(spark, pages_df, small_corpus.seeds, cfg, with_processor=True)
    got = {r["url"]: r.asDict() for r in result.docs.collect()}
    exp_statuses = {d["status"] for d in oracle.docs}
    assert {"OK", "ERROR_FETCH", "ERROR_PARSE", "DUPLICATE"} <= exp_statuses
    assert any(d["http_status"] not in (200, None) for d in oracle.docs)
    for d in oracle.docs:
        g = got[d["url"]]
        for col in ("status", "http_status", "fetch_duration_ms", "crawl_depth", "hash"):
            assert g[col] == d[col], f"{col} mismatch for {d['url']}: {g[col]!r} != {d[col]!r}"


def test_checkpoint_resume_idempotent(spark, pages_df, small_corpus, tmp_path):
    """north_rule: rounds resumable from snapshot checkpoints; re-running the
    same crawl over an existing store yields identical results."""
    from webcrawler_spark.storage import SnapshotStore

    cfg = CrawlConfig(max_depth=1)
    entry = small_corpus.seeds[0]
    store = SnapshotStore(str(tmp_path / "state"))
    r1 = run_crawl(spark, pages_df, entry, cfg, store=store, with_processor=False)
    q1 = [r["url"] for r in r1.queue.collect()]
    m1 = store.load_manifest()
    assert m1 is not None and m1.committed_round == 1

    # crash-rerun: same store, same inputs -> same outputs, manifest intact
    r2 = run_crawl(spark, pages_df, entry, cfg, store=store, with_processor=False)
    q2 = [r["url"] for r in r2.queue.collect()]
    assert q1 == q2
    # and the committed url_seen table alone reproduces the queue
    seen = store.read_committed(spark, "url_seen")
    assert seen is not None
    q3 = [r["url"] for r in seen.orderBy("pos").select("url").collect()]
    assert q3 == q1


def test_lineage_emitted(spark, pages_df, small_corpus):
    cfg = CrawlConfig(max_depth=1)
    _, result = _run_both(spark, pages_df, small_corpus, cfg, with_processor=False)
    assert result.lineage, "lineage rows must be emitted per round/partition"
    for row in result.lineage:
        assert row["urls_fetched"] >= 0
        assert row["wall_ms"] >= 0
        assert row["round"] in (0, 1)


# ---------------------------------------------------------------------------
# seed-list extension (README.md seed-list design; rounds.run_crawl docstring)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "max_depth", [0, pytest.param(2, marks=pytest.mark.slow)]
)
def test_multi_seed_queue_order_matches_oracle(spark, pages_df, small_corpus, max_depth):
    cfg = CrawlConfig(max_depth=max_depth)
    seeds = small_corpus.seeds  # three host roots
    oracle, result = _run_both(
        spark, pages_df, small_corpus, cfg, entry=seeds, with_processor=True
    )
    got = [r["url"] for r in result.queue.collect()]
    assert got[: len(seeds)] == seeds  # seeds occupy pos 0..n-1 in list order
    assert got == oracle.queue_order


def test_multi_seed_seen_set_matches_oracle(spark, pages_df, small_corpus):
    cfg = CrawlConfig(max_depth=2)
    oracle, result = _run_both(
        spark, pages_df, small_corpus, cfg, entry=small_corpus.seeds,
        with_processor=False,
    )
    assert {r["url"] for r in result.seen.collect()} == oracle.seen


def test_multi_seed_dedup_and_invalid_seeds(spark, pages_df, small_corpus):
    """Duplicate seeds keep first occurrence; invalid seeds are dropped."""
    cfg = CrawlConfig(max_depth=0)
    s0, s1 = small_corpus.seeds[0], small_corpus.seeds[1]
    messy = [s0, "mailto:x@example.com", s1, s0, "not a url \x00"]
    oracle, result = _run_both(
        spark, pages_df, small_corpus, cfg, entry=messy, with_processor=True
    )
    got = [r["url"] for r in result.queue.collect()]
    assert got == oracle.queue_order
    assert got[:2] == [s0, s1]


# ---------------------------------------------------------------------------
# politeness windows + robots gate (north_rule; oracle.crawl_oracle_polite)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def tiny_corpus():
    """Smaller corpus for the politeness tests: admission rounds multiply the
    per-round fixed cost, so keep the page graph compact."""
    from webcrawler_spark.corpus import generate_corpus

    return generate_corpus(seed=11, n_hosts=4, n_pages=28)


@pytest.fixture(scope="module")
def tiny_pages_df(spark, tiny_corpus, tmp_path_factory):
    from webcrawler_spark.corpus import write_parquet

    out = str(tmp_path_factory.mktemp("tiny-corpus"))
    write_parquet(tiny_corpus, out)
    return spark.read.parquet(f"{out}/pages.parquet")


def _run_both_polite(spark, pages_df, corpus, cfg, entry=None, robots=False, **kw):
    from webcrawler_spark.oracle import crawl_oracle_polite
    from webcrawler_spark.rounds import run_polite_crawl

    entry = entry or corpus.seeds
    rob_dict = None
    rob_df = None
    if robots:
        rob_dict = {r["host"]: r["disallow"] for r in corpus.robots}
        rob_df = spark.createDataFrame(
            [{"host": r["host"], "disallow": r["disallow"]} for r in corpus.robots]
        )
    oracle = crawl_oracle_polite(
        {u: h for u, (t, h, l) in corpus.pages.items()}, entry, cfg, robots=rob_dict
    )
    result = run_polite_crawl(spark, pages_df, entry, cfg, robots=rob_df, **kw)
    return oracle, result


@pytest.mark.parametrize(
    "content_rules", [None, {"minCharacter": 80, "tagName": "p"}], ids=["rules-less", "rules"]
)
def test_polite_store_keeps_only_read_tables(
    spark, tiny_pages_df, tiny_corpus, tmp_path, content_rules
):
    """Polite crawl with a SnapshotStore: the store holds only what a resume,
    a job or a user reads — the manifest, one raw_docs version per round
    and url_seen (no per-round ``round`` table, no raw_docs version for the
    docs pass's tail parse, which with content rules is pinned eagerly) —
    and the committed url_seen equals the run's own queue. The
    store-vs-storeless queue equality lives in the slow-marked
    test_polite_queue_order_matches_oracle path."""
    from webcrawler_spark.storage import SnapshotStore

    cfg = CrawlConfig(max_depth=2, per_host_budget=2, content_rules=content_rules)
    store = SnapshotStore(str(tmp_path / "polite"))
    oracle, r2 = _run_both_polite(
        spark, tiny_pages_df, tiny_corpus, cfg, store=store
    )
    queue = [r["url"] for r in r2.queue.collect()]
    assert queue == oracle.queue_order
    m = store.load_manifest()
    assert m is not None and m.committed_round == r2.rounds_run
    assert sorted(os.listdir(store.root)) == ["MANIFEST.json", "raw_docs", "url_seen"]
    assert store.list_versions("raw_docs") == list(range(r2.rounds_run))
    committed = store.read_committed(spark, "url_seen")
    assert {r["url"] for r in committed.collect()} == set(queue)


@pytest.mark.slow
def test_polite_queue_order_matches_oracle(spark, tiny_pages_df, tiny_corpus):
    cfg = CrawlConfig(max_depth=2, per_host_budget=2)
    oracle, result = _run_both_polite(spark, tiny_pages_df, tiny_corpus, cfg)
    got = [r["url"] for r in result.queue.collect()]
    assert got == oracle.queue_order
    assert result.rounds_run == oracle.rounds
    assert {r["url"] for r in result.seen.collect()} == oracle.seen


@pytest.mark.slow
def test_polite_unbounded_equals_reference_order(spark, tiny_pages_df, tiny_corpus):
    """budget=None admits everything -> the politeness scheduler degenerates
    to the exact reference BFS order."""
    cfg = CrawlConfig(max_depth=2, per_host_budget=None)
    base = crawl_oracle(
        {u: h for u, (t, h, l) in tiny_corpus.pages.items()},
        tiny_corpus.seeds, cfg, with_processor=True,
    )
    _, result = _run_both_polite(spark, tiny_pages_df, tiny_corpus, cfg)
    got = [r["url"] for r in result.queue.collect()]
    assert got == base.queue_order


@pytest.mark.slow
def test_polite_robots_statuses_match_oracle(spark, tiny_pages_df, tiny_corpus):
    cfg = CrawlConfig(max_depth=1, per_host_budget=2)
    oracle, result = _run_both_polite(
        spark, tiny_pages_df, tiny_corpus, cfg, robots=True
    )
    got = [r["url"] for r in result.queue.collect()]
    assert got == oracle.queue_order
    got_status = {(r["url"], r["status"]) for r in result.docs.collect()}
    exp_status = {(d["url"], d["status"]) for d in oracle.docs}
    assert got_status == exp_status
    # the corpus robots disallow /missing/ everywhere: dangling links must be
    # SKIPPED_ROBOTS (not ERROR_FETCH) when robots are honored
    assert any(s == "SKIPPED_ROBOTS" for _, s in got_status)


@pytest.mark.slow
def test_polite_mixed_depth_traversal_matches_oracle(spark):
    """ADVICE r1 (medium): in a mixed-depth admitted round, a URL whose
    grank-earliest harvester sits at max_depth must still be traversed when a
    shallower co-admitted parent harvests it too (the oracle pushes via the
    first DEPTH-ELIGIBLE harvester). Corpus engineered so round 4 co-admits
    b1 (depth 2 == max_depth, grank 5) and c0 (depth 1, grank 6), both
    linking to X: X's subtree (y0) must appear in the queue."""
    from webcrawler_spark.oracle import crawl_oracle_polite
    from webcrawler_spark.rounds import run_polite_crawl

    def page(*links):
        return (
            "<html><body>"
            + "".join(f'<a href="{u}">x</a>' for u in links)
            + "</body></html>"
        )

    a0, a1, a2 = (f"https://a.example.com/{i}" for i in range(3))
    b0, b1, b2 = (f"https://b.example.com/{i}" for i in range(3))
    c0 = "https://c.example.com/0"
    d0 = "https://d.example.com/0"
    x = "https://e.example.com/x"
    y0 = "https://y.example.com/0"
    corpus = {
        a0: page(b0, b2),
        a1: page(),
        a2: page(c0),
        b0: page(b1),
        b2: page(d0),
        b1: page(x),   # max-depth harvester of x, lower grank
        c0: page(x),   # depth-1 harvester of x, higher grank
        d0: page(),
        x: page(y0),   # must be traversed so y0 gets enqueued
        y0: page(),
    }
    cfg = CrawlConfig(max_depth=2, per_host_budget=1)
    oracle = crawl_oracle_polite(corpus, [a0, a1, a2], cfg)
    assert y0 in oracle.queue_order  # the corpus really exercises the case

    pages_df = spark.createDataFrame(
        [(u, h.encode()) for u, h in corpus.items()], "url string, html binary"
    )
    result = run_polite_crawl(spark, pages_df, [a0, a1, a2], cfg, with_processor=False)
    got = [r["url"] for r in result.queue.collect()]
    assert got == oracle.queue_order
    assert result.rounds_run == oracle.rounds


def test_robots_query_string_prefix(spark):
    """ADVICE r1: disallow prefixes containing '?' must match (oracle and
    engine agree on path+'?query' semantics)."""
    from webcrawler_spark.operators.admission import apply_robots

    frontier = spark.createDataFrame(
        [
            ("https://h.example.com/search?q=x", 0),
            ("https://h.example.com/search", 1),
            ("https://h.example.com/other?q=x", 2),
        ],
        "url string, pos long",
    )
    robots = spark.createDataFrame(
        [("h.example.com", ["/search?q="])], "host string, disallow array<string>"
    )
    allowed, blocked = apply_robots(frontier, robots)
    assert {r["url"] for r in blocked.collect()} == {
        "https://h.example.com/search?q=x"
    }
    assert allowed.count() == 2

    from webcrawler_spark.oracle import _robots_blocked

    rob = {"h.example.com": ["/search?q="]}
    assert _robots_blocked("https://h.example.com/search?q=x", rob)
    assert not _robots_blocked("https://h.example.com/search", rob)


@pytest.mark.slow
def test_timed_politeness_matches_oracle(spark, tiny_pages_df, tiny_corpus):
    """Inter-round politeness clocks (README.md:55-57): crawl_delay_ms per
    host, next_allowed_ts carried between rounds. One host's delay (25 s)
    exceeds the 10 s window, so it admits one URL every 3rd round — state the
    per-round budget alone cannot express; queue order and round count must
    still match the sequential oracle exactly."""
    from webcrawler_spark.oracle import crawl_oracle_polite
    from webcrawler_spark.rounds import run_polite_crawl

    cfg = CrawlConfig(max_depth=2, per_host_budget=3, politeness_window_ms=10_000)
    hosts = sorted({u.split("/")[2] for u in tiny_corpus.pages})
    delay_of = {h: [0, 2_000, 25_000, 4_000][i % 4] for i, h in enumerate(hosts)}
    oracle = crawl_oracle_polite(
        {u: h for u, (t, h, l) in tiny_corpus.pages.items()},
        tiny_corpus.seeds, cfg, delays=delay_of, window_ms=10_000,
    )
    delays_df = spark.createDataFrame(
        [(h, d) for h, d in delay_of.items()], "host string, crawl_delay_ms long"
    )
    result = run_polite_crawl(
        spark, tiny_pages_df, tiny_corpus.seeds, cfg, delays=delays_df,
        with_processor=False,
    )
    got = [r["url"] for r in result.queue.collect()]
    assert got == oracle.queue_order
    assert result.rounds_run == oracle.rounds
    # the slow host really was throttled across rounds (not all in round 1)
    assert oracle.rounds > 3


def test_polite_salted_admission_same_sets(spark, tiny_pages_df, tiny_corpus):
    """Salting reorders within hot hosts but must not change WHICH urls are
    seen in total (budget sum preserved across salts)."""
    cfg = CrawlConfig(max_depth=1, per_host_budget=2)
    oracle, result = _run_both_polite(
        spark, tiny_pages_df, tiny_corpus, cfg, salt_threshold=5, n_salts=4
    )
    assert {r["url"] for r in result.seen.collect()} == oracle.seen


def test_fetch_duration_clamped_nonnegative(spark):
    """P8 (WebPageProcessor.java:238-240): durationMs clamps negative
    wall-clock deltas (clock skew mid-fetch) to 0 — a page carrying a
    negative fetch_ms must surface as fetch_duration_ms == 0, a positive
    one unchanged."""
    from webcrawler_spark.rounds import process_queue

    pages = spark.createDataFrame(
        [
            ("https://h.example.com/a", b"<html><p>alpha beta</p></html>", -123),
            ("https://h.example.com/b", b"<html><p>gamma delta</p></html>", 456),
        ],
        "url string, html binary, fetch_ms long",
    )
    queue = spark.createDataFrame(
        [("https://h.example.com/a", 0), ("https://h.example.com/b", 1)],
        "url string, pos long",
    )
    cfg = CrawlConfig(content_rules={"minCharacter": 0, "tagName": "p"})
    docs = {r["url"]: r for r in process_queue(spark, queue, pages, cfg).collect()}
    assert docs["https://h.example.com/a"]["fetch_duration_ms"] == 0
    assert docs["https://h.example.com/b"]["fetch_duration_ms"] == 456


def test_docs_pass_same_rows_pinned_or_lazy(spark, pages_df, small_corpus):
    """process_queue returns the same docs whether its tail parse is pinned
    (``materialize``, as the crawl calls it) or left lazy (a direct call),
    on a queue that yields DUPLICATE, ERROR_FETCH and ERROR_PARSE rows."""
    from webcrawler_spark.rounds import _raw_docs_pin, process_queue

    urls = sorted(small_corpus.pages) + ["https://missing.example.com/nowhere"]
    queue = spark.createDataFrame(list(zip(urls, range(len(urls)))), "url string, pos long")
    cfg = CrawlConfig(max_depth=1, content_rules={"minCharacter": 0, "tagName": "p"})

    def rows(materialize):
        docs = process_queue(spark, queue, pages_df, cfg, materialize=materialize)
        return sorted((r.asDict() for r in docs.collect()), key=lambda d: d["url"])

    lazy = rows(None)
    assert len(lazy) == len(urls)
    assert {"DUPLICATE", "ERROR_FETCH", "ERROR_PARSE"} <= {d["status"] for d in lazy}
    assert rows(_raw_docs_pin(spark, None, 0)) == lazy


@pytest.mark.parametrize(
    "content_rules", [None, {"minCharacter": 80, "tagName": "p"}], ids=["rules-less", "rules"]
)
def test_docs_pass_records_tail_size(spark, pages_df, small_corpus, content_rules):
    """Both docs plans record how many queue urls the docs pass fetches and
    parses itself: at depth 0 round 0 parses the seeds, the tail is every
    harvested child."""
    seeds = small_corpus.seeds
    cfg = CrawlConfig(max_depth=0, content_rules=content_rules)
    res = run_crawl(spark, pages_df, seeds, cfg)
    tail = [t for t in res.timings if t["phase"] == "docs_tail"]
    assert tail == [{"phase": "docs_tail", "rows": res.urls_enqueued - len(seeds)}]
    assert tail[0]["rows"] > 0


def _stop_after(n_rounds):
    """stopCrawl() test double: returns True once ``n_rounds`` rounds ran
    (the callback is polled once at the top of every round)."""
    state = {"polls": 0}

    def stop():
        state["polls"] += 1
        return state["polls"] > n_rounds

    return stop


@pytest.mark.slow
def test_stop_then_resume_matches_straight_run(spark, pages_df, small_corpus, tmp_path):
    """O2 cancellation (CrawlerService.java:134-151): stopping between rounds
    commits a resumable boundary; resume completes to the exact same queue
    order and docs as an uninterrupted crawl."""
    from webcrawler_spark.storage import SnapshotStore

    cfg = CrawlConfig(max_depth=2)
    entry = small_corpus.seeds[0]

    full = run_crawl(
        spark, pages_df, entry, cfg, store=SnapshotStore(str(tmp_path / "full"))
    )
    q_full = [r["url"] for r in full.queue.collect()]
    docs_full = sorted(
        (r["url"], r["status"], r["pos"], r["content_length"])
        for r in full.docs.collect()
    )

    store = SnapshotStore(str(tmp_path / "stopresume"))
    part = run_crawl(spark, pages_df, entry, cfg, store=store, stop=_stop_after(1))
    assert part.stopped
    assert part.docs is None
    assert part.rounds_run == 1
    m = store.load_manifest()
    assert m is not None and m.meta["stopped_next_depth"] == 1

    res = run_crawl(spark, pages_df, entry, cfg, store=store, resume=True)
    assert not res.stopped
    assert [r["url"] for r in res.queue.collect()] == q_full
    docs_res = sorted(
        (r["url"], r["status"], r["pos"], r["content_length"])
        for r in res.docs.collect()
    )
    assert docs_res == docs_full
    # the stop marker is cleared on completion
    assert store.load_manifest().meta.get("stopped_next_depth") is None


@pytest.mark.slow
def test_stop_expire_then_resume_matches_straight_run(spark, pages_df, small_corpus, tmp_path):
    """Snapshot expiry (``jobs/crawl.py --expire-keep``) on a stopped crawl
    keeps every resume input: the resume still reads raw_docs of every
    round before the stop, and ends with the queue and docs of a straight
    run."""
    from webcrawler_spark.storage import SnapshotStore

    cfg = CrawlConfig(max_depth=2)
    entry = small_corpus.seeds[0]
    full = run_crawl(spark, pages_df, entry, cfg)

    store = SnapshotStore(str(tmp_path / "stopexpire"))
    part = run_crawl(spark, pages_df, entry, cfg, store=store, stop=_stop_after(2))
    assert part.stopped and part.rounds_run == 2
    assert store.expire_snapshots(keep_last=1) == {}

    res = run_crawl(spark, pages_df, entry, cfg, store=store, resume=True)
    assert [r["url"] for r in res.queue.collect()] == [r["url"] for r in full.queue.collect()]

    def docs(r):
        return sorted(
            (d["url"], d["status"], d["pos"], d["content_length"]) for d in r.docs.collect()
        )

    assert docs(res) == docs(full)


def _rows(df):
    """Order-free, hashable view of a DataFrame's rows (arrays as tuples)."""
    return sorted(
        (tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.collect()),
        key=repr,
    )


def _lineage_rows(result):
    keys = ("round", "partition_id", "hosts_served", "urls_fetched", "urls_deduped")
    return sorted(tuple(l[k] for k in keys) for l in result.lineage)


def test_bfs_and_unbounded_polite_crawl_are_one_loop(spark, tiny_pages_df, tiny_corpus):
    """By the order theorem BFS is polite admission with no budget: both
    entry points run the same round loop, so they produce the same queue,
    docs rows and lineage rows, and report the same timing phases."""
    from webcrawler_spark.rounds import run_polite_crawl

    cfg = CrawlConfig(max_depth=2)
    bfs = run_crawl(spark, tiny_pages_df, tiny_corpus.seeds, cfg)
    polite = run_polite_crawl(spark, tiny_pages_df, tiny_corpus.seeds, cfg)
    oracle = crawl_oracle(
        {u: h for u, (t, h, l) in tiny_corpus.pages.items()},
        tiny_corpus.seeds, cfg, with_processor=True,
    )
    q_bfs = [r["url"] for r in bfs.queue.collect()]
    assert q_bfs == oracle.queue_order
    assert [r["url"] for r in polite.queue.collect()] == q_bfs
    assert _rows(polite.docs) == _rows(bfs.docs)
    assert _lineage_rows(polite) == _lineage_rows(bfs)
    assert sum(l["hosts_served"] for l in bfs.lineage) > 0
    assert polite.rounds_run == bfs.rounds_run == 3
    phases = {t["phase"] for t in bfs.timings}
    assert {t["phase"] for t in polite.timings} == phases
    assert {"r0_raw", "r0_mat", "r0_stats", "seed_frontier"} <= phases
    # without the processor both leave the seeds out of the queue, as the
    # reference does (CrawlerService.java:110-116)
    bare = run_polite_crawl(
        spark, tiny_pages_df, tiny_corpus.seeds, cfg, with_processor=False
    )
    assert [r["url"] for r in bare.queue.collect()] == crawl_oracle(
        {u: h for u, (t, h, l) in tiny_corpus.pages.items()},
        tiny_corpus.seeds, cfg, with_processor=False,
    ).queue_order


@pytest.mark.parametrize("seed", ["https://gone.example.com/0", "https://r.example.com/private/0"])
def test_polite_crawl_from_unfetchable_seed_ends_cleanly(spark, seed):
    """A budgeted crawl whose only seed is missing from the corpus or blocked
    by robots harvests nothing in its first round (an empty round table) and
    ends with the seed's ERROR_FETCH / SKIPPED_ROBOTS doc, as the oracle."""
    from webcrawler_spark.oracle import crawl_oracle_polite
    from webcrawler_spark.rounds import run_polite_crawl

    page = '<html><body><a href="https://r.example.com/1">x</a></body></html>'
    corpus = {"https://r.example.com/private/0": page, "https://r.example.com/1": page}
    rob = {"r.example.com": ["/private/"]}
    cfg = CrawlConfig(max_depth=2, per_host_budget=1)
    oracle = crawl_oracle_polite(corpus, seed, cfg, robots=rob)
    pages_df = spark.createDataFrame(
        [(u, h.encode()) for u, h in corpus.items()], "url string, html binary"
    )
    rob_df = spark.createDataFrame(
        list(rob.items()), "host string, disallow array<string>"
    )
    res = run_polite_crawl(spark, pages_df, seed, cfg, robots=rob_df)
    assert [r["url"] for r in res.queue.collect()] == oracle.queue_order == [seed]
    assert res.rounds_run == oracle.rounds == 1
    got = {(r["url"], r["status"]) for r in res.docs.collect()}
    assert got == {(d["url"], d["status"]) for d in oracle.docs}
    assert len(got) == 1


def test_admit_all_round_plan_has_no_admission(spark, tiny_pages_df, tiny_corpus, monkeypatch):
    """The admit-all policy adds nothing to a round: its pinned round table
    has no admission window, no deferred rows and (seeds enqueued) no
    visited join — only the seen-flag join. A budgeted crawl's table has
    all three, which shows the probe sees them."""
    from webcrawler_spark.rounds import run_polite_crawl

    DataFrame = type(tiny_pages_df)  # the session's concrete DataFrame class
    plans = []
    real = DataFrame.localCheckpoint

    def spy(self, *a, **k):
        if "_lrank" in self.columns:  # the pinned round table
            plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return real(self, *a, **k)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    run_crawl(spark, tiny_pages_df, tiny_corpus.seeds, CrawlConfig(max_depth=1))
    assert len(plans) == 2
    for p in plans:
        assert "row_number" not in p and "_dgrank" not in p
        assert p.count("Join ") == 1

    plans.clear()
    cfg = CrawlConfig(max_depth=1, per_host_budget=1)
    run_polite_crawl(spark, tiny_pages_df, tiny_corpus.seeds, cfg)
    assert any("row_number" in p and "_dgrank" in p and p.count("Join ") == 2 for p in plans)


def _record_parses(monkeypatch, out_dir):
    """Make every parse function the crawl builds record the urls it is
    handed (rows with html), one file per batch; returns a reader that
    counts them (the wrapping perfbench/trace_run.py does with a counter)."""
    import os
    import uuid
    from collections import Counter

    import webcrawler_spark.rounds as R

    make = R.make_extract_pages
    out = str(out_dir)
    os.makedirs(out, exist_ok=True)

    def recording(config, carry_cols=None):
        fn, schema = make(config, carry_cols)

        def recorded(batches):
            for pdf in batches:
                urls = pdf.loc[pdf["html"].notna(), "url"].tolist()
                with open(os.path.join(out, uuid.uuid4().hex), "w") as f:
                    f.write("\n".join(urls))
                yield from fn(iter([pdf]))

        return recorded, schema

    monkeypatch.setattr(R, "make_extract_pages", recording)

    def parsed():
        c = Counter()
        for name in os.listdir(out):
            with open(os.path.join(out, name)) as f:
                c.update(u for u in f.read().split("\n") if u)
        return c

    return parsed


def test_polite_crawl_parses_each_page_once(
    spark, tiny_pages_df, tiny_corpus, tmp_path, monkeypatch
):
    """A polite crawl with a store captures each round's parse, so across
    the rounds and the docs pass every queued page that can be fetched
    (present in the corpus, not robots-blocked) is parsed exactly once."""
    from webcrawler_spark.oracle import _robots_blocked
    from webcrawler_spark.rounds import run_polite_crawl
    from webcrawler_spark.storage import SnapshotStore

    parsed = _record_parses(monkeypatch, tmp_path / "parsed")
    rob = {r["host"]: r["disallow"] for r in tiny_corpus.robots}
    rob_df = spark.createDataFrame(
        [{"host": h, "disallow": d} for h, d in rob.items()]
    )
    cfg = CrawlConfig(
        max_depth=2, per_host_budget=2,
        content_rules={"minCharacter": 80, "tagName": "p"},
    )
    res = run_polite_crawl(
        spark, tiny_pages_df, tiny_corpus.seeds, cfg, robots=rob_df,
        store=SnapshotStore(str(tmp_path / "state")),
    )
    statuses = {r["status"] for r in res.docs.collect()}
    assert {"OK", "SKIPPED_ROBOTS"} <= statuses
    queue = [r["url"] for r in res.queue.collect()]
    fetchable = {
        u for u in queue if u in tiny_corpus.pages and not _robots_blocked(u, rob)
    }
    counts = parsed()
    assert set(counts) == fetchable
    assert max(counts.values()) == 1


def test_polite_stop_then_resume_matches_straight_run(
    spark, tiny_pages_df, tiny_corpus, tmp_path
):
    """stopCrawl() on the polite path: stopping while urls are still
    deferred commits them with the rest of the loop state, and the resumed
    crawl ends with the queue, round count and docs of a straight run and of
    the sequential oracle."""
    from pyspark.sql import functions as F

    from webcrawler_spark.rounds import run_polite_crawl
    from webcrawler_spark.storage import SnapshotStore

    cfg = CrawlConfig(max_depth=2, per_host_budget=2)
    oracle, full = _run_both_polite(spark, tiny_pages_df, tiny_corpus, cfg)
    q_full = [r["url"] for r in full.queue.collect()]
    assert q_full == oracle.queue_order and full.rounds_run == oracle.rounds
    docs_full = sorted(
        (r["url"], r["status"], r["pos"], r["content_length"])
        for r in full.docs.collect()
    )

    store = SnapshotStore(str(tmp_path / "stopresume"))
    part = run_polite_crawl(
        spark, tiny_pages_df, tiny_corpus.seeds, cfg, store=store,
        stop=_stop_after(2),
    )
    assert part.stopped and part.docs is None and part.rounds_run == 2
    m = store.load_manifest()
    assert m is not None and m.meta["stopped_next_depth"] == 2
    # round 1 deferred urls wait in the committed frontier: a frontier row
    # ranked below the highest grank round 1 fetched was pending in round 1
    # and not admitted
    fetched_hi = store.read_table(spark, "raw_docs", 1).agg(F.max("grank")).first()[0]
    frontier = store.read_table(spark, "frontier", 2)
    assert frontier.filter(F.col("grank") < fetched_hi).count() > 0

    res = run_polite_crawl(
        spark, tiny_pages_df, tiny_corpus.seeds, cfg, store=store, resume=True
    )
    assert not res.stopped
    assert [r["url"] for r in res.queue.collect()] == q_full
    assert part.rounds_run + res.rounds_run == oracle.rounds
    docs_res = sorted(
        (r["url"], r["status"], r["pos"], r["content_length"])
        for r in res.docs.collect()
    )
    assert docs_res == docs_full
    assert {(d["url"], d["status"]) for d in oracle.docs} == {d[:2] for d in docs_res}
    assert store.load_manifest().meta.get("stopped_next_depth") is None


def test_resume_of_snapshot_without_loop_counters_is_refused(
    spark, tiny_pages_df, tiny_corpus, tmp_path
):
    """A stop snapshot whose manifest lacks the loop counters (written by an
    older round loop) cannot be resumed: the resume names what is missing."""
    from webcrawler_spark.storage import SnapshotStore

    store = SnapshotStore(str(tmp_path / "old"))
    cfg = CrawlConfig(max_depth=1)
    part = run_crawl(
        spark, tiny_pages_df, tiny_corpus.seeds, cfg, store=store,
        with_processor=False, stop=_stop_after(1),
    )
    assert part.stopped
    m = store.load_manifest()
    for k in ("frontier_lo", "fetched_total"):
        del m.meta[k]
    store.commit(m)
    with pytest.raises(ValueError, match="frontier_lo, fetched_total"):
        run_crawl(
            spark, tiny_pages_df, tiny_corpus.seeds, cfg, store=store,
            with_processor=False, resume=True,
        )


@pytest.mark.slow
def test_timed_polite_stop_then_resume_matches_oracle(
    spark, tiny_pages_df, tiny_corpus, tmp_path
):
    """Timed politeness across a stop: the per-host clocks (host_state), the
    discovery-rank counter and the spent fetch budget survive the manifest,
    so the resumed crawl admits exactly what the sequential oracle does."""
    from webcrawler_spark.oracle import crawl_oracle_polite
    from webcrawler_spark.rounds import run_polite_crawl
    from webcrawler_spark.storage import SnapshotStore

    cfg = CrawlConfig(
        max_depth=2, per_host_budget=3, politeness_window_ms=10_000, max_pages=22
    )
    hosts = sorted({u.split("/")[2] for u in tiny_corpus.pages})
    delay_of = {h: [0, 2_000, 25_000, 4_000][i % 4] for i, h in enumerate(hosts)}
    oracle = crawl_oracle_polite(
        {u: h for u, (t, h, l) in tiny_corpus.pages.items()},
        tiny_corpus.seeds, cfg, delays=delay_of, window_ms=10_000,
    )
    assert sum(oracle.admitted_per_round) == 22  # the budget binds after the stop
    delays_df = spark.createDataFrame(
        list(delay_of.items()), "host string, crawl_delay_ms long"
    )
    store = SnapshotStore(str(tmp_path / "timed"))
    part = run_polite_crawl(
        spark, tiny_pages_df, tiny_corpus.seeds, cfg, delays=delays_df,
        store=store, with_processor=False, stop=_stop_after(3),
    )
    assert part.stopped
    m = store.load_manifest()
    assert m.meta["fetched_total"] == sum(oracle.admitted_per_round[:3])
    assert m.meta["discovered"] > len(tiny_corpus.seeds)
    assert store.read_table(spark, "host_state", 3).count() > 0

    res = run_polite_crawl(
        spark, tiny_pages_df, tiny_corpus.seeds, cfg, delays=delays_df,
        store=store, with_processor=False, resume=True,
    )
    assert [r["url"] for r in res.queue.collect()] == oracle.queue_order
    assert part.rounds_run + res.rounds_run == oracle.rounds


@pytest.mark.slow
def test_max_concurrent_per_domain_matches_oracle(spark, tiny_pages_df, tiny_corpus):
    """maxConcurrentPerDomain (README.md:55-57) as the ONLY per-host cap
    (budget=None): at most 2 URLs per host per round, oracle-exact order."""
    cfg = CrawlConfig(max_depth=2, per_host_budget=None, max_concurrent_per_domain=2)
    oracle, result = _run_both_polite(spark, tiny_pages_df, tiny_corpus, cfg)
    got = [r["url"] for r in result.queue.collect()]
    assert got == oracle.queue_order
    assert result.rounds_run == oracle.rounds
    assert oracle.rounds > 1  # the cap really deferred something


@pytest.mark.slow
def test_global_qps_matches_oracle(spark, tiny_pages_df, tiny_corpus):
    """globalQps (README.md:55-57): the round's TOTAL admissions capped at
    floor(qps·W/1000) in global discovery order; per-host budgets still hold
    and queue order matches the sequential oracle."""
    cfg = CrawlConfig(
        max_depth=2, per_host_budget=3, global_qps=1,
        politeness_window_ms=5_000,  # G = 5 per round
    )
    oracle, result = _run_both_polite(spark, tiny_pages_df, tiny_corpus, cfg)
    assert max(oracle.admitted_per_round) <= 5  # the global cap binds
    got = [r["url"] for r in result.queue.collect()]
    assert got == oracle.queue_order
    assert result.rounds_run == oracle.rounds


def test_max_pages_budget_matches_oracle(spark, tiny_pages_df, tiny_corpus):
    """maxPages (reference README.md:50 "maxPages: 1000", :144 "cap depth and
    total pages per job"): the job's total admitted-fetch budget. The in-round
    remainder prefix-cuts the admitted set in global discovery order; the
    crawl stops once spent, but everything DISCOVERED up to the cut stays in
    the queue/seen state."""
    cfg = CrawlConfig(max_depth=2, per_host_budget=2, max_pages=11)
    base = crawl_oracle_rounds_total(tiny_corpus, CrawlConfig(max_depth=2, per_host_budget=2))
    assert base > 11  # the budget genuinely binds on this corpus
    oracle, result = _run_both_polite(spark, tiny_pages_df, tiny_corpus, cfg)
    assert sum(oracle.admitted_per_round) == 11  # spent exactly, mid-round cut
    got = [r["url"] for r in result.queue.collect()]
    assert got == oracle.queue_order
    assert result.rounds_run == oracle.rounds
    assert {r["url"] for r in result.seen.collect()} == oracle.seen


def crawl_oracle_rounds_total(corpus, cfg) -> int:
    from webcrawler_spark.oracle import crawl_oracle_polite

    o = crawl_oracle_polite(
        {u: h for u, (t, h, l) in corpus.pages.items()}, corpus.seeds, cfg
    )
    return sum(o.admitted_per_round)


@pytest.mark.slow
def test_max_pages_composes_with_global_qps(spark, tiny_pages_df, tiny_corpus):
    """maxPages rides the same global prefix cut as globalQps: the effective
    per-round cap is min(G, remaining budget)."""
    cfg = CrawlConfig(
        max_depth=2, per_host_budget=3, global_qps=1,
        politeness_window_ms=4_000, max_pages=10,  # G = 4/round, budget 10
    )
    oracle, result = _run_both_polite(spark, tiny_pages_df, tiny_corpus, cfg)
    assert sum(oracle.admitted_per_round) == 10  # budget spent exactly
    assert max(oracle.admitted_per_round) <= 4  # G still binds per round
    got = [r["url"] for r in result.queue.collect()]
    assert got == oracle.queue_order
    assert result.rounds_run == oracle.rounds


def test_max_pages_zero_keeps_seeds_discovered(spark, tiny_pages_df, tiny_corpus):
    """Zero fetch budget: no rounds run, but the seeds are still discovered
    (enqueued + seen) — discovery state is independent of the fetch budget."""
    cfg = CrawlConfig(max_depth=2, per_host_budget=2, max_pages=0)
    oracle, result = _run_both_polite(spark, tiny_pages_df, tiny_corpus, cfg)
    assert oracle.rounds == 0 and result.rounds_run == 0
    got = [r["url"] for r in result.queue.collect()]
    assert got == oracle.queue_order == list(tiny_corpus.seeds)


@pytest.mark.slow
def test_timed_with_global_and_concurrency_caps(spark, tiny_pages_df, tiny_corpus):
    """All three politeness mechanisms composed: crawl-delay clocks + the
    global QPS budget + maxConcurrentPerDomain — the timed clock must advance
    only by URLs actually served AFTER the global cut."""
    from webcrawler_spark.oracle import crawl_oracle_polite
    from webcrawler_spark.rounds import run_polite_crawl

    cfg = CrawlConfig(
        max_depth=2, per_host_budget=3, politeness_window_ms=10_000,
        global_qps=1, max_concurrent_per_domain=2,  # G = 10, c = 2
    )
    hosts = sorted({u.split("/")[2] for u in tiny_corpus.pages})
    delay_of = {h: [0, 2_000, 25_000, 4_000][i % 4] for i, h in enumerate(hosts)}
    oracle = crawl_oracle_polite(
        {u: h for u, (t, h, l) in tiny_corpus.pages.items()},
        tiny_corpus.seeds, cfg, delays=delay_of, window_ms=10_000,
    )
    delays_df = spark.createDataFrame(
        [(h, d) for h, d in delay_of.items()], "host string, crawl_delay_ms long"
    )
    result = run_polite_crawl(
        spark, tiny_pages_df, tiny_corpus.seeds, cfg, delays=delays_df,
        with_processor=False,
    )
    got = [r["url"] for r in result.queue.collect()]
    assert got == oracle.queue_order
    assert result.rounds_run == oracle.rounds


def test_aged_priority_classes_and_floor(spark):
    from pyspark.sql import functions as F

    from webcrawler_spark.operators.admission import aged_priority

    df = spark.createDataFrame(
        [(2, 0), (2, 4), (2, 8), (2, 12), (0, 12), (1, 3)],
        "priority int, waited int",
    )
    out = df.select(
        "priority", "waited",
        aged_priority(F.col("priority"), F.lit(12) - F.col("waited"),
                      current_round=12, age_every=4).alias("eff"),
    ).collect()
    got = {(r["priority"], r["waited"]): r["eff"] for r in out}
    assert got[(2, 0)] == 2    # fresh: unchanged
    assert got[(2, 4)] == 1    # one class per 4 rounds waited
    assert got[(2, 8)] == 0
    assert got[(2, 12)] == 0   # floored at best class
    assert got[(0, 12)] == 0   # already best
    assert got[(1, 3)] == 1    # sub-threshold wait: unchanged


def test_host_circuit_trips_on_error_rate(spark):
    from webcrawler_spark.operators.admission import host_circuit

    rows = (
        [("bad.test", "ERROR_FETCH")] * 4 + [("bad.test", "OK")] * 2          # 4/6 > 50%
        + [("ok.test", "ERROR_FETCH")] + [("ok.test", "OK")] * 9              # 10% errors
        + [("few.test", "ERROR_FETCH")] * 3                                   # 100% but < 5 fetches
        + [("edge.test", "ERROR_FETCH")] * 3 + [("edge.test", "OK")] * 3      # exactly 50%: stays CLOSED
    )
    df = spark.createDataFrame(rows, "host string, status string")
    got = {r["host"]: r["state"] for r in host_circuit(df).collect()}
    assert got == {
        "bad.test": "OPEN", "ok.test": "CLOSED",
        "few.test": "CLOSED", "edge.test": "CLOSED",
    }


def test_registrable_domain_heuristic(spark):
    from pyspark.sql import functions as F

    from webcrawler_spark.functions import registrable_domain

    rows = [
        ("a.example.com",), ("b.c.example.com",), ("example.com",),
        ("x.site.co.uk",), ("site.co.uk",), ("co.uk",),
        ("deep.y.gov.uk",), ("plain.net",), ("localhost",),
    ]
    df = spark.createDataFrame(rows, "host string")
    got = {r["host"]: r["rd"] for r in
           df.select("host", registrable_domain(F.col("host")).alias("rd")).collect()}
    assert got["a.example.com"] == "example.com"
    assert got["b.c.example.com"] == "example.com"
    assert got["example.com"] == "example.com"
    assert got["x.site.co.uk"] == "site.co.uk"      # PSL: three labels kept
    assert got["site.co.uk"] == "site.co.uk"
    assert got["co.uk"] == "co.uk"                   # the suffix itself
    assert got["deep.y.gov.uk"] == "y.gov.uk"
    assert got["plain.net"] == "plain.net"
    assert got["localhost"] == "localhost"           # single label unchanged
