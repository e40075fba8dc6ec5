"""Queue semantics (mirrors crawler/LinkQueueParameterizedTest.java:32-168) and
sequential-oracle crawl behavior on small synthetic graphs (mirrors
service/CrawlerServiceTest.java:179-295)."""

from webcrawler_spark.config import CrawlConfig
from webcrawler_spark.corpus import generate_corpus
from webcrawler_spark.oracle import LinkQueueOracle, crawl_oracle


def page(links, title="T"):
    body = "".join(f'<a href="{u}">x</a>' for u in links)
    return f"<!doctype html><html><head><title>{title}</title></head><body>{body}</body></html>"


class TestLinkQueueSemantics:
    def test_empty_dequeue_returns_none(self):
        q = LinkQueueOracle()
        assert q.dequeue() is None

    def test_blank_and_null_ignored(self):
        q = LinkQueueOracle()
        q.enqueue(None)
        q.enqueue("")
        q.enqueue("   ")
        assert q.dequeue() is None

    def test_fifo_order_with_duplicates(self):
        q = LinkQueueOracle()
        for u in ["a", "b", "a", "c", "b"]:
            q.enqueue(u)
        assert q.drain() == ["a", "b", "c"]

    def test_dedup_retention_after_dequeue(self):
        # LinkQueue.java:18-21: re-enqueue of a dequeued URL is ignored
        q = LinkQueueOracle()
        q.enqueue("a")
        assert q.dequeue() == "a"
        q.enqueue("a")
        assert q.dequeue() is None

    def test_init_resets_dedup(self):
        q = LinkQueueOracle()
        q.enqueue("a")
        q.init()
        q.enqueue("a")
        assert q.drain() == ["a"]


class TestCrawlOracle:
    def test_depth0_harvests_but_does_not_traverse(self):
        # CrawlerService.java:127-131: at maxDepth, links enqueued, not followed
        corpus = {
            "http://s.com/": page(["http://s.com/a", "http://s.com/b"]),
            "http://s.com/a": page(["http://s.com/c"]),
        }
        cfg = CrawlConfig(max_depth=0)
        res = crawl_oracle(corpus, "http://s.com/", cfg, with_processor=False)
        assert res.queue_order == ["http://s.com/a", "http://s.com/b"]
        assert res.visited == {"http://s.com/"}

    def test_depth1_traverses_one_level(self):
        corpus = {
            "http://s.com/": page(["http://s.com/a"]),
            "http://s.com/a": page(["http://s.com/b"]),
            "http://s.com/b": page(["http://s.com/c"]),
        }
        cfg = CrawlConfig(max_depth=1)
        res = crawl_oracle(corpus, "http://s.com/", cfg, with_processor=False)
        # depth-0 page's links + depth-1 page's harvested links; /c never traversed
        assert res.queue_order == ["http://s.com/a", "http://s.com/b"]
        assert res.visited == {"http://s.com/", "http://s.com/a"}

    def test_entry_enqueued_only_with_processor(self):
        # CrawlerService.java:110-116
        corpus = {"http://s.com/": page(["http://s.com/a"])}
        cfg = CrawlConfig(max_depth=0)
        without = crawl_oracle(corpus, "http://s.com/", cfg, with_processor=False)
        assert "http://s.com/" not in without.queue_order
        with_p = crawl_oracle(corpus, "http://s.com/", cfg, with_processor=True)
        assert with_p.queue_order[0] == "http://s.com/"

    def test_invalid_entry_returns_empty(self):
        res = crawl_oracle({}, "mailto:x@y.com", CrawlConfig(max_depth=1))
        assert res.queue_order == []
        assert res.docs == []

    def test_noise_links_filtered(self):
        # mailto/javascript/#fragment links (CrawlerServiceTest.java:214-250)
        corpus = {
            "http://s.com/": (
                "<html><body>"
                '<a href="mailto:x@y.com">m</a>'
                '<a href="javascript:void(0)">j</a>'
                '<a href="#frag">f</a>'
                '<a href="/sub">s</a>'
                "</body></html>"
            ),
            "http://s.com/sub": page([]),
        }
        cfg = CrawlConfig(max_depth=1)
        res = crawl_oracle(corpus, "http://s.com/", cfg, with_processor=False)
        # "#frag" resolves to the entry URL itself -> normalized to entry, which
        # is NOT in the queue (no processor) but IS seen-gated for traversal
        assert res.queue_order == ["http://s.com/", "http://s.com/sub"]

    def test_include_exclude_filters(self):
        corpus = {
            "http://s.com/": page(
                ["http://s.com/keep/1", "http://s.com/skip/2", "http://other.org/keep/3"]
            )
        }
        cfg = CrawlConfig(
            max_depth=0,
            include_url_patterns=["/keep/"],
            exclude_url_patterns=["other\\.org"],
        )
        res = crawl_oracle(corpus, "http://s.com/", cfg, with_processor=False)
        assert res.queue_order == ["http://s.com/keep/1"]

    def test_excludes_take_precedence(self):
        corpus = {"http://s.com/": page(["http://s.com/keep/skip/x"])}
        cfg = CrawlConfig(
            max_depth=0,
            include_url_patterns=["/keep/"],
            exclude_url_patterns=["/skip/"],
        )
        res = crawl_oracle(corpus, "http://s.com/", cfg, with_processor=False)
        assert res.queue_order == []

    def test_bfs_first_occurrence_order(self):
        # diamond: root -> a,b ; a -> c ; b -> c (c queued once, at a's position)
        corpus = {
            "http://s.com/": page(["http://s.com/a", "http://s.com/b"]),
            "http://s.com/a": page(["http://s.com/c"]),
            "http://s.com/b": page(["http://s.com/c", "http://s.com/d"]),
            "http://s.com/c": page([]),
            "http://s.com/d": page([]),
        }
        cfg = CrawlConfig(max_depth=2)
        res = crawl_oracle(corpus, "http://s.com/", cfg, with_processor=False)
        assert res.queue_order == [
            "http://s.com/a",
            "http://s.com/b",
            "http://s.com/c",
            "http://s.com/d",
        ]
        # traversal ranks: depth1 = a(0), b(1); depth2 = c(0), d(1)
        assert res.dequeue_ranks["http://s.com/a"] == (1, 0)
        assert res.dequeue_ranks["http://s.com/b"] == (1, 1)
        assert res.dequeue_ranks["http://s.com/c"] == (2, 0)
        assert res.dequeue_ranks["http://s.com/d"] == (2, 1)

    def test_missing_page_skipped_in_traversal(self):
        corpus = {"http://s.com/": page(["http://s.com/gone", "http://s.com/a"]),
                  "http://s.com/a": page(["http://s.com/deep"])}
        cfg = CrawlConfig(max_depth=2)
        res = crawl_oracle(corpus, "http://s.com/", cfg, with_processor=False)
        # 'gone' is enqueued and visited, but fetch fails -> contributes nothing
        assert "http://s.com/gone" in res.queue_order
        assert "http://s.com/deep" in res.queue_order

    def test_docs_assembled_with_processor(self):
        corpus = {
            "http://s.com/": page(["http://s.com/gone"], title="Root"),
        }
        cfg = CrawlConfig(max_depth=0, content_rules={"tagName": "a"})
        res = crawl_oracle(corpus, "http://s.com/", cfg, with_processor=True)
        assert [d["url"] for d in res.docs] == ["http://s.com/", "http://s.com/gone"]
        ok = res.docs[0]
        assert ok["status"] == "OK"
        assert ok["title"] == "Root"
        assert ok["domain"] == "s.com"
        assert ok["contents"] == ["x"]
        assert ok["content_length"] == 1
        err = res.docs[1]
        assert err["status"] == "ERROR_FETCH"
        assert err["title"] is None


class TestCorpusGenerator:
    def test_deterministic(self):
        c1 = generate_corpus(seed=42, n_hosts=4, n_pages=30)
        c2 = generate_corpus(seed=42, n_hosts=4, n_pages=30)
        assert list(c1.pages.keys()) == list(c2.pages.keys())
        u = next(iter(c1.pages))
        assert c1.pages[u] == c2.pages[u]
        assert c1.seeds == c2.seeds

    def test_zipf_skew(self):
        c = generate_corpus(seed=42, n_hosts=6, n_pages=120)
        counts = {}
        for u in c.pages:
            host = u.split("/")[2]
            counts[host] = counts.get(host, 0) + 1
        sizes = sorted(counts.values(), reverse=True)
        assert sizes[0] >= 2 * sizes[-1]  # hot-host skew present

    def test_text_is_kernel_extraction(self):
        from webcrawler_spark.kernel.extract import body_text

        c = generate_corpus(seed=42, n_hosts=3, n_pages=12)
        rows = c.rows()
        for r in rows[:5]:
            assert r["text"] == body_text(r["html"].decode())

    def test_oracle_runs_on_corpus(self):
        c = generate_corpus(seed=42, n_hosts=4, n_pages=40)
        cfg = CrawlConfig(max_depth=2, content_rules={"minCharacter": 80, "tagName": "p"})
        res = crawl_oracle({u: h for u, (t, h, l) in c.pages.items()}, c.seeds[0], cfg)
        assert len(res.queue_order) > 0
        assert len(res.docs) == len(res.queue_order)
        assert res.seen == set(res.queue_order)
