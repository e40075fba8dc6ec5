"""The benchmark's workloads: corpus shape, seed-derived entry lists, crawl flags.

The web is one pages table per checkout (``CORPUS``, made by
``jobs/gen_corpus.py``); ``--seed`` picks which pages a workload starts from,
so the same seed gives the same inputs and another seed gives another crawl of
the same web. Generating a fresh corpus per seed costs a Spark job of its own,
more than the run budget leaves.
"""

from __future__ import annotations

import bisect
import hashlib
import random
from collections import Counter
from dataclasses import dataclass, field

# The ROADMAP baseline web (1024 Zipf hosts, hash layout) scaled down: a run
# is one spark-submit job whose set-up alone takes 30-40 s on a 4-core box,
# so the crawls are sized to what the run budget leaves.
CORPUS = {"n_hosts": 1024, "n_pages": 10_000, "gen_seed": 7}

# polite_rules crawls its seeds only (max depth 0) in one admission round.
# A round is some forty short Spark jobs whose wall is mostly scheduling
# latency, which moves with host load; a deferral round added 4-7 s of it to
# each run, and more seeds in one round buy more measured work for that time.
POLITE_SEEDS = 800


@dataclass(frozen=True)
class Workload:
    name: str
    max_depth: int
    config: dict = field(default_factory=dict)  # WebCrawlerConfig-shaped JSON
    polite: bool = False

    def entries(self, alloc: list[int], seed: int) -> list[str]:
        """The workload's seed list, in queue order, as a pure function of
        (pages per host, seed)."""
        rng = random.Random(f"{self.name}:{seed}")
        if not self.polite:
            # 4 seeds on each host (fewer where the host has fewer pages)
            return [
                _url(h, p)
                for h, n in enumerate(alloc)
                for p in sorted(rng.sample(range(n), min(4, n)))
            ]
        # a uniform sample of pages: hosts get seeds in Zipf proportion, so
        # the hottest host holds the longest per-host queue
        prefix = [0]
        for n in alloc:
            prefix.append(prefix[-1] + n)
        out = []
        for g in rng.sample(range(prefix[-1]), POLITE_SEEDS):
            h = bisect.bisect_right(prefix, g) - 1
            out.append(_url(h, g - prefix[h]))
        return out

    def per_host_budget(self, entries: list[str]) -> int | None:
        """The hottest host's seed count: every host is admitted against the
        budget and the hottest one fills it, so the crawl takes one round."""
        if not self.polite:
            return None
        return max(Counter(u.split("/")[2] for u in entries).values())

    def key(self) -> str:
        """Cache key of everything that shapes this workload's inputs."""
        spec = repr((self, POLITE_SEEDS))
        return hashlib.sha256(spec.encode()).hexdigest()[:12]


WORKLOADS = {
    w.name: w
    for w in (
        # ROADMAP baseline shape cut to depth 0: 4 seeds on every host, no
        # rules. Round 0 parses the seeds and the docs pass parses their
        # harvested children (2/3 of all docs), so kernel, mapInPandas
        # wrapper and docs-pass changes show here.
        Workload("bfs_wide", max_depth=0),
        # run_polite_crawl with a per-host budget, robots and p/80 content
        # rules: the admission and robots operators, the materialized docs
        # plan with DUPLICATE losers, and a docs plan that parses every
        # admitted page again. A bfs_wide gain that costs polite crawls
        # shows here.
        Workload(
            "polite_rules",
            max_depth=0,
            config={"contentRules": {"tagName": "p", "minCharacter": 80}},
            polite=True,
        ),
    )
}


def _url(host: int, page: int) -> str:
    return f"https://host{host:03d}.example.com/page/{page}"
