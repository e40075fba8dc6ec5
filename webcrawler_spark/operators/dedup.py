"""URL-seen dedup: the exact anti-join against ``url_seen``.

The semantics are the reference's seen-set gate
(crawler/InMemoryLinkQueue.java:36-43; retention contract LinkQueue.java:18-21):
a URL ever enqueued is never enqueued again. Exactness comes from a join
against the append-only ``url_seen`` table, which is also what eviction edits
(jobs/recrawl.py --evict deletes due urls from it, and a resumed crawl
re-admits them).

This is the crawl's only dedup gate. Bloom and cuckoo membership sidecars
used to sit in front of it; measured at ``local[4]`` they lost to the plain
join in every run with identical counts (BASELINE.md), because with AQE the
exact lookup is already an in-memory hash join and a filter probe cannot be
cheaper than the lookup it guards. They were removed.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def anti_join_new(candidates: DataFrame, seen: DataFrame, key: str = "url") -> DataFrame:
    """Exact dedup gate: rows of ``candidates`` whose key never appeared in
    ``seen`` (InMemoryLinkQueue.java:40-41 as relational algebra)."""
    return candidates.join(seen.select(key).distinct(), on=key, how="left_anti")


def flag_seen(
    candidates: DataFrame,
    seen: DataFrame,
    url_col: str = "url",
    carry: Sequence[str] = (),
) -> DataFrame:
    """The dedup gate as a FLAG instead of a filter: returns ``candidates``
    with an int ``_dup`` column (1 = url already in ``seen``). Keeping the
    duplicate rows lets the caller compute n_new, n_dup and lineage stats in
    the same single pass that feeds ranking — no second count job.
    ``carry`` names ``seen`` columns to bring along: set on ``_dup`` rows,
    null on new ones.

    PRECONDITION: ``seen`` is unique on ``url_col`` (the url_seen table is by
    construction — each url is enqueued at most once); a non-unique seen side
    would duplicate candidate rows through the left join.
    """
    marker = seen.select(url_col, *carry).withColumn("_dup", F.lit(1))
    j = candidates.join(marker, url_col, "left")
    return j.withColumn("_dup", F.coalesce(F.col("_dup"), F.lit(0)))
