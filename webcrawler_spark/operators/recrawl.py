"""Conditional-GET / content-unchanged recrawl resolution.

The reference declares (never implements) incremental-recrawl semantics:

- "conditional GETs (ETag/If-Modified-Since) when available" —
  /root/reference/README.md:149
- "Deduplication: Skip if content hash unchanged (store last hash in ES) or
  URL already visited" — /root/reference/README.md:156-157

In a batch recrawl the prior crawl's (url, hash) snapshot IS the stored
ETag/last-hash state; resolving the new fetch set against it is one full
outer join on url — the Spark-shaped equivalent of per-request conditional
GETs. Outcomes:

- ``NEW``           — url absent from the prior snapshot: fetch + index.
- ``NOT_MODIFIED``  — hash unchanged: skip re-extraction and re-index (the
  304 path; at 100 TB this is the big win — a stable web recrawl skips the
  parse/index cost for the unchanged majority).
- ``MODIFIED``      — hash changed: re-extract + upsert.
- ``GONE``          — url vanished from the fetch set: tombstone the index
  entry.

Scale shape: one url-keyed shuffle (sort-merge full outer join; both sides
hash-partition on the same key), no skew risk beyond url cardinality, and
the downstream parse job consumes only the NEW/MODIFIED slice — filter
pushdown does the rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NEW = "NEW"
NOT_MODIFIED = "NOT_MODIFIED"
NOT_MODIFIED_304 = "NOT_MODIFIED_304"
MODIFIED = "MODIFIED"
GONE = "GONE"


def recrawl_diff(
    prev: DataFrame,
    cur: DataFrame,
    url_col: str = "url",
    hash_col: str = "hash",
) -> DataFrame:
    """Resolve a recrawl fetch set against the prior crawl's hash snapshot.

    ``prev``/``cur``: (url, hash) relations. Returns one row per url in
    either side: (url, status, prev_hash, cur_hash)."""
    p = prev.select(F.col(url_col).alias("url"), F.col(hash_col).alias("prev_hash"))
    c = cur.select(F.col(url_col).alias("url"), F.col(hash_col).alias("cur_hash"))
    j = p.join(c, "url", "full_outer")
    status = (
        F.when(F.col("prev_hash").isNull(), F.lit(NEW))
        .when(F.col("cur_hash").isNull(), F.lit(GONE))
        .when(F.col("prev_hash") == F.col("cur_hash"), F.lit(NOT_MODIFIED))
        .otherwise(F.lit(MODIFIED))
    )
    return j.select("url", status.alias("status"), "prev_hash", "cur_hash")


def recrawl_conditional(
    prev: DataFrame,
    cur: DataFrame,
    url_col: str = "url",
    hash_col: str = "hash",
) -> DataFrame:
    """Validator-aware recrawl resolution (README.md:149 "conditional GETs
    (ETag/If-Modified-Since) when available" — declared-only there): the
    extension of :func:`recrawl_diff` that models the fetch-log schema with
    stored validators, separating the TWO distinct skip classes:

    - ``NOT_MODIFIED_304`` — the server answered 304 to the conditional GET:
      NO body crossed the wire (http_status == 304 in the fetch log). The
      cheapest outcome — zero transfer, zero hashing, zero parse.
    - ``NOT_MODIFIED``     — a full 200 body arrived but hashed identical:
      transfer paid, parse/index still skipped (README.md:156).

    Inputs: ``prev`` (url, hash, etag, last_modified) — the prior snapshot;
    ``cur`` (url, http_status, hash, etag, last_modified) — the recrawl
    fetch log, where a 304 row carries a null hash (no body to hash).

    Returns (url, status, validator, prev_hash, cur_hash, etag,
    last_modified):

    - ``validator`` names what enabled a 304 skip — 'etag' when the prior
      snapshot held one (If-None-Match wins per RFC 9110 §13.1.2), else
      'last-modified', else NULL (a 304 with no stored validator is a
      protocol anomaly the column makes auditable).
    - ``etag``/``last_modified`` are the CARRIED validators for the next
      snapshot: a 304 response validates the stored ones (kept, per RFC 9110
      §15.4.5 a 304 need not repeat them), a 200 replaces them with the
      response's own headers.

    Scale shape: identical to recrawl_diff — ONE url-keyed full outer join,
    everything else per-row conditionals; the parse job downstream consumes
    only NEW + MODIFIED, and the 304 slice never even reaches hashing.
    """
    p = prev.select(
        F.col(url_col).alias("url"),
        F.col(hash_col).alias("prev_hash"),
        F.col("etag").alias("_petag"),
        F.col("last_modified").alias("_plm"),
    )
    c = cur.select(
        F.col(url_col).alias("url"),
        F.col("http_status").cast("int").alias("_status"),
        F.col(hash_col).alias("cur_hash"),
        F.col("etag").alias("_cetag"),
        F.col("last_modified").alias("_clm"),
    )
    j = p.join(c, "url", "full_outer")
    in_prev = F.col("prev_hash").isNotNull() | F.col("_petag").isNotNull() | F.col(
        "_plm"
    ).isNotNull()
    in_cur = F.col("_status").isNotNull()
    is_304 = in_cur & (F.col("_status") == 304)
    status = (
        F.when(~in_prev, F.lit(NEW))
        .when(~in_cur, F.lit(GONE))
        .when(is_304, F.lit(NOT_MODIFIED_304))
        .when(F.col("prev_hash") == F.col("cur_hash"), F.lit(NOT_MODIFIED))
        .otherwise(F.lit(MODIFIED))
    )
    validator = F.when(
        is_304 & in_prev,
        F.when(F.col("_petag").isNotNull(), F.lit("etag")).when(
            F.col("_plm").isNotNull(), F.lit("last-modified")
        ),
    )
    carried_etag = F.when(is_304, F.coalesce(F.col("_cetag"), F.col("_petag"))).otherwise(
        F.col("_cetag")
    )
    carried_lm = F.when(is_304, F.coalesce(F.col("_clm"), F.col("_plm"))).otherwise(
        F.col("_clm")
    )
    return j.select(
        "url",
        status.alias("status"),
        validator.alias("validator"),
        "prev_hash",
        "cur_hash",
        carried_etag.alias("etag"),
        carried_lm.alias("last_modified"),
    )


def refresh_schedule(
    history: DataFrame,
    base_ms: int = 3_600_000,
    max_ms: int = 30 * 24 * 3_600_000,
    url_col: str = "url",
    ts_col: str = "fetch_ts",
    outcome_col: str = "outcome",
) -> DataFrame:
    """Adaptive recrawl scheduling from per-url fetch history — the policy
    layer above ``recrawl_diff`` (the classic incremental-crawl heuristic,
    e.g. Cho & Garcia-Molina 2003: pages that keep changing get refetched
    sooner, stable pages back off exponentially).

    ``history``: (url, fetch_ts, outcome) with outcome 'MODIFIED' or
    'NOT_MODIFIED' per past fetch. Policy, exactly:
      streak   = fetches strictly after the url's last MODIFIED fetch
                 (all fetches if it never changed)
      interval = min(max_ms, base_ms * 2^min(streak, 30))
      next_ts  = last fetch_ts + interval
    Returns (url, last_ts, streak, interval_ms, next_fetch_ts).

    Plan: one url-keyed aggregate for the last-modified timestamp, a join
    back (same key — the exchange is reused, no second shuffle of the
    history), and a second url-keyed aggregate. Deterministic integer math
    throughout.
    """
    lm = history.groupBy(url_col).agg(
        F.max(F.when(F.col(outcome_col) == "MODIFIED", F.col(ts_col))).alias("_lm")
    )
    joined = history.join(lm, url_col)
    per = joined.groupBy(url_col).agg(
        F.max(ts_col).alias("last_ts"),
        F.sum(
            F.when(
                F.col("_lm").isNull() | (F.col(ts_col) > F.col("_lm")), 1
            ).otherwise(0)
        ).cast("long").alias("streak"),
    )
    interval = F.least(
        F.lit(int(max_ms)).cast("long"),
        F.lit(int(base_ms)).cast("long")
        * F.expr("shiftleft(1L, int(least(streak, 30)))"),
    )
    return per.select(
        F.col(url_col),
        "last_ts",
        "streak",
        interval.alias("interval_ms"),
        # cast accepts both LTZ (no-op) and NTZ inputs; the session timezone
        # is pinned to UTC (session.py), so NTZ epoch math is tz-faithful
        (F.unix_millis(F.col("last_ts").cast("timestamp_ltz")) + interval).alias(
            "next_fetch_ms"
        ),
    )
