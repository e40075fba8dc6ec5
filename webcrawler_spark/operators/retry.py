"""Fetch retry / backoff / dead-letter resolution.

The reference declares (never implements) the fetch retry policy:

- "Retry on transient 5xx with exponential backoff; do not retry on 4xx
  except 429 with Retry-After" — /root/reference/README.md:150-151
- "On failure, log and send to a dead-letter list for retry" —
  /root/reference/README.md:161

In a batch crawl the fetcher records one row per ATTEMPT; this operator
resolves the attempt log into one outcome per url — the Spark-shaped
equivalent of the reference's in-process retry loop. Everything is one
window + one aggregation on the url key (a single shuffle: Catalyst reuses
the window's hash partitioning for the groupBy), no iteration — the retry
"loop" is bounded by ``max_attempts``, so it unrolls into plain column
algebra. Scales trivially: the attempts table is at most ``max_attempts`` ×
frontier rows, keyed uniformly by url.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: outcome labels
OK = "OK"                    # a 2xx/3xx attempt resolved the url
FAILED = "FAILED"            # non-retryable 4xx (incl. 429 without Retry-After)
DEAD_LETTER = "DEAD_LETTER"  # max_attempts transient failures — dead-letter list


def _retryable(status, retry_after):
    """5xx always; 429 only when the server supplied Retry-After
    (README.md:151: 'do not retry on 4xx except 429 with Retry-After')."""
    return (status >= 500) | ((status == 429) & retry_after.isNotNull())


def resolve_fetch_attempts(
    attempts: DataFrame,
    url_col: str = "url",
    attempt_col: str = "attempt",
    status_col: str = "http_status",
    retry_after_col: str = "retry_after_ms",
    max_attempts: int = 3,
    base_backoff_ms: int = 2000,
) -> DataFrame:
    """Resolve a per-attempt fetch log into one row per url.

    Input: (url, attempt [1-based], http_status, retry_after_ms nullable).
    Policy: walk attempts in order; a non-retryable status resolves the url
    (OK for <400, FAILED for a non-retryable 4xx); a retryable status
    (5xx, or 429 with Retry-After) costs a backoff and the next attempt is
    consumed, up to ``max_attempts`` — after which the url is DEAD_LETTER
    with the last status. Backoff after failed attempt i is
    ``base_backoff_ms * 2**(i-1)`` (exponential), except a 429, which waits
    the server's ``retry_after_ms`` instead.

    Output: (url, final_status, n_attempts, total_backoff_ms, outcome).
    """
    url, att, st = F.col(url_col), F.col(attempt_col), F.col(status_col)
    ra = F.col(retry_after_col)
    a = attempts.filter(att <= max_attempts).select(
        url.alias("url"),
        att.cast("int").alias("attempt"),
        st.cast("int").alias("http_status"),
        ra.cast("long").alias("retry_after_ms"),
    )
    retry = _retryable(F.col("http_status"), F.col("retry_after_ms"))
    w = Window.partitionBy("url")
    a = (
        a.withColumn(
            "_res_att", F.min(F.when(~retry, F.col("attempt"))).over(w)
        )
        .withColumn("_max_att", F.max("attempt").over(w))
        .withColumn("_eff", F.coalesce("_res_att", "_max_att"))
        .withColumn(
            "_backoff",
            F.when(
                F.col("http_status") == 429, F.col("retry_after_ms")
            ).otherwise(
                F.lit(base_backoff_ms)
                * F.pow(F.lit(2.0), F.col("attempt") - 1).cast("long")
            ),
        )
    )
    g = a.groupBy("url").agg(
        F.max(
            F.when(F.col("attempt") == F.col("_eff"), F.col("http_status"))
        ).alias("final_status"),
        F.min("_eff").cast("int").alias("n_attempts"),
        F.coalesce(
            F.sum(F.when(F.col("attempt") < F.col("_eff"), F.col("_backoff"))),
            F.lit(0),
        ).cast("long").alias("total_backoff_ms"),
        F.min("_res_att").alias("_res"),
    )
    return g.select(
        "url",
        "final_status",
        "n_attempts",
        "total_backoff_ms",
        F.when(F.col("_res").isNull(), F.lit(DEAD_LETTER))
        .when(F.col("final_status") < 400, F.lit(OK))
        .otherwise(F.lit(FAILED))
        .alias("outcome"),
    )
