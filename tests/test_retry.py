"""Fetch retry / backoff / dead-letter resolution (reference policy:
README.md:150-151,161 — declared there, never implemented; semantics fixed
here and mirrored by the fetch_retry_policy DuckDB oracle)."""

import pytest


@pytest.fixture(scope="module")
def spark():
    from webcrawler_spark.session import get_spark

    return get_spark(
        app_name="retry-tests", master="local[4]", shuffle_partitions=8
    )


def _resolve(spark, rows, **kw):
    from webcrawler_spark.operators.retry import resolve_fetch_attempts

    df = spark.createDataFrame(
        rows, "url string, attempt int, http_status int, retry_after_ms long"
    )
    out = resolve_fetch_attempts(df, **kw).collect()
    return {
        r["url"]: (
            r["final_status"], r["n_attempts"], r["total_backoff_ms"], r["outcome"]
        )
        for r in out
    }


def test_retry_policy_cases(spark):
    rows = [
        # immediate 200: no retries, no backoff
        ("a", 1, 200, None), ("a", 2, 503, None), ("a", 3, 503, None),
        # 404 is non-retryable 4xx: FAILED on attempt 1
        ("b", 1, 404, None), ("b", 2, 200, None), ("b", 3, 200, None),
        # 503 then 200: one exponential backoff (2000 * 2^0)
        ("c", 1, 503, None), ("c", 2, 200, None), ("c", 3, 500, None),
        # three transient failures: DEAD_LETTER, backoffs 2000 + 4000
        ("d", 1, 503, None), ("d", 2, 500, None), ("d", 3, 503, None),
        # 429 WITH Retry-After: retried, waits the server's value (1500)
        ("e", 1, 429, 1500), ("e", 2, 200, None), ("e", 3, 200, None),
        # 429 WITHOUT Retry-After: not retryable (README.md:151) -> FAILED
        ("f", 1, 429, None), ("f", 2, 200, None), ("f", 3, 200, None),
        # two failures then a 302 (redirect counts as resolved, <400 -> OK)
        ("g", 1, 500, None), ("g", 2, 429, 700), ("g", 3, 302, None),
    ]
    got = _resolve(spark, rows)
    assert got["a"] == (200, 1, 0, "OK")
    assert got["b"] == (404, 1, 0, "FAILED")
    assert got["c"] == (200, 2, 2000, "OK")
    assert got["d"] == (503, 3, 6000, "DEAD_LETTER")
    assert got["e"] == (200, 2, 1500, "OK")
    assert got["f"] == (429, 1, 0, "FAILED")
    assert got["g"] == (302, 3, 2700, "OK")


def test_retry_max_attempts_truncates(spark):
    # attempts past max_attempts are ignored: with max_attempts=2 the url
    # dead-letters at attempt 2 even though attempt 3 would have succeeded
    rows = [("x", 1, 503, None), ("x", 2, 500, None), ("x", 3, 200, None)]
    got = _resolve(spark, rows, max_attempts=2)
    assert got["x"] == (500, 2, 2000, "DEAD_LETTER")
