"""Pins the bytes of the ``pages.text`` golden column.

``pages.text`` is ``kernel.extract.body_text`` of ``html``, and ``None`` on
the corpus's malformed (ERROR_PARSE) pages. These digests were computed when
the golden still came from the crawl kernel's own text output; they prove
the golden did not move by a byte when body text left that kernel.
"""

import hashlib
import json

from webcrawler_spark.corpus import generate_corpus, generate_pages_distributed


def _digest(pairs):
    """sha256 over the (url, text) pairs in url order (None kept as null)."""
    ordered = sorted(pairs, key=lambda p: p[0])
    return hashlib.sha256(json.dumps(ordered).encode()).hexdigest()


def test_corpus_rows_text_golden_bytes():
    rows = generate_corpus(seed=42, n_hosts=6, n_pages=120).rows()
    pairs = [(r["url"], r["text"]) for r in rows]
    assert len(pairs) == 120
    assert sum(t is None for _, t in pairs) == 6  # the parse-error fixtures
    assert _digest(pairs) == (
        "e2134899bd906e3673b982346314e1fba7dc469982795e5b9e0331ce04a79133"
    )


def test_distributed_pages_text_golden_bytes(spark):
    pages, _seeds = generate_pages_distributed(
        spark, seed=7, n_hosts=8, n_pages=400, num_partitions=3
    )
    pairs = [(r["url"], r["text"]) for r in pages.select("url", "text").collect()]
    assert len(pairs) == 400
    assert sum(t is None for _, t in pairs) == 22  # the parse-error fixtures
    assert _digest(pairs) == (
        "1b033cd786062a8477a3e7bfca348da569a46d37e7acfcf3c4083cc52c0665eb"
    )
