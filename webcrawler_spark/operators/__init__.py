"""Distributed crawl operators: frontier ordering, exact URL-seen dedup,
admission, robots, content and domain gates, recrawl scheduling, retry,
as-of joins and sitemaps."""
