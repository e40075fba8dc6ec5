"""spark-submit entry point: run a full crawl (all depth rounds) as batch jobs.

Usage:
    spark-submit --py-files engine.zip jobs/crawl.py \
        --pages /path/pages.parquet --entry https://host000.example.com/page/0 \
        --state-dir /tmp/crawl-state [--config crawl.json] [--max-depth 2] \
        [--per-host-budget N] [--max-pages N] [--robots robots.parquet \
        [--timed-politeness]] [--salt-threshold N] [--stop-file PATH] \
        [--resume] [--no-processor] [--expire-keep N]

Every flag works in every mode: with no politeness flag the crawl admits
every pending url (plain BFS). Prints one summary JSON line and writes
raw_docs (one version per round), url_seen, docs and lineage tables under
--state-dir (SnapshotStore layout, resumable; a stop also writes the loop
state a resume reads).
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys
import time

if importlib.util.find_spec("webcrawler_spark") is None:
    # no engine on the path (no --py-files): use this checkout. Local-mode
    # python workers inherit the driver env, not driver sys.path; without
    # PYTHONPATH a plain-python launch from outside the repo breaks
    # mapInPandas. With --py-files the driver keeps the shipped engine, the
    # one its workers import.
    _REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, _REPO)
    os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="pages parquet path")
    ap.add_argument(
        "--entry",
        required=True,
        help="entry URL, comma-separated seed list, or @/path/to/seeds.parquet "
        "(url column, seed_id order)",
    )
    ap.add_argument("--state-dir", required=True)
    ap.add_argument("--config", default=None, help="WebCrawlerConfig-shaped JSON")
    ap.add_argument("--max-depth", type=int, default=None)
    ap.add_argument("--per-host-budget", type=int, default=None)
    ap.add_argument(
        "--max-pages", type=int, default=None,
        help="job-wide admitted-fetch budget (reference maxPages); the crawl "
        "stops when spent, discovery state stays committed",
    )
    ap.add_argument(
        "--robots", default=None,
        help="robots parquet (host, disallow array) — enables the robots gate",
    )
    ap.add_argument(
        "--salt-threshold", type=int, default=None,
        help="salt hosts with more pending urls than this (their per-host "
        "budget splits across salts)",
    )
    ap.add_argument(
        "--timed-politeness", action="store_true",
        help="use per-host next_allowed_ts clocks driven by the robots "
        "table's crawl_delay_ms (requires --robots)",
    )
    ap.add_argument(
        "--no-processor", action="store_true",
        help="skip the docs pass; an uncapped crawl without --robots then "
        "leaves the seeds out of the queue, as the reference does",
    )
    ap.add_argument(
        "--stop-file", default=None,
        help="stopCrawl() analogue: halt at the next round boundary once this "
        "path exists (state committed to --state-dir, resumable)",
    )
    ap.add_argument(
        "--resume", action="store_true",
        help="continue a crawl stopped via --stop-file from its committed "
        "round boundary (same --state-dir, same entry/config)",
    )
    ap.add_argument(
        "--expire-keep", type=int, default=None,
        help="after the crawl, expire old table snapshots keeping the last N "
        "versions per table (the committed version always survives, and a "
        "stopped crawl keeps every version until its resume completes); a "
        "deep crawl otherwise stores one copy of frontier/url_seen/docs per round",
    )
    args = ap.parse_args()

    import webcrawler_spark
    from webcrawler_spark.config import CrawlConfig
    from webcrawler_spark.rounds import run_polite_crawl
    from webcrawler_spark.session import get_spark
    from webcrawler_spark.storage import SnapshotStore

    config = CrawlConfig.from_json(args.config) if args.config else CrawlConfig()
    if args.max_depth is not None:
        config.max_depth = args.max_depth
    if args.per_host_budget is not None:
        config.per_host_budget = args.per_host_budget
    if args.max_pages is not None:
        config.max_pages = args.max_pages
    if config.obey_robots and not args.robots:
        # the robots gate needs a robots table; crawling without one would
        # silently ignore the config's request
        raise SystemExit(
            "config sets obeyRobotsTxt: true but no --robots table was given; "
            "pass --robots robots.parquet or set obeyRobotsTxt to false"
        )

    spark = get_spark(app_name="crawl")
    # Warm the JVM (codegen/JIT) and the Python worker pool before the timed
    # section — same convention as bench.py: measured wall is crawl compute,
    # not one-time session startup (which a long-running crawler amortizes).
    # The warmup UDF imports the extraction kernel so every reused Python
    # worker pays its module-import cost here, not in round 0's parse stage
    # (N workers × ~1 s of numpy/pandas/kernel imports, serial per worker).
    def _warm_imports(it):
        from webcrawler_spark.kernel.extract import extract_page  # noqa: F401

        return it

    spark.range(1_000_000).repartition(
        4 * spark.sparkContext.defaultParallelism
    ).mapInPandas(_warm_imports, "id long").selectExpr("sum(id)").collect()
    # First use of the shuffle/sort/window/expand machinery class-loads and
    # codegen-compiles whole subsystems (~1-3 s each); exercise the exact
    # shapes every crawl round uses (hash agg over a shuffle, a partitioned
    # running-sum window, grouping sets) so round 0 pays none of it.
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    warm = spark.range(100_000).select("id", (F.col("id") % 7).alias("k"))
    warm.groupBy("k").agg(F.sum("id")).collect()
    warm.withColumn(
        "rs",
        F.sum("id").over(
            W.partitionBy("k").orderBy("id").rowsBetween(W.unboundedPreceding, 0)
        ),
    ).agg(F.max("rs")).collect()
    warm.groupingSets([["k"], []], "k").agg(
        F.sum("id"), F.grouping_id()
    ).collect()
    spark.read.parquet(args.pages).limit(1).count()  # Hadoop FS / footer init

    t0 = time.monotonic()
    phases = {}
    pages = spark.read.parquet(args.pages)
    phases["read_pages"] = round(time.monotonic() - t0, 2)
    store = SnapshotStore(args.state_dir)

    if args.entry.startswith("@"):
        # seeds stay distributed: a DataFrame entry never materializes the
        # seed list on the driver (frontier-sized seed lists are the norm at
        # 10^10 scale); seed_id carries the list order for pos 0..n-1
        entry = spark.read.parquet(args.entry[1:])
    elif "," in args.entry:
        entry = [u for u in args.entry.split(",") if u]
    else:
        entry = args.entry

    robots_df = spark.read.parquet(args.robots) if args.robots else None
    if robots_df is not None and "body" in robots_df.columns and (
        "disallow" not in robots_df.columns
    ):
        # raw fetched robots.txt bodies (host, body): parse them into the
        # gate's (host, disallow[], crawl_delay_ms) table in-flight
        from webcrawler_spark.operators.robots import parse_robots_txt

        robots_df = parse_robots_txt(robots_df)
    delays_df = None
    if args.timed_politeness:
        if robots_df is None or "crawl_delay_ms" not in robots_df.columns:
            raise SystemExit("--timed-politeness requires --robots with crawl_delay_ms")
        delays_df = robots_df.select("host", "crawl_delay_ms")
    stop = None
    if args.stop_file:
        stop = lambda: os.path.exists(args.stop_file)  # noqa: E731
    # with no politeness flag the policy admits every pending url: the BFS plan
    res = run_polite_crawl(
        spark,
        pages,
        entry,
        config,
        robots=robots_df,
        store=store,
        with_processor=not args.no_processor,
        salt_threshold=args.salt_threshold,
        delays=delays_df,
        stop=stop,
        resume=args.resume,
    )
    t_rounds_done = time.monotonic()
    # write first, count the written parquet: count-then-write would run the
    # full extraction chain twice
    n_docs = 0
    if res.docs is not None:
        store.write_table(res.docs, "docs", config.max_depth)
        phases["docs_write"] = round(time.monotonic() - t_rounds_done, 2)
        # footer-based count: the written table's row count is metadata, not
        # another cluster pass over the multi-GB docs payload
        n_docs = store.count_table("docs", config.max_depth)
    if res.lineage:
        from webcrawler_spark.rounds import LINEAGE_SCHEMA

        store.write_table(
            spark.createDataFrame(res.lineage, LINEAGE_SCHEMA), "lineage", res.rounds_run
        )
    wall = time.monotonic() - t0
    # urls_deduped is a round-level value replicated across that round's
    # per-partition lineage rows; sum it once per round
    deduped = sum(d for _, d in {(l["round"], l["urls_deduped"]) for l in res.lineage})
    summary = {
        "entry": args.entry,
        "rounds": res.rounds_run,
        "urls_enqueued": res.urls_enqueued,
        "urls_deduped": deduped,
        "docs": n_docs,
        "lineage_rows": len(res.lineage),
        "wall_sec": round(wall, 2),
        "rounds_wall_sec": round(t_rounds_done - t0, 2),
        "docs_wall_sec": round(wall - (t_rounds_done - t0), 2),
        "round_walls_ms": sorted(
            {(l["round"], l["wall_ms"]) for l in res.lineage}
        ),
        "urls_per_sec": round((res.urls_enqueued + deduped) / wall, 2) if wall > 0 else None,
        "phases": phases,
        "engine_timings": res.timings,
        "state_dir": args.state_dir,
        "stopped": res.stopped,
        # what the session ran with (the launch's settings, engine defaults)
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "engine": webcrawler_spark.__file__,
    }
    if args.expire_keep is not None:
        expired = store.expire_snapshots(keep_last=args.expire_keep)
        summary["expired_snapshots"] = {t: len(v) for t, v in expired.items()}
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
