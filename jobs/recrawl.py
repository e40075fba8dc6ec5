"""spark-submit job: standing incremental-recrawl pass over page snapshots.

The reference DECLARES incremental recrawl (README.md:149 conditional GETs,
:156 skip-if-hash-unchanged) but ships none of it. This job is that
capability as a cron-shaped batch pass (same operational shape as
jobs/monitor.py):

    spark-submit --py-files engine.zip jobs/recrawl.py \
        --pages /data/snapshot_tuesday --state-dir /state/crawl1 \
        [--now '2025-06-08 00:00:00'] [--base-hours 1] [--evict]

Each invocation:

1. hashes the new snapshot's raw bytes per url (xxhash64 of html — the
   batch analogue of an ETag: no parse, no Python, pure scan+map),
2. diffs against the prior invocation's hash state
   (operators/recrawl.recrawl_diff → NEW / MODIFIED / NOT_MODIFIED / GONE),
3. appends the outcomes to a bounded per-url fetch history and recomputes
   the adaptive refresh schedule (recrawl.refresh_schedule — changed urls
   refetch sooner, stable urls back off exponentially),
4. with ``--evict``: urls DUE for refetch within ``--horizon-hours``
   (next_fetch_ts <= now + horizon — "the next crawl runs within H hours,
   hand it everything scheduled by then") are deleted from the crawl's
   committed ``url_seen``. That table is the crawl's only dedup gate, so a
   crawl resumed from the stopped state re-admits exactly the due urls.

State tables (SnapshotStore versions, manifest-committed atomically):
``recrawl_state`` (url, hash) and ``recrawl_history`` (url, fetch_ts,
outcome — capped at the last 16 fetches per url). First invocation
bootstraps from an empty state: every snapshot url classifies NEW.

Scale shape: every join/agg is url-keyed (one shuffle family); the due
list is a small fraction of seen. Prints ONE JSON summary line.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys
import time

if importlib.util.find_spec("webcrawler_spark") is None:
    # no engine on the path (no --py-files): use this checkout, and hand it
    # to local-mode python workers on PYTHONPATH. With --py-files the driver
    # keeps the shipped engine, the one its workers import.
    _REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, _REPO)
    os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

HISTORY_CAP = 16


def run(spark, pages_path: str, state_dir: str, now: str,
        base_ms: int = 3_600_000, horizon_ms: int = 24 * 3_600_000,
        evict: bool = False) -> dict:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from webcrawler_spark.operators.recrawl import recrawl_diff, refresh_schedule
    from webcrawler_spark.storage import Manifest, SnapshotStore

    t0 = time.monotonic()
    store = SnapshotStore(state_dir)
    m = store.load_manifest() or Manifest()
    ver = int(m.tables.get("recrawl_state", -1))

    cur = (
        spark.read.parquet(pages_path)
        .select("url", F.xxhash64("html").cast("string").alias("hash"))
        .dropDuplicates(["url"])
    )
    if ver >= 0:
        prev = store.read_table(spark, "recrawl_state", ver).select("url", "hash")
        hist = store.read_table(spark, "recrawl_history", ver)
    else:
        prev = spark.createDataFrame([], "url string, hash string")
        hist = spark.createDataFrame(
            [], "url string, fetch_ts timestamp, outcome string"
        )

    diff = recrawl_diff(prev, cur).localCheckpoint(eager=True)
    counts = {r["status"]: r["n"] for r in
              diff.groupBy("status").agg(F.count("*").alias("n")).collect()}

    # fold this pass into the bounded history; GONE urls leave the state
    now_col = F.lit(now).cast("timestamp")
    new_hist = (
        hist.unionByName(
            diff.filter(F.col("status") != "GONE").select(
                "url", now_col.alias("fetch_ts"),
                # schedule policy knows MODIFIED vs NOT_MODIFIED; NEW counts
                # as MODIFIED (first observation = content is new by definition)
                F.when(F.col("status") == "NOT_MODIFIED", F.lit("NOT_MODIFIED"))
                .otherwise(F.lit("MODIFIED")).alias("outcome"),
            )
        )
    )
    w = Window.partitionBy("url").orderBy(F.col("fetch_ts").desc())
    new_hist = (
        new_hist.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= HISTORY_CAP)
        .drop("_r")
    )
    sched = refresh_schedule(new_hist, base_ms=base_ms).localCheckpoint(eager=True)
    horizon_end_ms = now_col.cast("long") * 1000 + F.lit(int(horizon_ms))
    due = sched.filter(F.col("next_fetch_ms") <= horizon_end_ms).select("url")
    n_due = due.count()

    # commit the new recrawl state
    nxt = ver + 1
    store.write_table(cur, "recrawl_state", nxt)
    store.write_table(new_hist, "recrawl_history", nxt)
    m.tables["recrawl_state"] = nxt
    m.tables["recrawl_history"] = nxt

    evicted = 0
    if evict and n_due and "url_seen" in m.tables:
        sv = m.tables["url_seen"]
        seen = store.read_table(spark, "url_seen", sv)
        kept = seen.join(due, "url", "left_anti")
        evicted = seen.count() - kept.count()
        store.write_table(kept, "url_seen", sv + 1)
        m.tables["url_seen"] = sv + 1
    store.commit(m)

    return {
        "pass": nxt,
        "new": counts.get("NEW", 0),
        "modified": counts.get("MODIFIED", 0),
        "not_modified": counts.get("NOT_MODIFIED", 0),
        "gone": counts.get("GONE", 0),
        "due_for_refetch": n_due,
        "evicted_from_seen": evicted,
        "wall_sec": round(time.monotonic() - t0, 2),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="new snapshot parquet")
    ap.add_argument("--state-dir", required=True)
    ap.add_argument("--now", default="2025-06-01 00:00:00",
                    help="decision instant (one per pass — determinism)")
    ap.add_argument("--base-hours", type=float, default=1.0)
    ap.add_argument("--horizon-hours", type=float, default=24.0,
                    help="evict urls scheduled within this window")
    ap.add_argument("--evict", action="store_true",
                    help="evict due urls from url_seen, so a resumed crawl "
                    "re-admits them")
    args = ap.parse_args()

    from webcrawler_spark.session import get_spark, run_record

    spark = get_spark(app_name="recrawl")
    out = run(
        spark, args.pages, args.state_dir, now=args.now,
        base_ms=int(args.base_hours * 3_600_000),
        horizon_ms=int(args.horizon_hours * 3_600_000), evict=args.evict,
    )
    print(json.dumps({**out, **run_record(spark)}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
