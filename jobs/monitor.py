"""spark-submit entry point: a standing crawl-feed monitor over a drop folder.

    spark-submit --py-files engine.zip jobs/monitor.py \
        --pages /path/drop-folder --state-dir /tmp/monitor \
        [--d 4] [--w 4096] [--topk 20]

One invocation = one AvailableNow drain (the reference's 3-minute cron
consumer shape, `ProcessorManager.java:182-208`): newly-landed page files are
folded into two BOUNDED standing summaries under --state-dir, then the job
prints a JSON digest and exits. Run it from cron forever — state never grows:

- host-frequency count-min sketch (streaming.cms_monitor): d x w counters,
  batch-id idempotent, answers "which hosts dominate the crawl feed" without
  an unbounded per-host table;
- first-seen URL log (streaming.first_seen): exactly-once new-URL parquet,
  the consumer-side twin of the frontier seen-set.

The digest reports the top hosts by estimated count (estimates read from the
sketch via cms_estimate against the hosts seen in THIS drain — candidates
cost one distinct on the drained slice, estimates come from all history).

Every piece is oracle-checked individually (`stream_cms`, `stream_first_seen`,
`sketch_cms` in __spark_entry__.py); this job is their composition.
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

from pyspark.sql import functions as F


_WATCH_CAP = 100_000  # standing host watch list bound (hosts, not pages)


def _load_state(state_dir: str) -> dict:
    path = os.path.join(state_dir, "monitor_state.json")
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, json.JSONDecodeError):
        return {"n_seen": 0, "hosts": []}


def _save_state(state_dir: str, state: dict) -> None:
    os.makedirs(state_dir, exist_ok=True)
    path = os.path.join(state_dir, "monitor_state.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(state, fh)
    os.replace(tmp, path)


def run(spark, pages_dir: str, state_dir: str, d: int, w: int, topk: int) -> dict:
    from webcrawler_spark.functions import parse_host
    from webcrawler_spark.pipeline.sketches import cms_estimate
    from webcrawler_spark.streaming import PAGES_SCHEMA, cms_monitor, first_seen, run_available_now

    t0 = time.monotonic()
    state = _load_state(state_dir)
    watch = set(state.get("hosts", []))

    # 1. fold new pages' hosts into the standing CMS; the batch hook keeps
    # an incremental host watch list from the DRAINED slice only, so each
    # cron invocation's cost tracks the new data, not all history.
    def _watch_hosts(batch_df, batch_id: int) -> None:
        fresh = [
            r["host"]
            for r in batch_df.select(F.col("host")).distinct().collect()
            if r["host"]
        ]
        watch.update(fresh)

    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(pages_dir)
    hosts = stream.select(parse_host(F.col("url")).alias("host"))
    sketch = cms_monitor(
        hosts,
        "host",
        sketch_dir=os.path.join(state_dir, "host_cms"),
        checkpoint_dir=os.path.join(state_dir, "ckpt_cms"),
        d=d,
        w=w,
        batch_hook=_watch_hosts,
    )

    # 2. exactly-once first-seen URL log (its own checkpoint/offsets);
    # n_seen is tracked incrementally from this drain's sink row count —
    # no re-count of the growing parquet, and no read of a sink dir that a
    # zero-row first drain never created.
    stream2 = spark.readStream.schema(PAGES_SCHEMA).parquet(pages_dir)
    new_seen = run_available_now(
        first_seen(stream2, ["url"]),
        out_dir=os.path.join(state_dir, "first_seen"),
        checkpoint_dir=os.path.join(state_dir, "ckpt_seen"),
    )
    n_seen = int(state.get("n_seen", 0)) + new_seen

    if len(watch) > _WATCH_CAP:
        # deterministic bound: keep the lexicographically-first cap (a real
        # deployment would keep the top-estimate hosts; either way, bounded)
        watch = set(sorted(watch)[:_WATCH_CAP])
    _save_state(state_dir, {"n_seen": n_seen, "hosts": sorted(watch)})

    # 3. digest: estimated counts for the standing watch list (bounded by
    # _WATCH_CAP hosts — not by pages ever landed)
    cand = sorted(watch)
    top = []
    if sketch is not None and cand:
        top = [
            {"host": r["key"], "est": r["est"]}
            for r in cms_estimate(sketch, cand, d=d, w=w)
            .orderBy(F.col("est").desc(), "key")
            .limit(topk)
            .collect()
        ]
    return {
        "state_dir": state_dir,
        "first_seen_urls": n_seen,
        "top_hosts": top,
        "wall_sec": round(time.monotonic() - t0, 2),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="drop folder of page parquet files")
    ap.add_argument("--state-dir", required=True)
    ap.add_argument("--d", type=int, default=4)
    ap.add_argument("--w", type=int, default=4096)
    ap.add_argument("--topk", type=int, default=20)
    args = ap.parse_args()

    from webcrawler_spark.session import get_spark

    spark = get_spark(app_name="monitor")
    print(json.dumps(run(spark, args.pages, args.state_dir, args.d, args.w, args.topk)))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
