"""Bench-scale evict-then-resume loop (VERDICT r4 task 7).

Drives the full recrawl-eviction contract once at corpus scale, end to end:

1. start a crawl over a generated corpus, stop it at a round boundary via
   the stop-file (url_seen and the loop state commit atomically),
2. recrawl pass 1 bootstraps hash state for the snapshot,
3. recrawl pass 2 sees a slice of pages modified (html suffix planted via a
   snapshot rewrite), schedules them sooner, and --evict removes the due
   slice from the committed url_seen,
4. resume the crawl; the resumed rounds re-admit exactly the due urls they
   re-encounter as links,
5. verify: evicted == due ∩ seen (from the job's own counts), re-admitted ==
   evicted ∩ links-encountered-in-resumed-rounds (exact set equality from
   the stored round tables), and report the eviction pass's wall next to a
   no-evict control pass over the same snapshot so the eviction delta
   (∝ due-list size) is visible.

Usage:
    python jobs/evict_resume_bench.py --corpus /tmp/c4m --cores 16 \
        [--modified-mod 20] [--out EVICT_RESUME_4M.json]

Prints ONE JSON line with counts + walls.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _spark_submit(cores: int, zip_path: str, script: str, *args: str) -> dict:
    cmd = [
        "taskset", "-c", f"0-{cores - 1}",
        "spark-submit", "--master", f"local[{cores}]",
        "--driver-memory", os.environ.get("SCALE_DRIVER_MEM", "24g"),
        "--py-files", zip_path,
        os.path.join(REPO, "jobs", script), *args,
    ]
    proc = subprocess.run(
        cmd, capture_output=True, text=True, cwd=tempfile.gettempdir()
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-3000:])
        raise RuntimeError(f"{script} failed rc={proc.returncode}")
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--max-depth", type=int, default=2)
    ap.add_argument("--modified-mod", type=int, default=20,
                    help="1/N of pages get modified html in snapshot 2")
    ap.add_argument("--state-dir", default=None)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    pages = os.path.join(args.corpus, "pages")
    if not os.path.exists(pages):
        pages = os.path.join(args.corpus, "pages.parquet")
    seeds = os.path.join(args.corpus, "seeds.parquet")
    state = args.state_dir or tempfile.mkdtemp(prefix="evict-resume-")
    stop_file = os.path.join(state, "_stopflag")
    tmp = tempfile.mkdtemp(prefix="engine-zip-")
    zip_path = shutil.make_archive(
        os.path.join(tmp, "engine"), "zip", root_dir=REPO,
        base_dir="webcrawler_spark",
    )

    # ---- 1. stopped crawl: halt once round 0's table lands so the
    # stop triggers at the next boundary (a mid-crawl stop, not a no-op)
    crawl_args = [
        "--pages", pages, "--entry", f"@{seeds}", "--state-dir", state,
        "--max-depth", str(args.max_depth), "--stop-file", stop_file,
    ]
    import threading

    def _trip():
        while not os.path.exists(os.path.join(state, "round", "v=0")):
            time.sleep(0.5)
        open(stop_file, "w").close()

    t = threading.Thread(target=_trip, daemon=True)
    t.start()
    t0 = time.monotonic()
    s_crawl = _spark_submit(args.cores, zip_path, "crawl.py", *crawl_args)
    wall_stopped = round(time.monotonic() - t0, 1)
    if not s_crawl.get("stopped"):
        raise RuntimeError("crawl completed before the stop tripped; "
                           "raise --max-depth or corpus size")
    os.remove(stop_file)

    # ---- 2./3. recrawl passes; snapshot 2 plants modified html on 1/N urls
    snap2 = os.path.join(tmp, "snap2")
    from pyspark.sql import functions as F

    from webcrawler_spark.session import get_spark

    spark = get_spark(app_name="evict-bench-prep",
                      master=f"local[{args.cores}]")
    p = spark.read.parquet(pages)
    p.withColumn(
        "html",
        F.when(F.xxhash64("url") % args.modified_mod == 0,
               F.concat(F.col("html"), F.lit(b"<!--rev2-->")))
        .otherwise(F.col("html")),
    ).write.mode("overwrite").parquet(snap2)
    spark.stop()

    s_pass1 = _spark_submit(
        args.cores, zip_path, "recrawl.py", "--pages", pages,
        "--state-dir", state, "--now", "2025-06-01 00:00:00",
    )
    # control pass: same diff, NO eviction (isolates the eviction delta)
    control_state = os.path.join(tmp, "control-state")
    shutil.copytree(state, control_state)
    s_control = _spark_submit(
        args.cores, zip_path, "recrawl.py", "--pages", snap2,
        "--state-dir", control_state, "--now", "2025-06-01 02:00:00",
        "--horizon-hours", "1.2",
    )
    s_evict = _spark_submit(
        args.cores, zip_path, "recrawl.py", "--pages", snap2,
        "--state-dir", state, "--now", "2025-06-01 02:00:00",
        "--horizon-hours", "1.2", "--evict",
    )

    # ---- 4a. capture the evicted set BEFORE resuming: the resume's
    # completion commit writes url_seen at v=max_depth, which can collide
    # with (and overwrite) the eviction's version — collect the bounded due
    # slice to the driver first (due ≪ seen by construction)
    from webcrawler_spark.storage import SnapshotStore

    resume_from = int(s_crawl["rounds"])  # == stopped_next_depth
    spark = get_spark(app_name="evict-bench-snap",
                      master=f"local[{args.cores}]")
    store = SnapshotStore(state)
    pre = store.read_table(spark, "url_seen", resume_from).select("url")
    post = store.read_table(spark, "url_seen", resume_from + 1).select("url")
    evicted = {r.url for r in pre.join(post, "url", "left_anti").collect()}
    spark.stop()
    n_evicted = len(evicted)

    # ---- 4b. resume
    t0 = time.monotonic()
    _spark_submit(args.cores, zip_path, "crawl.py", *crawl_args, "--resume")
    wall_resume = round(time.monotonic() - t0, 1)

    # ---- 5. verify re-admission exactly against the stored state tables
    spark = get_spark(app_name="evict-bench-verify",
                      master=f"local[{args.cores}]")
    store = SnapshotStore(state)
    m = store.load_manifest()
    seen = store.read_table(spark, "url_seen", int(m.tables["url_seen"]))
    # driver only ever holds the bounded evicted slice, never seen/round rows
    ev_df = spark.createDataFrame([(u,) for u in sorted(evicted)], "url string")
    readmitted = {
        r.url
        for r in seen.filter(F.col("first_depth") >= resume_from)
        .select("url").join(ev_df, "url", "left_semi").collect()
    }
    encountered = None
    for d in range(resume_from, args.max_depth + 1):
        t_r = store.read_table(spark, "round", d).select("url")
        encountered = t_r if encountered is None else encountered.union(t_r)
    if encountered is not None:
        enc = {
            r.url
            for r in ev_df.join(encountered, "url", "left_semi").collect()
        }
    else:
        enc = set()
    ok = readmitted == enc and n_evicted == s_evict["evicted_from_seen"]
    spark.stop()

    out = {
        "corpus": pages,
        "cores": args.cores,
        "stopped_after_rounds": resume_from,
        "seen_at_stop": int(s_crawl["urls_enqueued"]),
        "due_for_refetch": s_evict["due_for_refetch"],
        "evicted_from_seen": s_evict["evicted_from_seen"],
        "readmitted_reencountered": len(readmitted),
        "readmitted_matches_exactly": ok,
        "walls_sec": {
            "stopped_crawl": wall_stopped,
            "recrawl_bootstrap": s_pass1["wall_sec"],
            "recrawl_noevict_control": s_control["wall_sec"],
            "recrawl_evict": s_evict["wall_sec"],
            "evict_delta": round(
                s_evict["wall_sec"] - s_control["wall_sec"], 2
            ),
            "resume": wall_resume,
        },
    }
    print(json.dumps(out))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=2)
    shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
