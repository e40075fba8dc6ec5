"""Pinned end-to-end crawl benchmark.

    python3 perfbench/run.py --workload bfs_wide --seed 1 --seconds 20 --trace 0

``--trace 0`` is a closed loop from this one process: it launches the user
surface, ``spark-submit jobs/crawl.py`` pinned with taskset to this process's
CPUs under ``--master local[nproc]`` and ``SPARK_GRAFT_CPUS=nproc``, waits for
it to exit, checks its committed output against the sequential oracle, and
launches the next job until ``--seconds`` have passed (at least one job). It
reports the median of each end-to-end metric over the jobs that passed.

``--trace 1`` drives the same crawl in-process through the engine's public
entry points with spans around each call and a Spark event log, and probes
the kernel and the mapInPandas wrapper alone on the workload's own pages
(see trace_run.py). It reports the per-layer ledger; its
``trace.crawl_wall_s`` compares with ``crawl_wall_s`` of ``--trace 0`` runs of
the same workload and seed, which shows the tracing overhead.

Inputs (corpus, seed list, oracle expectation) are built before any timed
section and cached under ``.perfbench/`` in the checkout (see inputs.py).
The last line of stdout is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

import inputs
import job
from check import check
from pinned_crawl import require_pinned
from workloads import WORKLOADS

# a job that is not done by then counts as failed; the run must end in 180 s
JOB_TIMEOUT_S = 150

E2E_UNITS = {
    "crawl_wall_s": "s",
    "urls_per_s": "urls/s",
    "docs_per_s": "docs/s",
    "setup_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "state_bytes": "bytes",
    "ok_ratio": "ratio",
}


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def crawl_job(expect: dict, corpus: Path, cache: Path, scratch: Path) -> dict:
    """One spark-submit crawl job, measured from outside and checked."""
    scratch.mkdir(parents=True)
    state = scratch / "state"
    record = scratch / "pin.json"
    cmd = inputs.submit_cmd(
        inputs.engine_zip(cache), Path(__file__).with_name("pinned_crawl.py"),
        str(record), str(inputs.CRAWL_JOB), *inputs.crawl_args(expect, corpus, state),
    )
    r = job.run_job(cmd, inputs.spark_env(scratch), scratch, scratch / "job.log",
                    JOB_TIMEOUT_S)
    summary = next((json.loads(l) for l in reversed(r.stdout.splitlines())
                    if l.startswith("{")), None)
    if r.returncode != 0 or summary is None or not record.exists():
        log = (scratch / "job.log").read_text(errors="replace")[-3000:]
        return {"problems": [f"job failed (exit {r.returncode}):\n{log}"]}
    out = {"pin": json.loads(record.read_text()), "summary": summary,
           "steal_share": r.steal_share}
    out["problems"] = check(summary, state, expect)
    wall = summary["wall_sec"]
    out["metrics"] = {
        "crawl_wall_s": wall,
        "urls_per_s": (summary["urls_enqueued"] + summary["urls_deduped"]) / wall,
        "docs_per_s": summary["docs"] / wall,
        "setup_s": r.wall_s - wall,
        "cpu_s": r.cpu_s,
        "peak_rss_mb": r.peak_rss_bytes / 2**20,
        "state_bytes": dir_bytes(state),
    }
    return out


def untraced(expect: dict, corpus: Path, cache: Path, run_dir: Path, seconds: float):
    """Closed loop of crawl jobs for ``seconds`` (at least one job)."""
    jobs = []
    t_end = time.monotonic() + seconds
    while not jobs or time.monotonic() < t_end:
        scratch = run_dir / f"job{len(jobs)}"
        j = crawl_job(expect, corpus, cache, scratch)
        shutil.rmtree(scratch, ignore_errors=True)
        for p in j["problems"]:
            print(f"perfbench: job {len(jobs)}: {p}", file=sys.stderr)
        jobs.append(j)
    return jobs


def e2e_metrics(jobs: list[dict]) -> dict:
    """Median of each end-to-end metric over the jobs that passed the output
    check, and the share that passed (1 - error rate). A failed job's
    timings are discarded."""
    passed = [j for j in jobs if not j["problems"]]
    if not passed:
        raise SystemExit("perfbench: no job passed the output check")
    for j in passed:
        require_pinned(j["pin"], len(inputs.cpus()))
    metrics = {
        k: statistics.median(j["metrics"][k] for j in passed)
        for k in E2E_UNITS if k != "ok_ratio"
    }
    metrics["ok_ratio"] = len(passed) / len(jobs)
    return metrics


def print_table(workload: str, metrics: dict, units: dict) -> None:
    for k, v in metrics.items():
        print(f"{workload:>13} {k:<40} {v:>16.6g} {units[k]}", file=sys.stderr)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    inputs.require_program()
    job.set_subreaper()
    t_prep = time.monotonic()
    cache = inputs.cache_dir()
    corpus = inputs.build_corpus(cache)
    w = WORKLOADS[args.workload]
    expect = inputs.prepare(w, args.seed, cache, corpus)
    print(f"perfbench: inputs ready in {time.monotonic() - t_prep:.1f} s", file=sys.stderr)
    run_dir = inputs.WORK / f"run-{os.getpid()}"
    try:
        if args.trace:
            import trace_run

            traced_job, metrics, units, record = trace_run.traced(
                w, expect, corpus, run_dir / "traced"
            )
            jobs = [traced_job]
        else:
            jobs = untraced(expect, corpus, cache, run_dir, args.seconds)
            metrics, units = e2e_metrics(jobs), E2E_UNITS
            record = {"pin": next(j["pin"] for j in jobs if not j["problems"]),
                      "jobs": [j.get("metrics") for j in jobs],
                      "steal_share": [j.get("steal_share") for j in jobs]}
    finally:
        job.stop_descendants()
        shutil.rmtree(run_dir, ignore_errors=True)
    record.update(
        workload=w.name, seed=args.seed, cpus=inputs.cpus(),
        git_revision=inputs.git_revision(), source_digest=inputs.source_digest(),
        expected={k: expect[k] for k in ("rounds", "urls_enqueued", "urls_deduped",
                                          "docs", "status", "digest")},
    )
    print(json.dumps({"record": record}))
    print_table(w.name, metrics, units)
    failed = sum(1 for j in jobs if j["problems"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(jobs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
