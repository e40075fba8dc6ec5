"""Spark event log reader for the traced run's per-layer ledger.

The traced session writes one uncompressed, non-rolling JSON-lines log.
Task run time is attributed to a stage's layer by the operators its RDDs
carry, first match wins: mapInPandas, then write, scan, exchange, other.
"""

from __future__ import annotations

import json
from pathlib import Path

LAYERS = (
    ("map_in_pandas", ("mapinpandas", "mapinarrow")),
    ("write", ("writefiles", "insertintohadoopfsrelation")),
    ("scan", ("scan parquet", "filescan")),
    ("exchange", ("exchange", "shuffledrowrdd", "aqeshuffleread", "shufflequerystage")),
)

LAYER_NAMES = (*(name for name, _ in LAYERS), "other")


def _stage_layer(stage_info: dict) -> str:
    names = []
    for rdd in stage_info.get("RDD Info", []):
        names.append(rdd.get("Name", ""))
        scope = rdd.get("Scope")
        if scope:
            names.append(json.loads(scope).get("name", ""))
    text = " ".join(names).lower()
    for layer, keys in LAYERS:
        if any(k in text for k in keys):
            return layer
    return "other"


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def ledger(log_dir: Path, t0_ms: float, t1_ms: float, cores: int) -> dict:
    """Per-layer Spark figures for tasks and jobs inside [t0_ms, t1_ms]."""
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise SystemExit(f"perfbench: expected one event log in {log_dir}, got {files}")
    stage_layer, job_start, job_end, tasks = {}, {}, {}, []
    with open(files[0]) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                stage_layer[info["Stage ID"]] = _stage_layer(info)
            elif kind == "SparkListenerJobStart":
                job_start[e["Job ID"]] = e["Submission Time"]
            elif kind == "SparkListenerJobEnd":
                job_end[e["Job ID"]] = e["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                launch = e["Task Info"]["Launch Time"]
                if t0_ms <= launch <= t1_ms and e.get("Task Metrics"):
                    tasks.append((e["Stage ID"], e["Task Metrics"]))
    task_s = dict.fromkeys(LAYER_NAMES, 0.0)
    cpu_ns = gc_ms = scan = shuffle_w = shuffle_r = 0
    for stage, m in tasks:
        task_s[stage_layer.get(stage, "other")] += m["Executor Run Time"] / 1000
        cpu_ns += m["Executor CPU Time"]
        gc_ms += m["JVM GC Time"]
        scan += m["Input Metrics"]["Bytes Read"]
        shuffle_w += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        r = m["Shuffle Read Metrics"]
        shuffle_r += r["Remote Bytes Read"] + r["Local Bytes Read"]
    jobs = [
        (max(s, t0_ms), min(job_end.get(j, t1_ms), t1_ms))
        for j, s in job_start.items()
        if t0_ms <= s <= t1_ms
    ]
    wall_s = (t1_ms - t0_ms) / 1000
    busy_s = _union_s(jobs) / 1000
    out = {f"spark.task_s.{k}": v for k, v in task_s.items()}
    out.update({
        "spark.cpu_s": cpu_ns / 1e9,
        "spark.gc_s": gc_ms / 1000,
        "spark.scan_bytes": scan,
        "spark.shuffle_write_bytes": shuffle_w,
        "spark.shuffle_read_bytes": shuffle_r,
        "spark.jobs": len(jobs),
        "spark.stages": len({s for s, _ in tasks}),
        "spark.tasks": len(tasks),
        "spark.slot_utilization": sum(task_s.values()) / (wall_s * cores),
        "spark.driver_gap_s": wall_s - busy_s,
    })
    return out
