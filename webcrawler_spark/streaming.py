"""Structured Streaming surface: the reference's pull-queue + 3-minute cron
consumer (processor/ProcessorManager.java:182-208, SURVEY §2.7 O4) restated as
incremental micro-batches.

The reference has no true streaming operators (SURVEY §2.9: "Streaming ops:
none — the 3-min cron + pull queue is micro-batch-like"), so this module is
the Spark-native upgrade path rather than a parity requirement:

- ``run_available_now``     — drain-everything-then-stop execution
  (``Trigger.AvailableNow``): exactly the cron consumer's "wake, drain queue,
  stop" contract, with exactly-once sink semantics from the checkpoint dir.
- ``first_seen``            — exactly-once first arrival per key (the
  streaming twin of the frontier seen-set).
- ``cms_monitor``           — a count-min sketch folded across micro-batches
  (``read_sketch`` reads its latest committed version).
- ``sessionize_stateful``   — per-user inactivity-gap sessions with
  ``applyInPandasWithState``.

``PAGES_SCHEMA`` is the schema a page-file stream is read with
(``jobs/monitor.py``). Documents are built only by ``rounds.process_queue``;
this module runs no extraction of its own.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


SESSION_OUT_SCHEMA = (
    "user_id long, session_id long, n_events long, "
    "session_start string, session_end string, sum_value_e2 long"
)
# (sessions already emitted for this user, open-session start/last event time
# in epoch-micros, open-session event count and value sum)
SESSION_STATE_SCHEMA = (
    "n_done long, start_us long, last_us long, n_events long, sum_value double"
)


def _fmt_us(us: int) -> str:
    import datetime

    return datetime.datetime.fromtimestamp(
        us // 1_000_000, datetime.timezone.utc
    ).strftime("%Y-%m-%d %H:%M:%S")


def sessionize_stateful(
    events: DataFrame,
    gap_s: int = 1800,
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Custom stateful streaming operator: per-user session windows with an
    inactivity gap, built on ``applyInPandasWithState`` (the Spark extension
    point for operators the built-in streaming aggs can't express — here,
    data-driven session boundaries with an exact per-user ordinal session_id).

    Semantics (the streaming twin of the batch gaps-and-islands sessionizer,
    __spark_entry__.q_events_sessionize): events are grouped by ``user_id``;
    a session closes when the next event is > ``gap_s`` later. Sessions
    closed *within* a micro-batch are emitted immediately; the trailing open
    session is carried in state with an event-time timeout at
    ``last_ts + gap``, so the watermark (not wall clock) closes it — late
    data within the watermark still extends the right session. State per
    user is O(1); the shuffle is one exchange on user_id; Arrow moves each
    user's batch slice into pandas in one block (no per-row Python).

    session_id is the 1-based ordinal of the session in the user's event-time
    order — byte-identical to the batch operator's running-sum id because the
    emitted count is carried in state (``n_done``).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    import pandas as pd

    gap_us = gap_s * 1_000_000

    def fn(key, pdf_iter, state):
        user_id = key[0]
        if state.hasTimedOut:
            n_done, start_us, last_us, n_ev, sv = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    {
                        "user_id": user_id,
                        "session_id": n_done + 1,
                        "n_events": n_ev,
                        "session_start": _fmt_us(start_us),
                        "session_end": _fmt_us(last_us),
                        "sum_value_e2": round(sv * 100),
                    }
                ]
            )
            return
        chunks = [p for p in pdf_iter if len(p)]
        if not chunks:
            return
        rows = pd.concat(chunks, ignore_index=True).sort_values(ts_col)
        ts_us = rows[ts_col].astype("datetime64[us]").astype("int64").to_numpy()
        vals = rows["value"].to_numpy()

        if state.exists:
            n_done, start_us, last_us, n_ev, sv = state.get
        else:
            n_done, start_us, last_us, n_ev, sv = 0, None, None, 0, 0.0

        import numpy as np

        # vectorized segment split: seg 0 may continue the carried session
        brk = np.empty(len(ts_us), dtype=bool)
        brk[0] = last_us is None or ts_us[0] - last_us > gap_us
        brk[1:] = np.diff(ts_us) > gap_us
        seg = np.cumsum(brk)  # 1-based for fresh segments; 0 continues state
        bounds = np.flatnonzero(np.r_[True, brk[1:]])  # segment start indices
        seg_n = np.diff(np.r_[bounds, len(ts_us)])
        seg_sum = np.add.reduceat(vals, bounds)
        seg_start = ts_us[bounds]
        seg_end = ts_us[np.r_[bounds[1:] - 1, len(ts_us) - 1]]
        if seg[0] == 0:  # first segment extends the carried open session
            seg_start[0] = start_us
            seg_n[0] += n_ev
            seg_sum[0] += sv
        out = []
        for i in range(len(bounds) - 1):  # all but the trailing open segment
            n_done += 1
            out.append(
                {
                    "user_id": user_id,
                    "session_id": n_done,
                    "n_events": int(seg_n[i]),
                    "session_start": _fmt_us(int(seg_start[i])),
                    "session_end": _fmt_us(int(seg_end[i])),
                    "sum_value_e2": round(float(seg_sum[i]) * 100),
                }
            )
        start_us = int(seg_start[-1])
        last_us = int(seg_end[-1])
        n_ev = int(seg_n[-1])
        sv = float(seg_sum[-1])
        state.update((n_done, start_us, last_us, n_ev, sv))
        # the watermark closes the open session gap_s after its last event
        state.setTimeoutTimestamp(last_us // 1000 + gap_s * 1000)
        if out:
            yield pd.DataFrame(out)

    ev = events.withColumn(ts_col, F.col(ts_col).cast("timestamp")).withWatermark(
        ts_col, watermark
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        fn,
        SESSION_OUT_SCHEMA,
        SESSION_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def run_available_now(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    output_mode: str = "append",
    timeout_sec: int = 600,
) -> int:
    """Drain all currently-available input, write parquet, stop (the cron
    consumer's wake→drain→stop cycle with exactly-once via the checkpoint).

    Re-running after a crash resumes from the checkpoint offsets — the
    streaming twin of SnapshotStore round resumption.

    Returns the number of rows the sink wrote during THIS drain (summed from
    the query's progress events) so callers can maintain incremental
    counters instead of re-counting the ever-growing output table.
    """
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()
    # FileSink reports numOutputRows = -1, so fall back through the metrics
    # that do carry the emitted-row count: a dedupe state operator's
    # numRowsUpdated IS its append-mode output (each newly-seen key emits
    # once), and a stateless passthrough emits its input. Callers with other
    # shapes (windowed aggs) should not rely on this count.
    written = 0
    for prog in q.recentProgress or []:
        prog = prog or {}
        n = (prog.get("sink") or {}).get("numOutputRows")
        if isinstance(n, (int, float)) and n >= 0:
            written += int(n)
            continue
        ops = prog.get("stateOperators") or []
        dedupe = [o for o in ops if o.get("operatorName") == "dedupe"]
        if dedupe:
            written += int(dedupe[0].get("numRowsUpdated", 0))
        elif not ops:
            written += int(prog.get("numInputRows", 0))
    return written


def first_seen(
    stream: DataFrame,
    keys: Sequence[str],
    watermark_col: Optional[str] = None,
    watermark: Optional[str] = None,
) -> DataFrame:
    """Streaming enqueue-dedup — the streaming twin of the frontier seen-set
    (F1, `InMemoryLinkQueue.java:36-43`): emit each key exactly once, on
    first arrival, suppressing every later duplicate.

    Without a watermark the dedup state grows with |distinct keys| — exactly
    the reference's unbounded in-memory seen set semantics
    (`InMemoryLinkQueue.java:34`), useful when the key space is bounded.
    Pass (watermark_col, watermark) to switch to
    ``dropDuplicatesWithinWatermark``: state evicts keys older than the
    watermark, which is the only shape that runs forever at crawl scale —
    re-emission of a key after the horizon is the accepted trade (a re-crawl,
    not an error).

    Output carries only the key columns, so results are deterministic (which
    full row arrives first per key is racy; the key set is not).
    """
    if watermark_col is not None and watermark is not None:
        ws = stream.withWatermark(watermark_col, watermark)
        return ws.dropDuplicatesWithinWatermark(list(keys)).select(*keys)
    return stream.dropDuplicates(list(keys)).select(*keys)


def read_sketch(spark: SparkSession, sketch_dir: str) -> Optional[DataFrame]:
    """Latest committed sketch version under ``sketch_dir`` (see
    ``cms_monitor``), or None before the first commit."""
    import json
    import os

    state = _read_sketch_state(sketch_dir)
    if state is None or state.get("version", 0) < 1:
        return None
    return spark.read.parquet(os.path.join(sketch_dir, f"v={state['version']}"))


def _read_sketch_state(sketch_dir: str) -> Optional[dict]:
    """Load the sketch MANIFEST, tolerating a corrupt/partial file by
    falling back to the highest COMPLETE version dir (one with a parquet
    ``_SUCCESS`` marker). The manifest itself is written via tmp-file +
    os.replace (see ``cms_monitor``), so corruption only happens if a crash
    predates that discipline — but a monitor must never wedge permanently on
    one bad byte."""
    import json
    import os
    import re

    manifest = os.path.join(sketch_dir, "MANIFEST.json")
    if not os.path.exists(manifest):
        return None
    try:
        with open(manifest) as fh:
            return json.load(fh)
    except (json.JSONDecodeError, OSError):
        pass
    best = 0
    if os.path.isdir(sketch_dir):
        for name in os.listdir(sketch_dir):
            m = re.fullmatch(r"v=(\d+)", name)
            if m and os.path.exists(os.path.join(sketch_dir, name, "_SUCCESS")):
                best = max(best, int(m.group(1)))
    if best == 0:
        return None
    # Each version carries a metadata file v=N.meta.json (written before the
    # manifest commit; kept OUTSIDE the parquet dir so readers never trip on
    # a non-parquet file), so recovery knows which batch the surviving
    # version already folded — a replayed micro-batch is NOT folded twice.
    meta_path = os.path.join(sketch_dir, f"v={best}.meta.json")
    try:
        with open(meta_path) as fh:
            meta = json.load(fh)
    except (json.JSONDecodeError, OSError):
        meta = {}
    return {
        "version": best,
        "last_batch": meta.get("last_batch", -1),
        "d": meta.get("d"),
        "w": meta.get("w"),
    }


def cms_monitor(
    stream_df: DataFrame,
    key_col: str,
    sketch_dir: str,
    checkpoint_dir: str,
    d: int = 4,
    w: int = 1024,
    timeout_sec: int = 600,
    batch_hook=None,
) -> Optional[DataFrame]:
    """Standing count-min frequency monitor over a stream: each micro-batch's
    sketch (pipeline/sketches.cms_build) is folded into a persistent sketch
    table — the streaming answer to "which hosts/tokens dominate the feed"
    with state bounded at d × w counters FOREVER, no matter how much data
    flows through. Drains with Trigger.AvailableNow and returns the final
    sketch (None if the stream delivered nothing).

    Exactly-once despite foreachBatch's at-least-once contract: the sketch
    manifest records the last folded batch id; a replayed batch (crash
    between sink write and checkpoint commit) is skipped, and versions are
    written to fresh ``v=N`` dirs before the manifest pointer moves — the
    same write-then-commit discipline as SnapshotStore (storage.py).

    Per-batch cost: O(|batch| + d·w) — the standing sketch it merges into is
    d·w rows, so the fold never rescans history. The identical sketch built
    in one batch pass equals the streamed fold bit-for-bit (counter addition
    is associative); the pytest pins that equality across multi-file
    micro-batches.
    """
    import json
    import os

    from .pipeline.sketches import cms_build

    os.makedirs(sketch_dir, exist_ok=True)
    manifest = os.path.join(sketch_dir, "MANIFEST.json")

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        state = _read_sketch_state(sketch_dir) or {
            "version": 0, "last_batch": -1, "d": d, "w": w,
        }
        if (state.get("d") or d, state.get("w") or w) != (d, w):
            raise ValueError(
                f"sketch at {sketch_dir} was built with "
                f"(d={state.get('d')}, w={state.get('w')}); folding with "
                f"(d={d}, w={w}) would silently corrupt the counters"
            )
        if batch_id <= state["last_batch"]:
            return  # replayed micro-batch: already folded
        if batch_hook is not None:
            # Observer over the DRAINED slice only (e.g. the monitor job's
            # incremental host watch list) — the candidate set then costs a
            # distinct over this batch, not over all history. Set-union
            # consumers stay idempotent under the rare fold/hook replay.
            batch_hook(batch_df, batch_id)
        delta = cms_build(batch_df, F.col(key_col), d=d, w=w)
        if state["version"] >= 1:
            cur = sp.read.parquet(
                os.path.join(sketch_dir, f"v={state['version']}")
            )
            delta = (
                cur.unionByName(delta)
                .groupBy("lane", "bucket")
                .agg(F.sum("cnt").alias("cnt"))
            )
        nv = state["version"] + 1
        vdir = os.path.join(sketch_dir, f"v={nv}")
        delta.write.mode("overwrite").parquet(vdir)
        # Commit protocol (same tmp-file + os.replace discipline as
        # SnapshotStore, storage.py): (1) per-version fold-metadata file,
        # so manifest loss never replays an already-folded batch;
        # (2) atomic manifest swap — a crash at any byte leaves either the
        # old complete manifest or the new complete one, never a torn file.
        fold_meta = {"last_batch": batch_id, "d": d, "w": w}
        meta_tmp = vdir + ".meta.json.tmp"
        with open(meta_tmp, "w") as fh:
            json.dump(fold_meta, fh)
        os.replace(meta_tmp, vdir + ".meta.json")
        man_tmp = manifest + ".tmp"
        with open(man_tmp, "w") as fh:
            json.dump({"version": nv, **fold_meta}, fh)
        os.replace(man_tmp, manifest)

    q = (
        stream_df.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()
    # Self-heal: if the manifest is torn (pre-r4 crash) but a complete
    # version exists, rewrite the manifest from the recovered state so the
    # store is clean again even when this drain folded no new batch.
    try:
        with open(manifest) as fh:
            json.load(fh)
    except (json.JSONDecodeError, OSError):
        state = _read_sketch_state(sketch_dir)
        if state is not None and state.get("version", 0) >= 1:
            man_tmp = manifest + ".tmp"
            with open(man_tmp, "w") as fh:
                json.dump(
                    {
                        "version": state["version"],
                        "last_batch": state["last_batch"],
                        "d": state.get("d") or d,
                        "w": state.get("w") or w,
                    },
                    fh,
                )
            os.replace(man_tmp, manifest)
    return read_sketch(stream_df.sparkSession, sketch_dir)
