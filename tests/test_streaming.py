"""Structured Streaming surface: the stateful sessionizer, first-seen dedup
and the count-min monitor each drain with Trigger.AvailableNow and must equal
their batch twins, exactly once across re-runs on the same checkpoint."""

from pyspark.sql import functions as F


def test_stateful_sessionize_matches_batch_twin(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState session windows):
    the availableNow drain must emit exactly (a) sessions closed in-batch by
    a later event > gap after them, plus (b) trailing sessions whose
    event-time timeout (last_ts + gap) the final watermark passed — and each
    emitted row must be byte-identical to the batch gaps-and-islands
    sessionizer (same ordinal session_id, bounds, count, value sum)."""
    import uuid

    from webcrawler_spark.streaming import sessionize_stateful

    sf_dir = "/root/testdata/sf0.001"
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    ev = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    sess = sessionize_stateful(ev, gap_s=1800, watermark="1 hour")
    qn = "sess_" + uuid.uuid4().hex[:8]
    q = (
        sess.writeStream.outputMode("append")
        .format("memory")
        .queryName(qn)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.table(qn)

    import __spark_entry__ as entry
    from pyspark.sql import Window

    batch = entry.queries()["events_sessionize"](spark, sf_dir)
    max_us = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .agg(F.max(F.unix_micros(F.col("ts").cast("timestamp"))))
        .collect()[0][0]
    )
    wm_ms = max_us // 1000 - 3600_000  # watermark: max event ms - 1 hour
    w = Window.partitionBy("user_id")
    b = batch.withColumn("_last", F.max("session_id").over(w))
    closed = b.filter(F.col("session_id") < F.col("_last"))
    timed_out = b.filter(
        (F.col("session_id") == F.col("_last"))
        & (F.unix_millis(F.to_timestamp("session_end")) + 1800_000 < wm_ms)
    )
    expected = closed.unionByName(timed_out).drop("_last")
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0
    n = got.count()
    assert n > 0 and n == expected.count()


def test_first_seen_dedups_across_arrival_files(spark, tmp_path):
    """A key arriving again in a later file must NOT re-emit: the dedup state
    is the seen-set, retained across micro-batches (F3 retention semantics)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from webcrawler_spark.streaming import first_seen

    d = tmp_path / "in"
    d.mkdir()
    pq.write_table(pa.table({"k": [1, 2, 2], "v": ["a", "b", "c"]}), str(d / "p0.parquet"))
    pq.write_table(pa.table({"k": [2, 3, 1], "v": ["d", "e", "f"]}), str(d / "p1.parquet"))

    ev = (
        spark.readStream.schema("k long, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = first_seen(ev, ["k"])
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("fs_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = [r["k"] for r in spark.table("fs_test").collect()]
    assert sorted(rows) == [1, 2, 3]       # each key once, duplicates suppressed


def test_first_seen_watermarked_variant_runs(spark, tmp_path):
    """The state-bounded dropDuplicatesWithinWatermark path produces at least
    the distinct key set on in-horizon data (exactness within the horizon)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from webcrawler_spark.streaming import first_seen

    d = tmp_path / "in"
    d.mkdir()
    t0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    pq.write_table(
        pa.table({
            "k": pa.array([1, 1, 2], pa.int64()),
            "ts": pa.array([t0, t0 + dt.timedelta(minutes=1), t0], pa.timestamp("us", tz="UTC")),
        }),
        str(d / "p0.parquet"),
    )
    ev = spark.readStream.schema("k long, ts timestamp").parquet(str(d))
    out = first_seen(ev, ["k"], watermark_col="ts", watermark="1 hour")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("fs_wm_test")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = sorted(r["k"] for r in spark.table("fs_wm_test").collect())
    assert rows == [1, 2]


def test_cms_monitor_multibatch_fold_and_idempotence(spark, tmp_path):
    import json

    from webcrawler_spark.pipeline.sketches import cms_build
    from webcrawler_spark.streaming import cms_monitor

    rows = [(f"k{i % 50}",) for i in range(600)]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, "ukey string").repartition(3).write.parquet(src)

    def stream():
        return (
            spark.readStream.schema("ukey string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    sk_dir, ck = str(tmp_path / "sk"), str(tmp_path / "ck")
    out = cms_monitor(stream(), "ukey", sk_dir, ck, d=4, w=128)
    # the multi-batch fold equals the one-pass batch sketch, counter for counter
    batch = cms_build(spark.read.parquet(src), F.col("ukey"), d=4, w=128)
    assert out.exceptAll(batch).count() == 0
    assert batch.exceptAll(out).count() == 0
    state = json.load(open(f"{sk_dir}/MANIFEST.json"))
    assert state["version"] >= 3  # one fold per file -> genuinely incremental
    # drained checkpoint: re-running folds nothing and changes nothing
    out2 = cms_monitor(stream(), "ukey", sk_dir, ck, d=4, w=128)
    assert json.load(open(f"{sk_dir}/MANIFEST.json"))["version"] == state["version"]
    assert out2.exceptAll(batch).count() == 0


def test_monitor_job_incremental_drains(spark, tmp_path):
    from jobs.monitor import run as monitor_run
    from webcrawler_spark.corpus import generate_corpus, write_parquet

    c = generate_corpus(seed=11, n_hosts=4, n_pages=40)
    base = str(tmp_path / "corpus")
    write_parquet(c, base)
    drop = tmp_path / "drop"
    drop.mkdir()
    import shutil

    shutil.copy(f"{base}/pages.parquet", drop / "p0.parquet")
    state = str(tmp_path / "state")
    s1 = monitor_run(spark, str(drop), state, d=4, w=1024, topk=10)
    assert s1["first_seen_urls"] == 40
    est1 = {t["host"]: t["est"] for t in s1["top_hosts"]}
    assert sum(est1.values()) >= 40        # CMS never underestimates

    # drop the SAME pages again: no new first-seen URLs, counts fold double
    shutil.copy(f"{base}/pages.parquet", drop / "p1.parquet")
    s2 = monitor_run(spark, str(drop), state, d=4, w=1024, topk=10)
    assert s2["first_seen_urls"] == 40
    est2 = {t["host"]: t["est"] for t in s2["top_hosts"]}
    assert all(est2[h] == 2 * est1[h] for h in est1)


def test_cms_monitor_rejects_mismatched_params(spark, tmp_path):
    import pytest as _pt

    from webcrawler_spark.streaming import cms_monitor

    src = str(tmp_path / "src")
    spark.createDataFrame([("k1",)], "ukey string").write.parquet(src)

    def stream():
        return spark.readStream.schema("ukey string").parquet(src)

    sk, ck = str(tmp_path / "sk"), str(tmp_path / "ck")
    cms_monitor(stream(), "ukey", sk, ck, d=4, w=128)
    # folding the same sketch dir with different geometry must refuse
    spark.createDataFrame([("k2",)], "ukey string").write.mode("append").parquet(src)
    with _pt.raises(Exception, match="silently corrupt"):
        cms_monitor(stream(), "ukey", sk, ck, d=4, w=256)


def test_cms_monitor_survives_corrupt_manifest(spark, tmp_path):
    """A torn/corrupt MANIFEST.json (crash mid-write before the r4 atomic-
    replace discipline) must not wedge the monitor: read_sketch falls back to
    the highest complete v=N dir, and a later fold resumes from it without
    double-counting the already-folded batch (per-version meta sidecar)."""
    import json

    from pyspark.sql import functions as F

    from webcrawler_spark.pipeline.sketches import cms_build
    from webcrawler_spark.streaming import cms_monitor, read_sketch

    rows = [(f"k{i % 10}",) for i in range(100)]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, "ukey string").coalesce(1).write.parquet(src)
    sk_dir, ck = str(tmp_path / "sk"), str(tmp_path / "ck")

    def stream():
        return spark.readStream.schema("ukey string").parquet(src)

    cms_monitor(stream(), "ukey", sk_dir, ck, d=4, w=64)
    good = json.load(open(f"{sk_dir}/MANIFEST.json"))

    # corrupt the manifest: truncated JSON
    with open(f"{sk_dir}/MANIFEST.json", "w") as fh:
        fh.write('{"version": ')

    rec = read_sketch(spark, sk_dir)
    batch = cms_build(spark.read.parquet(src), F.col("ukey"), d=4, w=64)
    assert rec is not None
    assert rec.exceptAll(batch).count() == 0 and batch.exceptAll(rec).count() == 0

    # a re-drain on the same checkpoint folds nothing (replay guard intact
    # via the v=N.meta.json sidecar) and repairs the manifest
    out2 = cms_monitor(stream(), "ukey", sk_dir, ck, d=4, w=64)
    assert out2.exceptAll(batch).count() == 0
    assert json.load(open(f"{sk_dir}/MANIFEST.json"))["version"] == good["version"]
