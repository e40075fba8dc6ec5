"""The traced run: the per-layer ledger of one crawl.

The crawl is driven in-process through the engine's public entry points, the way
``jobs/crawl.py`` drives them: ``session.get_spark``, ``rounds.run_crawl`` /
``rounds.run_polite_crawl`` and ``storage.SnapshotStore.write_table`` /
``count_table``. Spans are recorded around those calls, the session writes a
Spark event log, an accumulator counts the pages the engine's parse function
(``udfs.make_extract_pages``) is given, and the kernel and the mapInPandas
wrapper are probed alone on the workload's own pages. Nothing under
``webcrawler_spark/`` is changed.
"""

from __future__ import annotations

import os
import statistics
import sys
import tempfile
import threading
import time
from collections import Counter, defaultdict
from pathlib import Path

import eventlog
import inputs
import probes
from check import check, read_docs
from pinned_crawl import pin_record, require_pinned, worker_engine
from workloads import Workload

TABLES = ("raw_docs", "round", "url_seen", "docs", "lineage")
STATUSES = ("OK", "DUPLICATE", "ERROR_PARSE", "ERROR_FETCH", "SKIPPED_ROBOTS")
PROBE_PAGES = 1024

# every per-layer metric: unit, and the direction an improvement moves it
# (fixed outputs such as status counts are listed as "higher": work done)
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "kernel.extract_page.pages_per_s": ("pages/s", "higher"),
    "kernel.parse.pages_per_s": ("pages/s", "higher"),
    "kernel.select_links.pages_per_s": ("pages/s", "higher"),
    "kernel.normalize_url.urls_per_s": ("urls/s", "higher"),
    "kernel.parse_error_ratio": ("ratio", "lower"),
    "udfs.extract_pages.pages_per_s": ("pages/s", "higher"),
    "udfs.wrapper_overhead": ("ratio", "lower"),
    "rounds.run_s": ("s", "lower"),
    "rounds.count": ("count", "lower"),
    # pages the parse function is given inside the run_crawl /
    # run_polite_crawl call, and inside the docs write that follows it
    "rounds.frontier_pages": ("count", "higher"),
    "rounds.ms_per_round.p50": ("ms", "lower"),
    "rounds.ms_per_round.max": ("ms", "lower"),
    "rounds.dedup_ratio": ("ratio", "higher"),
    "rounds.phase.seed_ms": ("ms", "lower"),
    "rounds.phase.raw_ms": ("ms", "lower"),
    "rounds.phase.mat_ms": ("ms", "lower"),
    "rounds.phase.stats_ms": ("ms", "lower"),
    "docs.pass_s": ("s", "lower"),
    "docs.tail_parse_pages": ("count", "lower"),
    "docs.parse_per_doc": ("ratio", "lower"),
    "docs.phase.tail_mat_ms": ("ms", "lower"),
    "docs.phase.losers_ms": ("ms", "lower"),
    **{f"docs.status.{s}": ("count", "higher") for s in STATUSES},
    **{f"storage.write_s.{t}": ("s", "lower") for t in TABLES},
    **{f"storage.bytes.{t}": ("bytes", "lower") for t in TABLES},
    **{f"storage.files.{t}": ("count", "lower") for t in TABLES},
    **{f"spark.task_s.{k}": ("s", "lower") for k in eventlog.LAYER_NAMES},
    "spark.cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.scan_bytes": ("bytes", "lower"),
    "spark.scan_bytes_per_fetched_page": ("bytes/page", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.slot_utilization": ("ratio", "higher"),
    "spark.driver_gap_s": ("s", "lower"),
    "trace.crawl_wall_s": ("s", "lower"),
    "trace.span_coverage": ("ratio", "higher"),
    "trace.unattributed_s": ("s", "lower"),
    "pin.default_parallelism": ("count", "higher"),
    "pin.shuffle_partitions": ("count", "lower"),
}


class Spans:
    """In-memory spans: (name, start, end, thread), written out at the end."""

    def __init__(self) -> None:
        self.items: list[tuple[str, float, float, str]] = []
        self._lock = threading.Lock()

    def record(self, name: str, t0: float, t1: float) -> None:
        with self._lock:
            self.items.append((name, t0, t1, threading.current_thread().name))

    def call(self, name: str, fn, *args, **kw):
        t0 = time.monotonic()
        try:
            return fn(*args, **kw)
        finally:
            self.record(name, t0, time.monotonic())

    def total(self, name: str) -> float:
        return sum(b - a for n, a, b, _ in self.items if n == name)


def _warm(spark) -> None:
    """The warm-up jobs/crawl.py runs before its timed section."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    def _warm_imports(it):
        from webcrawler_spark.kernel.extract import extract_page  # noqa: F401

        return it

    spark.range(1_000_000).repartition(
        4 * spark.sparkContext.defaultParallelism
    ).mapInPandas(_warm_imports, "id long").selectExpr("sum(id)").collect()
    warm = spark.range(100_000).select("id", (F.col("id") % 7).alias("k"))
    warm.groupBy("k").agg(F.sum("id")).collect()
    warm.withColumn(
        "rs",
        F.sum("id").over(W.partitionBy("k").orderBy("id").rowsBetween(W.unboundedPreceding, 0)),
    ).agg(F.max("rs")).collect()
    warm.groupingSets([["k"], []], "k").agg(F.sum("id"), F.grouping_id()).collect()


def _count_parses(rounds, acc) -> None:
    """Make every parse function the round loops and the docs pass build add
    the pages it is given (rows with html) to ``acc``."""
    make = rounds.make_extract_pages

    def counting(config, carry_cols=None):
        fn, schema = make(config, carry_cols)

        def counted(batches):
            for pdf in batches:
                acc.add(int(pdf["html"].notna().sum()))
                yield from fn(iter([pdf]))

        return counted, schema

    rounds.make_extract_pages = counting


def _crawl_in_process(expect: dict, corpus: Path, scratch: Path, spans: Spans):
    """jobs/crawl.py's crawl, in this process, with spans and an event log."""
    import webcrawler_spark.rounds as rounds
    from webcrawler_spark.config import CrawlConfig
    from webcrawler_spark.session import get_spark
    from webcrawler_spark.storage import SnapshotStore

    class TracedStore(SnapshotStore):
        def write_table(self, df, table, version):
            return spans.call(f"storage.write.{table}", super().write_table, df, table, version)

    logs = scratch / "eventlog"
    logs.mkdir()
    os.environ.update(inputs.spark_env(scratch))
    # Python workers import the engine from the checkout; the JVM gets the
    # heap spark-submit gives a job launched without --driver-memory
    os.environ.update(PYTHONPATH=str(inputs.ROOT), SPARK_DRIVER_MEM="1g")
    tempfile.tempdir = os.environ["TMPDIR"]
    spark = spans.call("session.start", get_spark, app_name="crawl", extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": logs.as_uri(),
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
        "spark.ui.showConsoleProgress": "false",
    })
    t_warm = time.monotonic()
    _warm(spark)
    spark.read.parquet(str(corpus / "pages")).limit(1).count()
    spans.record("session.warmup", t_warm, time.monotonic())
    pin = pin_record(spark) | {"worker_engine": worker_engine(spark)}
    parsed = spark.sparkContext.accumulator(0)
    _count_parses(rounds, parsed)

    config = CrawlConfig.from_json(expect["config_path"])
    config.max_depth = expect["max_depth"]
    config.per_host_budget = expect["per_host_budget"]
    store = TracedStore(str(scratch / "state"))
    epoch0, t0 = time.time(), time.monotonic()
    pages = spark.read.parquet(str(corpus / "pages"))
    entry = spark.read.parquet(expect["seeds_path"])
    if config.per_host_budget is not None:
        robots = spark.read.parquet(str(corpus / "robots.parquet"))
        res = spans.call("rounds.run", rounds.run_polite_crawl, spark, pages, entry,
                         config, robots=robots, store=store)
    else:
        res = spans.call("rounds.run", rounds.run_crawl, spark, pages, entry, config,
                         store=store)
    round_parsed = parsed.value
    t_docs = time.monotonic()
    store.write_table(res.docs, "docs", config.max_depth)
    spans.record("docs.pass", t_docs, time.monotonic())
    tail_parsed = parsed.value - round_parsed
    n_docs = spans.call("storage.count.docs", store.count_table, "docs", config.max_depth)
    store.write_table(spark.createDataFrame(res.lineage, rounds.LINEAGE_SCHEMA), "lineage",
                      res.rounds_run)
    wall = time.monotonic() - t0
    epoch1 = epoch0 + wall
    spark.stop()
    # close the py4j gateway as well: the JVM stays up after spark.stop(), and
    # nothing in this process may call into it once the benchmark stops it
    from pyspark import SparkContext

    SparkContext._gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    summary = {
        "rounds": res.rounds_run,
        "urls_enqueued": res.urls_enqueued,
        "urls_deduped": sum(d for _, d in {(l["round"], l["urls_deduped"]) for l in res.lineage}),
        "docs": n_docs,
        "wall_sec": wall,
        # pages given to the parse function in the rounds and in the docs pass
        "round_parsed": round_parsed,
        "tail_parsed": tail_parsed,
    }
    window = (epoch0 * 1000, epoch1 * 1000)
    return res, summary, pin, store, logs, window


def _ledger(res, summary: dict, store, spans: Spans) -> dict:
    """session / rounds / docs / storage figures from spans, timings and state."""
    m = {
        "session.start_s": spans.total("session.start"),
        "session.warmup_s": spans.total("session.warmup"),
        "rounds.run_s": spans.total("rounds.run"),
        "rounds.count": res.rounds_run,
    }
    round_ms = [ms for _, ms in sorted({(l["round"], l["wall_ms"]) for l in res.lineage})]
    m["rounds.ms_per_round.p50"] = statistics.median(round_ms)
    m["rounds.ms_per_round.max"] = max(round_ms)
    work = summary["urls_enqueued"] + summary["urls_deduped"]
    m["rounds.dedup_ratio"] = summary["urls_deduped"] / work
    phase = defaultdict(int)
    for t in res.timings:
        name = t.get("phase", "")
        if name == "seed_frontier":
            phase["seed"] += t["ms"]
        elif name.startswith("r") and name.rsplit("_", 1)[-1] in ("raw", "mat", "stats"):
            phase[name.rsplit("_", 1)[-1]] += t["ms"]
        elif name in ("docs_tail_mat", "docs_losers"):
            phase[name] += t["ms"]
    for k in ("seed", "raw", "mat", "stats"):
        m[f"rounds.phase.{k}_ms"] = phase[k]

    docs = read_docs(Path(store.root))
    status = Counter(d["status"] for d in docs)
    round_parsed, tail = summary["round_parsed"], summary["tail_parsed"]
    m["rounds.frontier_pages"] = round_parsed
    m["docs.pass_s"] = spans.total("docs.pass")
    m["docs.tail_parse_pages"] = tail
    m["docs.parse_per_doc"] = (round_parsed + tail) / len(docs)
    m["docs.phase.tail_mat_ms"] = phase["docs_tail_mat"]
    m["docs.phase.losers_ms"] = phase["docs_losers"]
    for s in STATUSES:
        m[f"docs.status.{s}"] = status[s]
    for t in TABLES:
        files = [f for f in Path(store.root, t).rglob("*.parquet")]
        m[f"storage.write_s.{t}"] = spans.total(f"storage.write.{t}")
        m[f"storage.bytes.{t}"] = sum(f.stat().st_size for f in files)
        m[f"storage.files.{t}"] = len(files)
    m["parsed_pages"] = round_parsed + tail
    return m


def _probe(w: Workload, expect: dict, corpus: Path, batch_rows: int) -> dict:
    import pyarrow.parquet as pq
    from webcrawler_spark.config import CrawlConfig

    config = CrawlConfig.from_json(expect["config_path"])
    pages = pq.read_table(
        corpus / "pages", columns=["url", "html", "lang", "warc_ts", "http_status", "fetch_ms"]
    ).to_pydict()
    index = {u: i for i, u in enumerate(pages["url"])}
    picked = [index[u] for u in expect["doc_hashes"] if u in index][:PROBE_PAGES]
    rows = {k: [pages[k][i] for i in picked] for k in pages}
    rows["rank"] = rows["pos"] = list(range(len(picked)))
    sample = [(u, h.decode("utf-8", errors="replace")) for u, h in zip(rows["url"], rows["html"])]
    m = probes.kernel(sample, config)
    m["udfs.extract_pages.pages_per_s"] = probes.udfs(rows, config, batch_rows)
    m["udfs.wrapper_overhead"] = (
        1 - m["udfs.extract_pages.pages_per_s"] / m["kernel.extract_page.pages_per_s"]
    )
    return m


def traced(w: Workload, expect: dict, corpus: Path, scratch: Path):
    """One traced crawl of the workload; returns its per-layer ledger."""
    spans = Spans()
    scratch.mkdir(parents=True)
    cwd = os.getcwd()
    os.chdir(scratch)
    try:
        res, summary, pin, store, logs, window = _crawl_in_process(expect, corpus, scratch, spans)
    finally:
        os.chdir(cwd)
    problems = check(summary, Path(store.root), expect)
    for p in problems:
        print(f"perfbench: traced crawl: {p}", file=sys.stderr)
    require_pinned(pin, len(inputs.cpus()))

    m = _ledger(res, summary, store, spans)
    m.update(eventlog.ledger(logs, *window, pin["default_parallelism"]))
    m["spark.scan_bytes_per_fetched_page"] = m["spark.scan_bytes"] / m.pop("parsed_pages")
    m.update(_probe(w, expect, corpus, pin["max_records_per_batch"]))

    wall = summary["wall_sec"]
    spanned = m["rounds.run_s"] + m["docs.pass_s"] + m["storage.write_s.lineage"]
    m["trace.crawl_wall_s"] = wall
    m["trace.span_coverage"] = spanned / wall
    m["trace.unattributed_s"] = wall - spanned
    m["pin.default_parallelism"] = pin["default_parallelism"]
    m["pin.shuffle_partitions"] = pin["shuffle_partitions"]
    print(
        f"perfbench: {w.name} traced crawl {wall:.2f} s; spans cover "
        f"{m['trace.span_coverage']:.1%}"
        f" (rounds.run {m['rounds.run_s']:.2f} s + docs.pass {m['docs.pass_s']:.2f} s"
        f" + lineage write {m['storage.write_s.lineage']:.2f} s), unattributed "
        f"{m['trace.unattributed_s']:.2f} s; Spark jobs idle for "
        f"{m['spark.driver_gap_s']:.2f} s of it (driver gap)",
        file=sys.stderr,
    )

    if set(m) != set(PER_LAYER):
        raise SystemExit(f"perfbench: ledger keys differ: {sorted(set(m) ^ set(PER_LAYER))}")
    units = {k: PER_LAYER[k][0] for k in m}
    record = {"pin": pin,
              "spans": [(n, round(a - spans.items[0][1], 4), round(b - a, 4), t)
                        for n, a, b, t in spans.items]}
    return {"problems": problems}, m, units, record
