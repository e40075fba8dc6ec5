"""The crawl driver: the reference's BFS control flow restated as batch rounds.

One round loop (``_crawl``) runs every crawl. A round is one idempotent
batch step over the pending frontier (SURVEY §3.1 "Spark restatement"):

    admission policy                               -- which pending urls fetch now
      → admitted ⋈ pages (url)                     -- "fetch" against the corpus
      → extraction kernel (mapInPandas)            -- title/segments/links
      → explode(links) → rlike filter
      → first-occurrence (groupBy url, min(parent grank, link_pos))
      → seen-flag join → bucketed global ranks → append to url_seen
      → traversal slice (+ deferred rows) → next pending frontier

The §2.2 order theorem makes the distributed queue order equal the reference's
single-threaded FIFO drain order: enqueue order is (parent's global discovery
rank, link position in the parent document), dedup keeps first occurrence
only. maxDepth semantics (harvest-but-don't-traverse, CrawlerService.java:127-131)
and the entry-enqueue-only-with-processor guard (:110-116) are mirrored exactly.

The same theorem makes BFS polite admission with an unlimited budget, so the
two entry points choose only an admission policy (``_Admission``) and whether
seeds are enqueued. ``run_crawl`` admits every pending url: its round has no
admission window, no deferred rows and, with the processor, no visited join.
``run_polite_crawl`` admits per host (budget, maxConcurrentPerDomain, hot-host
salting or timed crawl-delay clocks) under the globalQps / maxPages cut,
semantics fixed by oracle.crawl_oracle_polite; the urls it does not admit
wait, unchanged, for a later round.

Scale design (north_rule: ≥0.8 scaling efficiency N→4N): besides the
admission a policy runs, a round waits on three driver-synchronized jobs —

1. (processor mode) one raw-capture job: the round's single page parse
   (title/segments/links from one kernel call, like WebPageProcessor) is
   materialized as a per-round raw_docs table; the final docs pass reuses it
   and parses only the queue tail no round fetched, so each page is parsed
   once across the entire crawl;
2. one materialization job: the harvest→dedup chain evaluates once, with
   bucket-local running sums, into a pinned round table;
3. one stats job: a single GROUPING SETS aggregate over the pinned table
   returns per-bucket rank offsets and the dedup counts in one collect of a
   row or two per bucket. Queue positions and discovery ranks are then a
   pure projection: local running sum + the driver's prefix-sum offset (no
   single-partition row_number, no range sampling).

A round keeps only (round, urls_deduped, frontier_delta, wall_ms); ONE
aggregate over url_seen at the end of the crawl adds the per-partition
hosts served and urls fetched of every round (_lineage_rows).

Rank bucketing needs no RangePartitioner: the pending frontier's discovery
ranks lie in [frontier_lo, discovered), so floor((grank-lo)·nb/(discovered-lo))
is an explicit, deterministic, monotone bucket id — value-determined, hence
stable across job re-runs without pinning a physical layout.

Checkpoint/resume: with a SnapshotStore, the crawl writes only tables that a
resume, a job or a user reads: each round's raw_docs parse, url_seen at the
end, and on a stop the loop state (frontier, visited, lineage_ckpt,
host_state); the manifest commits atomically after them. The pinned round
table and the docs tail's parse stay in executor storage (localCheckpoint):
nothing reads them after the crawl. ``stop`` halts the crawl at a round
boundary and commits the loop state; ``resume=True`` continues from it. A
re-run of a crashed round overwrites its versioned dirs — idempotent by
construction.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from functools import reduce
from typing import Dict, List, Optional, Set, Tuple

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .config import CrawlConfig
from .functions import (
    accepted_by_filters,
    content_hash_segments,
    content_length_col,
    doc_id_col,
    host_hash_col,
    parse_host,
)
from .kernel.urlnorm import normalize_url
from .operators.admission import (
    _min_cap,
    admit,
    apply_robots,
    global_cap_admit,
    salted_admit,
    timed_admit,
)
from .operators.contentgate import skip_status_col, split_gated
from .operators.dedup import flag_seen
from .operators.ordering import first_occurrence
from .storage import Manifest, SnapshotStore
from .udfs import extract_schema_with, make_extract_pages, normalize_url_udf

SEEN_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("pos", LongType()),
        StructField("host_hash", LongType()),
        StructField("first_depth", IntegerType()),
    ]
)

_SEED_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("grank", LongType()),
        StructField("depth", IntegerType()),
    ]
)

LINEAGE_SCHEMA = StructType(
    [
        StructField("round", IntegerType()),
        StructField("partition_id", IntegerType()),
        StructField("hosts_served", LongType()),
        StructField("urls_fetched", LongType()),
        StructField("urls_deduped", LongType()),
        StructField("frontier_delta", LongType()),
        StructField("wall_ms", LongType()),
    ]
)

# Broadcasting the frontier side keeps the html-bearing pages table from ever
# shuffling. The gate is on ESTIMATED BYTES (rows × ~96 B per (url, rank/pos)
# row), not a raw row count: what can break a real cluster is the serialized
# relation size vs executor memory, and what it must stay below here is the
# point where building the driver-side hash relation costs more than it saves.
# Shuffling the multi-KB html payload is ~30-50× the frontier's bytes, so the
# ceiling is set generously high (256 MB ≈ 2.8M url rows); beyond it the join
# degrades to a shuffle of both sides.
FRONTIER_ROW_BYTES = 96
BROADCAST_MAX_BYTES = 256 * 1024 * 1024

# Frontiers at or under this many rows are round-robin repartitioned before
# the Python parse stage; larger ones run on the scan-partition layout.
PARSE_REBALANCE_MAX_ROWS = 100_000
# Partitions for the rebalance shuffle, as a multiple of defaultParallelism:
# finer tasks shorten the stage's straggler tail (a wave is 1/mult of the
# stage; one slow core costs 1/(mult*cores), not 1/cores).
PARSE_REBALANCE_MULT = 2

N_LINEAGE_PARTS = 32


def _frontier_side(df: DataFrame, rows: Optional[int]) -> DataFrame:
    """Frontier side of the fetch join: broadcast while the estimated
    serialized size stays under BROADCAST_MAX_BYTES, else let it shuffle."""
    if rows is not None and rows * FRONTIER_ROW_BYTES <= BROADCAST_MAX_BYTES:
        return F.broadcast(df)
    return df


def _balance_for_parse(
    spark: SparkSession, fetched: DataFrame, rows: Optional[int]
) -> DataFrame:
    """Small frontiers are host-clustered into a handful of scan partitions
    (the corpus is laid out by host), so a cheap round-robin shuffle of the
    few fetched pages fixes parse-stage skew. Large frontiers cover the host
    space ~uniformly across the (maxPartitionBytes-sized) scan splits already
    — there the repartition would shuffle the multi-GB html payload through
    disk for no balance gain, so the parse runs directly on the join output
    layout. 2x-cores granularity on the small path so one throttled core
    costs half a task, not a stage tail."""
    if rows is None or rows <= PARSE_REBALANCE_MAX_ROWS:
        return fetched.repartition(
            PARSE_REBALANCE_MULT * spark.sparkContext.defaultParallelism
        )
    return fetched

# Seed DataFrames at or under this many rows are collected to the driver and
# take the (much cheaper) list path; see _seed_frontier.
SEED_COLLECT_MAX = 250_000


def _seed_df(spark: SparkSession, starts: List[str]) -> DataFrame:
    """Distributed, materialized seed frontier from a driver-side list.

    Built via the Arrow (pandas) path and immediately localCheckpointed:
    a plain createDataFrame stays a driver-LOCAL relation that every
    consuming action re-serializes on the driver (broadcast hash builds,
    anti-joins, the final union chain) — ~10s × 5 uses at 278k seeds, all
    serial. One checkpoint pays that cost exactly once.
    """
    import pandas as pd

    cols = {"url": starts, "grank": list(range(len(starts))), "depth": [0] * len(starts)}
    df = spark.createDataFrame(pd.DataFrame(cols), _SEED_SCHEMA)
    par = spark.sparkContext.defaultParallelism
    return df.repartition(par).localCheckpoint(eager=True)


def _seed_frontier(
    spark: SparkSession, entry_url, timings: Optional[List[dict]] = None,
) -> Tuple[Optional[DataFrame], int]:
    """Normalize/dedup/rank the seed list into the round-0 frontier
    (url, grank, depth = 0).

    ``entry_url`` may be a single URL, a Python list (reference semantics /
    README seed-list design), or a **DataFrame** with a ``url`` column and an
    optional ``seed_id`` order column — the scale path: seeds never touch the
    driver; dedup and dense rank assignment run distributed (VERDICT r1 #8).

    Returns (frontier, n_seeds); frontier is None when no valid seed remains.
    Dense rank 0..n-1 in list order with first-occurrence dedup either way.

    Seed DataFrames at or under ``SEED_COLLECT_MAX`` rows take the driver-list
    path instead: a handful of MB on the driver beats the 4-job distributed
    dedup/rank pipeline (pandas-UDF normalize + persist + 2 collects +
    checkpoint ≈ seconds of fixed serial cost, the kind that caps N→4N
    scaling efficiency). One ``SEED_COLLECT_MAX + 1``-row collect both picks
    the path and, under the cap, is the list (sorted by seed_id on the
    driver). The distributed path is for genuinely frontier-sized seed lists.
    """
    if isinstance(entry_url, DataFrame):
        seeds = entry_url
        has_id = "seed_id" in seeds.columns
        cols = ["url", "seed_id"] if has_id else ["url"]
        head = seeds.select(*cols).limit(SEED_COLLECT_MAX + 1).collect()
        if len(head) <= SEED_COLLECT_MAX:
            if has_id:
                # null ids first, as Spark's ascending sort puts them
                head.sort(key=lambda r: (r["seed_id"] is not None, r["seed_id"] or 0))
            return _seed_frontier(spark, [r["url"] for r in head], timings=timings)
        if timings is not None:
            # observable evidence that frontier-sized seed lists never
            # materialize on the driver (VERDICT r2 #7): surfaced in the
            # crawl job's engine_timings as seed_path=distributed
            timings.append({"phase": "seed_path", "mode": "distributed"})
        if not has_id:
            # file/row order is the list order contract; ids only need to be
            # monotone in that order for first-occurrence + ranking
            seeds = seeds.withColumn("seed_id", F.monotonically_increasing_id())
        norm = seeds.select(
            normalize_url_udf(F.col("url")).alias("url"), F.col("seed_id")
        ).filter(F.col("url").isNotNull())
        first = first_occurrence(norm, "url", ["seed_id"]).persist()
        # one stats job: per-bucket counts for the dense rank + max id for
        # bucketing. seed_id is NOT dense (dropped invalids/dups), so bucket
        # on its value range; ranks come out dense via the prefix sums.
        nb = int(spark.conf.get("spark.sql.shuffle.partitions"))
        hi_row = first.select(
            F.max("seed_id").alias("hi"), F.count("*").alias("n")
        ).collect()[0]
        n_seeds = hi_row["n"]
        if not n_seeds:
            first.unpersist()
            return None, 0
        bkt = _bucket_expr(F.col("seed_id"), 0, int(hi_row["hi"]) + 1, nb)
        b = first.withColumn("_bkt", bkt)
        counts = {
            r["_bkt"]: r["n"]
            for r in b.groupBy("_bkt").agg(F.count("*").alias("n")).collect()
        }
        off, _ = _offset_map_expr("_bkt", counts, 0)
        w = Window.partitionBy("_bkt").orderBy("seed_id")
        frontier = b.select(
            "url",
            (F.row_number().over(w) - 1 + off).cast("long").alias("grank"),
            F.lit(0).alias("depth"),
        ).localCheckpoint(eager=True)
        first.unpersist()
        return frontier, n_seeds

    seed_list = [entry_url] if isinstance(entry_url, str) else list(entry_url)
    starts: List[str] = []
    _start_set: Set[str] = set()  # list membership is O(n) -> O(n^2) over big seed lists
    for s in seed_list:
        n = normalize_url(s)
        if n is not None and n not in _start_set:
            _start_set.add(n)
            starts.append(n)
    if not starts:
        return None, 0
    return _seed_df(spark, starts), len(starts)


def _bucket_expr(col: Column, lo: int, hi: int, nb: int) -> Column:
    """Monotone equal-width bucket id in [0, nb) for an integer key known to
    lie in [lo, hi). Being a pure column expression (unlike a sampled
    RangePartitioner), it is deterministic across re-evaluations — the rank
    offsets computed from one job remain valid in the next."""
    span = max(1, hi - lo)
    return F.least(F.lit(nb - 1), F.floor((col - lo) * nb / span)).cast("int")


def _offset_map_expr(
    bucket_col: str, counts: Dict[int, int], start: int
) -> Tuple[Column, int]:
    """Driver prefix-sum over per-bucket counts -> literal-map lookup column.
    Returns (offset expression, total)."""
    acc = start
    kv: List[Column] = []
    for b in sorted(counts):
        kv.extend([F.lit(b), F.lit(acc)])
        acc += counts[b]
    if not kv:
        return F.lit(start), acc
    return F.element_at(F.create_map(*kv), F.col(bucket_col)), acc


def _lineage_rows(
    rounds: List[Tuple[int, int, int, int]], seen: DataFrame, seed_rows: int
) -> List[dict]:
    """The lineage rows of ``rounds`` (round, urls_deduped, frontier_delta,
    wall_ms), one per (round, partition_id = host_hash % 32) that enqueued
    urls: round r enqueued the url_seen rows with first_depth = r and pos >=
    ``seed_rows``, so ONE aggregate counts urls_fetched and distinct
    hosts_served of every round. A round that enqueued nothing keeps one
    (-1, 0) row for its dedup count."""
    parts: Dict[int, List[Tuple[int, int, int]]] = {}
    enqueued = [r for r, _, delta, _ in rounds if delta]
    if enqueued:
        for row in (
            seen.filter(F.col("first_depth").isin(enqueued) & (F.col("pos") >= seed_rows))
            .groupBy(
                F.col("first_depth").alias("r"),
                F.pmod(F.col("host_hash"), F.lit(N_LINEAGE_PARTS)).cast("int").alias("p"),
            )
            .agg(F.count_distinct("host_hash").alias("h"), F.count("*").alias("n"))
            .collect()
        ):
            parts.setdefault(row["r"], []).append((row["p"], row["h"], row["n"]))
    return [
        dict(zip(LINEAGE_SCHEMA.fieldNames(), (rnd, p, h, n, deduped, delta, wall_ms)))
        for rnd, deduped, delta, wall_ms in rounds
        for p, h, n in sorted(parts.get(rnd, [(-1, 0, 0)]))
    ]


def lineage_frame(spark: SparkSession, rows: List[dict]) -> DataFrame:
    """Lineage rows as a DataFrame, built through Arrow: a list-of-dicts
    createDataFrame pickles every row through a Python worker."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(rows, columns=LINEAGE_SCHEMA.fieldNames()), LINEAGE_SCHEMA
    )


def _running(flag_zero_col: str, w: Window) -> Column:
    """Running count (1-based) of rows whose ``flag_zero_col`` == 0, under a
    rows-unbounded-preceding window. Unlike row_number over a filtered view,
    this lets several differently-filtered ranks share one sorted pass."""
    return F.sum(1 - F.col(flag_zero_col)).over(w)


@dataclass
class CrawlResult:
    queue: DataFrame            # (url, pos) — LinkQueue drain order
    seen: DataFrame             # url_seen table
    visited: DataFrame          # traversal dedup set
    docs: Optional[DataFrame]   # processed documents (None without processor)
    lineage: List[dict] = field(default_factory=list)
    rounds_run: int = 0
    urls_enqueued: int = 0
    timings: List[dict] = field(default_factory=list)  # per-phase wall diagnostics
    stopped: bool = False       # True when a stop() callback cancelled the crawl


def _content_key() -> Column:
    """Content-hash dedup key (README.md:156, model/CrawlStatus.java:14-16):
    identical NON-EMPTY contents share a key; empty/null contents get a
    per-url unique key so they never mark as DUPLICATE. Computed inside the
    parse job (JVM sha2, no extra pass) so pinned raw tables carry it and the
    duplicate-losers pass never re-reads the segments payload."""
    return F.when(
        F.size(F.col("segments")) > 0,
        F.sha2(F.concat_ws("\u001f", F.col("segments")), 256),
    ).otherwise(F.concat(F.lit("u:"), F.col("url")))


# the docs payload a parse carries through the kernel (P2 fetch fidelity)
_DOC_CARRY = [
    StructField("pos", LongType()),
    StructField("lang", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("http_status", IntegerType()),
    StructField("fetch_ms", LongType()),
]


def _parse_fn(config: CrawlConfig, carry_fields: List[StructField]):
    """The mapInPandas parse function for rows carrying ``carry_fields``
    through the kernel, and its output schema."""
    fn, _ = make_extract_pages(config, carry_cols=[f.name for f in carry_fields])
    return fn, extract_schema_with(carry_fields)


def _phase(timings: List[dict], name: str, t0: float) -> None:
    """Record the wall time a phase took since ``t0`` (time.monotonic)."""
    timings.append({"phase": name, "ms": int((time.monotonic() - t0) * 1000)})


def _with_fetch_defaults(df: DataFrame) -> DataFrame:
    """P2 fetch-fidelity columns: thread through when the pages table has
    them, else default to http 200, 0 ms, no language, no capture time."""
    defaults = {
        "http_status": F.lit(200),
        "fetch_ms": F.lit(0).cast("long"),
        "lang": F.lit(None).cast("string"),
        "warc_ts": F.lit(None).cast("timestamp"),
    }
    for c, v in defaults.items():
        if c not in df.columns:
            df = df.withColumn(c, v)
    return df


def _empty_result(
    spark: SparkSession, pages: DataFrame, config: CrawlConfig, with_processor: bool
) -> CrawlResult:
    empty_seen = spark.createDataFrame([], SEEN_SCHEMA)
    queue = empty_seen.select("url", "pos")
    return CrawlResult(
        queue=queue,
        seen=empty_seen,
        visited=empty_seen.select("url"),
        # the docs schema, from the one docs projection (no job runs)
        docs=(
            process_queue(spark, queue, pages, config, has_content_rules=False)
            if with_processor
            else None
        ),
    )


@dataclass
class _Admission:
    """Which pending urls a round fetches. The default admits every one of
    them and adds nothing to the round's plan. Any cap set below makes the
    policy ``defers``: the urls it does not admit wait, unchanged, for a
    later round (semantics fixed by oracle.crawl_oracle_polite)."""

    budget: Optional[int] = None          # per-host urls per round
    max_concurrent: Optional[int] = None  # maxConcurrentPerDomain: one more per-host cap
    global_cap: Optional[int] = None      # globalQps x window: urls per round in total
    max_pages: Optional[int] = None       # maxPages: admitted fetches per job
    salt_threshold: Optional[int] = None  # salt hosts with more pending urls than this
    n_salts: int = 16
    delays: Optional[DataFrame] = None    # (host, crawl_delay_ms): timed politeness
    window_ms: int = 10_000               # virtual length of one round
    host_state: Optional[DataFrame] = None  # timed clocks (host, next_allowed_ts)

    @property
    def defers(self) -> bool:
        caps = (self.budget, self.max_concurrent, self.global_cap, self.max_pages, self.delays)
        return any(c is not None for c in caps)

    def split(
        self, frontier: DataFrame, rnd: int, fetched_total: int
    ) -> Tuple[DataFrame, DataFrame]:
        """(admitted, deferred) rows of the pending frontier for round ``rnd``.
        A timed policy also advances and pins its per-host clocks."""
        cap = self.global_cap
        if self.max_pages is not None:
            # the in-round remainder of the job budget rides the globalQps cut
            rem = max(0, self.max_pages - fetched_total)
            cap = rem if cap is None else min(cap, rem)
        tr = frontier.withColumn("host", parse_host(F.col("url")))
        order = ("grank",)
        if self.delays is not None:
            admitted, deferred, state = timed_admit(
                tr, self.budget, self.delays, self.host_state,
                window_ms=self.window_ms, rnd=rnd, order_cols=order, host_col="host",
                max_concurrent=self.max_concurrent, global_cap=cap,
            )
            # tiny table (one row per host ever served); eager so the round's
            # clock advance is pinned before the frontier mutates
            self.host_state = state.localCheckpoint(eager=True)
        else:
            if self.salt_threshold is not None:
                # max_concurrent is just another per-host cap: min it into the
                # budget BEFORE the per-salt split (per-salt enforcement of a
                # cross-salt host cap would defeat the salting)
                admitted, deferred = salted_admit(
                    tr.withColumn("rank", F.col("grank")),
                    _min_cap(self.budget, self.max_concurrent),
                    order_cols=order, host_col="host",
                    salt_threshold=self.salt_threshold, n_salts=self.n_salts,
                )
                admitted, deferred = admitted.drop("rank"), deferred.drop("rank")
            else:
                admitted, deferred = admit(
                    tr, self.budget, order_cols=order, host_col="host",
                    max_concurrent=self.max_concurrent,
                )
            admitted, deferred = global_cap_admit(admitted, deferred, cap, order_cols=order)
        return admitted.drop("host"), deferred.drop("host")


# scalar loop state a stop commits to the manifest and a resume restores
_COUNTERS = ("queue_size", "frontier_rows", "frontier_lo", "discovered", "fetched_total")


def _crawl(
    spark: SparkSession,
    pages: DataFrame,
    entry_url,
    config: CrawlConfig,
    policy: _Admission,
    enqueue_seeds: bool,
    with_processor: bool,
    robots: Optional[DataFrame],
    store: Optional[SnapshotStore],
    crawl_ts: str,
    stop,
    resume: bool,
    max_rounds: int = 10_000,
) -> CrawlResult:
    """The round loop behind both entry points (see the module docstring).

    The pending frontier holds (url, grank, depth[, pos]): grank is the
    global discovery rank, the order every admission and every enqueue
    follows; pos, the queue position, rides along with a processor so a
    round's parse output is a complete raw doc.
    """
    _t0 = time.monotonic()
    res = CrawlResult(queue=None, seen=None, visited=None, docs=None)  # type: ignore[arg-type]
    traverse, n_seeds = _seed_frontier(spark, entry_url, timings=res.timings)
    if traverse is None:
        return _empty_result(spark, pages, config, with_processor)
    if with_processor:
        # seeds occupy pos 0..n-1 = their rank
        traverse = traverse.withColumn("pos", F.col("grank"))
    _phase(res.timings, "seed_frontier", _t0)

    max_depth = max(0, config.max_depth)
    nb = int(spark.conf.get("spark.sql.shuffle.partitions"))
    defers = policy.defers

    # With seeds enqueued (CrawlerService.java:110-116) and every pending url
    # admitted, the seen set and the traversal set evolve IDENTICALLY (both
    # gain exactly the round's first-occurrence anti-seen rows) — one flag
    # serves both. Otherwise the sets differ and a visited-flag join runs.
    visited = traverse.select("url")
    if enqueue_seeds:
        seen = traverse.select(
            "url",
            F.col("grank").alias("pos"),
            host_hash_col(parse_host(F.col("url"))).alias("host_hash"),
            F.lit(0).alias("first_depth"),
        )
    else:
        seen = spark.createDataFrame([], SEEN_SCHEMA)
    seed_rows = queue_size = n_seeds if enqueue_seeds else 0
    frontier_rows = discovered = n_seeds
    frontier_lo = fetched_total = 0

    # Single-parse (WebPageProcessor parses each page ONCE for both links and
    # content): in processor mode the round's link-harvest parse also carries
    # the docs payload (title/segments/links from the same kernel call) plus
    # the P2 fidelity columns, and each round's raw extraction is persisted.
    # The final docs pass then re-parses only the queue tail that no round
    # ever fetched (children harvested at maxDepth, CrawlerService.java:127-131)
    # instead of re-fetching and re-parsing the whole queue.
    fcols = ["url", "grank", "depth"]
    carry_fields = [StructField("grank", LongType()), StructField("depth", IntegerType())]
    fetch_cols = ["url", "html"]
    pages_src = pages
    if with_processor:
        pages_src = _with_fetch_defaults(pages)
        fcols.append("pos")
        carry_fields += _DOC_CARRY
        fetch_cols += ["lang", "warc_ts", "http_status", "fetch_ms"]
    # content gate for the round parse: a disallowed-type / oversize fetch
    # spends its admission slot but never enters the kernel, so it harvests
    # no links; the final docs pass re-encounters the row and emits its
    # SKIPPED_* status
    gate_skip = skip_status_col(
        config.allowed_content_types,
        config.max_content_bytes,
        content_type_col="content_type" if "content_type" in pages.columns else None,
    )
    if gate_skip is not None and "content_type" in pages.columns:
        fetch_cols.append("content_type")

    extract_fn, extract_out = _parse_fn(config, carry_fields)
    raw_parts: List[DataFrame] = []
    lineage: List[dict] = []  # rows a resume loaded; this run's rounds follow
    round_stats: List[Tuple[int, int, int, int]] = []  # (round, deduped, delta, wall_ms)
    if policy.delays is not None:
        policy.host_state = spark.createDataFrame(
            [], "host string, next_allowed_ts long"
        ).localCheckpoint(eager=True)

    rnd = 0
    resumed_had_rules = False
    m = store.load_manifest() if resume and store is not None else None
    if m is not None and m.meta.get("stopped_next_depth") is not None:
        # raw_docs snapshots written under a rules-bearing config carry
        # non-empty segments; the docs pass's DUPLICATE skip must key off
        # the UNION of configs, not just the current one (ADVICE r2)
        resumed_had_rules = bool(m.meta.get("has_content_rules", False))
        # pick the crawl back up at the committed round boundary: every
        # table below was written atomically by the stop path
        rnd = int(m.meta["stopped_next_depth"])
        # read url_seen at its MANIFEST version, not at the stop round:
        # jobs/recrawl.py --evict commits an evicted url_seen at a LATER
        # version than the stop snapshot, and resuming from the stale
        # pre-eviction table would silently never re-admit due urls
        # (ADVICE r4)
        seen = store.read_table(spark, "url_seen", int(m.tables["url_seen"]))
        traverse, visited = (store.read_table(spark, t, rnd) for t in ("frontier", "visited"))
        missing = [k for k in _COUNTERS if k not in m.meta]
        if missing:
            raise ValueError(
                f"snapshot manifest lacks {', '.join(missing)}: it was stopped "
                "before BFS and polite crawls shared one round loop and cannot "
                "be resumed; restart the crawl without --resume"
            )
        queue_size, frontier_rows, frontier_lo, discovered, fetched_total = (
            int(m.meta[k]) for k in _COUNTERS
        )
        if with_processor:
            raw_parts = [store.read_table(spark, "raw_docs", r) for r in range(rnd)]
        lineage = [
            r.asDict()
            for r in store.read_table(spark, "lineage_ckpt", rnd).collect()
        ]
        if policy.delays is not None:
            policy.host_state = store.read_table(spark, "host_state", rnd)

    stopped = False
    while (
        frontier_rows
        and rnd < max_rounds
        and (policy.max_pages is None or fetched_total < policy.max_pages)
    ):
        if stop is not None and stop():
            stopped = True
            break
        t0 = time.monotonic()
        admitted = traverse
        if defers:
            admitted, deferred = policy.split(traverse, rnd, fetched_total)
        if robots is not None:
            # blocked urls spent their admission slot but are never fetched
            # or harvested; the docs pass emits them as SKIPPED_ROBOTS
            admitted, _ = apply_robots(admitted, robots)
        fetched = pages_src.select(*fetch_cols).join(
            _frontier_side(admitted, frontier_rows), "url", "inner"
        )
        if gate_skip is not None:
            fetched = fetched.filter(gate_skip.isNull()).drop("content_type")
        fetched = _balance_for_parse(spark, fetched, frontier_rows)
        extracted = fetched.mapInPandas(extract_fn, extract_out)

        if with_processor:
            # pin the round's parse output once; the stats job and
            # the final docs assembly both read it back — the page is never
            # parsed again. With a store it is raw_docs[rnd], which a resume
            # reads for the rounds before its stop.
            _tr = time.monotonic()
            extracted = extracted.withColumn("_ckey", _content_key())
            if store is not None:
                store.write_table(extracted, "raw_docs", rnd)
                extracted = store.read_table(spark, "raw_docs", rnd)
            else:
                extracted = extracted.localCheckpoint(eager=True)
            raw_parts.append(extracted)
            _phase(res.timings, f"r{rnd}_raw", _tr)

        # hrefs come out of the kernel already normalized and null-free;
        # ``depth`` is the child's
        links = extracted.select(
            F.col("grank").alias("parent_rank"),
            (F.col("depth") + 1).alias("depth"),
            F.explode("links").alias("link"),
        ).select(
            "parent_rank",
            "depth",
            F.col("link.pos").alias("link_pos"),
            F.col("link.href").alias("url"),
        )
        accepted = links.filter(
            accepted_by_filters(
                F.col("url"), config.include_url_patterns, config.exclude_url_patterns
            )
        )
        # first occurrence within the round (intra-round self-dedup): the
        # enqueue position follows the global first harvest. Under deferral a
        # round mixes depths, so the traversal push follows the first
        # DEPTH-ELIGIBLE harvest (the oracle's per-event rule) — a second,
        # depth-masked min in the same url-grouped aggregate.
        if defers:
            first = accepted.groupBy("url").agg(
                F.min(F.struct("parent_rank", "link_pos")).alias("_o"),
                F.min(
                    F.when(
                        F.col("depth") <= max_depth,
                        F.struct("parent_rank", "link_pos", "depth"),
                    )
                ).alias("_oe"),
            ).select(
                "url",
                F.col("_o.parent_rank").alias("parent_rank"),
                F.col("_o.link_pos").alias("link_pos"),
                F.col("_oe.parent_rank").alias("e_parent_rank"),
                F.col("_oe.link_pos").alias("e_link_pos"),
                F.col("_oe.depth").alias("depth"),
            )
        else:
            first = first_occurrence(
                accepted.drop("depth"), "url", ["parent_rank", "link_pos"]
            )
        # (a deferred traversal may push a url enqueued in an earlier round;
        # its raw doc needs that queue position, so the seen join carries it)
        flagged = flag_seen(
            first, seen,
            carry=("pos",) if defers and with_processor else (),
        )
        # _vis = 0 marks a url this round pushes to the pending frontier
        if not defers and rnd >= max_depth:
            vis = F.lit(1)  # harvest-but-don't-traverse round
        elif not defers and enqueue_seeds:
            vis = F.col("_dup")
        else:
            flagged = flagged.join(
                visited.select("url").withColumn("_v", F.lit(1)), "url", "left"
            )
            pushed = F.col("_v").isNull()
            if defers:
                pushed = pushed & F.col("e_parent_rank").isNotNull()
            vis = F.when(pushed, F.lit(0)).otherwise(F.lit(1))
        b = (
            flagged.withColumn("_vis", vis)
            .withColumn("host_hash", host_hash_col(parse_host(F.col("url"))))
            .withColumn(
                "_bkt", _bucket_expr(F.col("parent_rank"), frontier_lo, discovered, nb)
            )
        )

        # ---- the round's ONE heavy non-parse job: evaluate the harvest
        # chain once, with bucket-LOCAL running sums, straight into the
        # pinned round table. Global pos/grank offsets are not known yet —
        # they need the per-bucket counts — so the table stores local ranks
        # and ALL rows (dup rows included, for the stats job); the global
        # offsets fold in lazily as a projection over the pinned table.
        _tm = time.monotonic()
        w = Window.partitionBy("_bkt").orderBy("parent_rank", "link_pos").rowsBetween(
            Window.unboundedPreceding, 0
        )
        cols = ["url", "host_hash", "_bkt", "_dup", "_vis"]
        if defers:
            # traversal ranks follow the depth-eligible harvest: own buckets
            tb = "_bkte"
            b = b.withColumn(
                tb, _bucket_expr(F.col("e_parent_rank"), frontier_lo, discovered, nb)
            )
            w_t = Window.partitionBy(tb).orderBy("e_parent_rank", "e_link_pos").rowsBetween(
                Window.unboundedPreceding, 0
            )
            cols += [tb, "depth"] + (["pos"] if with_processor else [])
        else:
            tb, w_t = "_bkt", w
        round_local = b.select(
            *cols,
            _running("_dup", w).alias("_lpos"),
            _running("_vis", w_t).alias("_lrank"),
        )
        if defers:
            # deferred frontier rows ride along with null flags: they must be
            # pinned too — they seed the next round's admission and would
            # otherwise recompute the whole admission lineage every round
            round_local = round_local.unionByName(
                deferred.select(
                    "url", "depth", F.col("grank").alias("_dgrank"),
                    *(["pos"] if with_processor else []),
                ),
                allowMissingColumns=True,
            )
        # Pin via eager localCheckpoint: the stats job and the frontier /
        # url_seen projections below all read the round table, so it is
        # evaluated once and held in executor storage. It is never written
        # to the store: no resume, job or user reads a round table (the
        # resume inputs are raw_docs, url_seen and the stop snapshot). (A
        # CollectMetrics formulation of the stats was tried and reverted:
        # its accumulator is an interpreted per-row aggregate whose
        # expression count grows with shuffle partitions — measured SLOWER
        # than the job it replaced at 16 cores, and anti-scaling with
        # cluster size.)
        round_local = round_local.localCheckpoint(eager=True)
        _phase(res.timings, f"r{rnd}_mat", _tm)
        _ts = time.monotonic()

        # ---- the stats job (tiny, codegen): per-bucket counts in one
        # grouping-sets pass over the pinned table — a few int sums. Under
        # deferral the traversal buckets get their own set, and the grand
        # total counts the deferred rows and their lowest grank: the next
        # round's frontier size and bucket floor.
        keys = ["_bkt"] + ([tb] if defers else [])
        sets = [["_bkt"]] + ([[tb], []] if defers else [])
        aggs = [
            F.sum(1 - F.col("_dup")).alias("n_new"),
            F.sum("_dup").alias("n_dup"),
            F.sum(1 - F.col("_vis")).alias("n_trav"),
        ]
        if defers:
            aggs += [
                F.count(F.when(F.col("_dup").isNull(), 1)).alias("n_def"),
                F.min("_dgrank").alias("def_lo"),
            ]
        stats = (
            round_local.groupingSets(sets, *keys)
            .agg(*aggs, F.grouping_id().alias("_gid"))
            .collect()
        )

        def grouped(*by: str) -> list:
            gid = sum(1 << (len(keys) - 1 - i) for i, k in enumerate(keys) if k not in by)
            return [r for r in stats if r["_gid"] == gid]

        # null bucket groups hold the deferred rows
        bkt_rows = [r for r in grouped("_bkt") if r["_bkt"] is not None]
        nn_bkt = {r["_bkt"]: int(r["n_new"]) for r in bkt_rows}
        nt_bkt = {r[tb]: int(r["n_trav"]) for r in grouped(tb) if r[tb] is not None}
        n_new = sum(nn_bkt.values())
        n_dup = sum(int(r["n_dup"]) for r in bkt_rows)
        n_trav = sum(nt_bkt.values())
        # an empty round table has no grand-total row: grouping sets run as
        # Expand + keyed Aggregate, which returns nothing for empty input
        total = next(iter(grouped()), None) if defers else None
        n_def = int(total["n_def"]) if total else 0
        _phase(res.timings, f"r{rnd}_stats", _ts)

        # global pos/grank = local running sum + driver prefix-sum offset,
        # a pure projection over the pinned table (no further job)
        pos_off, _ = _offset_map_expr("_bkt", nn_bkt, queue_size)
        rank_off, _ = _offset_map_expr(tb, nt_bkt, discovered)
        keep = (F.col("_dup") == 0) | (F.col("_vis") == 0)
        pos = F.when(F.col("_dup") == 0, (F.col("_lpos") - 1 + pos_off).cast("long"))
        grank = F.when(F.col("_vis") == 0, (F.col("_lrank") - 1 + rank_off).cast("long"))
        depth = F.lit(rnd + 1)
        if defers:
            # deferred rows, and urls enqueued in an earlier round, keep what
            # they already had
            keep = keep | F.col("_dup").isNull()
            grank = grank.otherwise(F.col("_dgrank"))
            depth = F.col("depth")
            if with_processor:
                pos = pos.otherwise(F.col("pos"))
        round_tbl = round_local.filter(keep).select(
            "url", "host_hash", "_dup",
            pos.alias("pos"), grank.alias("grank"), depth.alias("depth"),
        )

        # first_depth is the discovery round (the lineage rows key on it)
        new_seen = round_tbl.filter(F.col("_dup") == 0).select(
            "url", "pos", "host_hash", F.lit(rnd).alias("first_depth")
        )
        seen = seen.unionByName(new_seen)
        queue_size += n_new

        traverse = round_tbl.filter(F.col("grank").isNotNull()).select(*fcols)
        visited = visited.unionByName(
            round_tbl.filter(F.col("grank") >= discovered).select("url")
        )
        frontier_lo = int(total["def_lo"]) if n_def else discovered
        discovered += n_trav
        fetched_total += frontier_rows - n_def  # this round's admitted count
        frontier_rows = n_trav + n_def

        round_stats.append((rnd, n_dup, n_new, int((time.monotonic() - t0) * 1000)))
        res.rounds_run += 1
        rnd += 1

    # admit-all rounds are depths, so a completed BFS commits at max_depth;
    # a stopped or deferring crawl commits at its next round
    version = rnd if stopped or defers else max_depth
    if store is not None:
        _tw = time.monotonic()
        store.write_table(seen, "url_seen", version)
        seen = store.read_table(spark, "url_seen", version)
        _phase(res.timings, "url_seen_write", _tw)
    lineage += _lineage_rows(round_stats, seen, seed_rows)
    if store is not None:
        m = store.load_manifest() or Manifest()
        m.tables["url_seen"] = version
        if stopped:
            # stopCrawl(): commit the exact round boundary so resume=True
            # picks up here — pending frontier, visited set, lineage so far,
            # the timed clocks, then the scalar counters in the manifest
            # (atomic commit last)
            for table, df in (
                ("frontier", traverse),
                ("visited", visited.select("url")),
                ("lineage_ckpt", lineage_frame(spark, lineage)),
                ("host_state", policy.host_state),
            ):
                if df is not None:
                    store.write_table(df, table, rnd)
            m.committed_round = rnd - 1
            m.meta["stopped_next_depth"] = rnd
            m.meta.update(
                zip(_COUNTERS, (queue_size, frontier_rows, frontier_lo, discovered, fetched_total))
            )
            m.meta["has_content_rules"] = bool(config.has_content_rules) or resumed_had_rules
        else:
            m.committed_round = version
            m.meta.pop("stopped_next_depth", None)  # a completed resume clears the stop marker
            m.meta["entry_url"] = (
                entry_url if isinstance(entry_url, str) else f"{n_seeds} seeds"
            )
            m.meta["queue_size"] = queue_size
        store.commit(m)

    res.stopped = stopped
    res.queue = seen.select("url", "pos").orderBy("pos")
    res.seen = seen
    res.visited = visited
    res.lineage = lineage
    res.urls_enqueued = queue_size
    # the docs pass runs only at natural completion; a resumed run covers
    # the whole queue, reusing every persisted per-round raw parse
    if with_processor and not stopped:
        res.docs = process_queue(
            spark,
            seen,
            pages,
            config,
            crawl_ts=crawl_ts,
            robots=robots,
            queue_rows=queue_size,
            raw_docs=reduce(DataFrame.unionByName, raw_parts) if raw_parts else None,
            raw_rows=fetched_total,
            # only this docs pass reads the tail parse (a resume never
            # does), so it is pinned in executor storage, not the store
            materialize=lambda df: df.localCheckpoint(eager=True),
            timings=res.timings,
            has_content_rules=config.has_content_rules or resumed_had_rules,
        )
    return res


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    entry_url,
    config: CrawlConfig,
    store: Optional[SnapshotStore] = None,
    with_processor: bool = True,
    crawl_ts: str = "2025-06-01 00:00:00",
    stop=None,
    resume: bool = False,
) -> CrawlResult:
    """CrawlerService.crawl(entryUrl, waitForCompletion=True) as batch rounds:
    every pending url is admitted, so round d fetches exactly depth d.

    ``entry_url`` may be a single URL (reference semantics), a seed list
    (README.md seed-list design), or a seeds DataFrame (url [, seed_id]):
    seeds occupy queue positions 0..n-1 in list order with first-occurrence
    dedup, and round 0 traverses all of them. Seeds are enqueued only with
    the processor (CrawlerService.java:110-116).

    Cancellation (O2 — CrawlerService.stopCrawl()/awaitTermination,
    CrawlerService.java:134-151): ``stop`` is a zero-arg callable polled
    between rounds — the batch analogue of cancelling the worker pool, where
    a "round" is the smallest unit that leaves consistent state. When it
    returns True the crawl halts, and with a ``store`` the full loop state
    (url_seen, the pending frontier, the visited set, prior lineage and the
    scalar counters) is committed so ``resume=True`` on the same store
    continues from the exact round boundary — seeds/entry must match. A
    stopped result has ``stopped=True`` and no docs (the docs pass runs only
    at natural completion; a resumed run covers the whole queue, reusing
    every previously persisted per-round raw parse).
    """
    return _crawl(
        spark, pages, entry_url, config, _Admission(),
        enqueue_seeds=with_processor, with_processor=with_processor,
        robots=None, store=store, crawl_ts=crawl_ts,
        stop=stop, resume=resume,
    )


def run_polite_crawl(
    spark: SparkSession,
    pages: DataFrame,
    entry_url,
    config: CrawlConfig,
    robots: Optional[DataFrame] = None,
    store: Optional[SnapshotStore] = None,
    with_processor: bool = True,
    salt_threshold: Optional[int] = None,
    n_salts: int = 16,
    delays: Optional[DataFrame] = None,
    max_rounds: int = 10_000,
    crawl_ts: str = "2025-06-01 00:00:00",
    stop=None,
    resume: bool = False,
) -> CrawlResult:
    """The frontier scheduler with per-host politeness windows and a robots
    gate — semantics fixed by oracle.crawl_oracle_polite (the reference only
    *designed* these: README.md:55-57,145-147). Seeds are enqueued, except
    without the processor in a crawl that sets no cap and no robots: that
    crawl is run_crawl (CrawlerService.java:110-116).

    Each round admits, per host, the first ``config.per_host_budget`` pending
    URLs in global discovery order (row_number over host ordered by grank;
    ``max_concurrent_per_domain`` is one more per-host cap); the rest defer
    unchanged. ``global_qps`` caps the round's total admissions and
    ``max_pages`` the job's, both as a prefix cut in discovery order.
    Robots-blocked URLs consume budget, produce no links, and process as
    SKIPPED_ROBOTS docs. Hot hosts can be salted (``salt_threshold``) at the
    documented cost of per-salt-only ordering. With no cap set every pending
    url is admitted and the crawl runs the BFS plan.

    With a ``delays`` table (host, crawl_delay_ms) the scheduler runs TIMED
    politeness (admission.timed_admit): per-host ``next_allowed_ts`` virtual
    clocks carry between rounds (config.politeness_window_ms per round), so a
    crawl delay longer than one round admits one URL every ceil(d/W) rounds —
    semantics fixed by oracle.crawl_oracle_polite(delays=...). Mutually
    exclusive with ``salt_threshold`` (salting reorders within hosts, which
    would make timed budgets rank-unstable).

    ``stop``/``resume`` work as in run_crawl; the stop commit also holds the
    deferred rows and the timed clocks.
    """
    if delays is not None and salt_threshold is not None:
        raise ValueError("timed politeness and salted admission are exclusive")
    policy = _Admission(
        budget=config.per_host_budget,
        max_concurrent=config.max_concurrent_per_domain,
        global_cap=(
            int(config.global_qps * config.politeness_window_ms / 1000)
            if config.global_qps is not None
            else None
        ),
        max_pages=config.max_pages,
        salt_threshold=salt_threshold,
        n_salts=n_salts,
        delays=delays,
        window_ms=config.politeness_window_ms,
    )
    return _crawl(
        spark, pages, entry_url, config, policy,
        # an unbounded crawl without robots is exactly run_crawl
        enqueue_seeds=with_processor or policy.defers or robots is not None,
        with_processor=with_processor,
        robots=robots, store=store, crawl_ts=crawl_ts,
        stop=stop, resume=resume, max_rounds=max_rounds,
    )


def process_queue(
    spark: SparkSession,
    queue: DataFrame,
    pages: DataFrame,
    config: CrawlConfig,
    crawl_ts: str = "2025-06-01 00:00:00",
    robots: Optional[DataFrame] = None,
    queue_rows: Optional[int] = None,
    raw_docs: Optional[DataFrame] = None,
    raw_rows: Optional[int] = None,
    materialize=None,
    timings: Optional[List[dict]] = None,
    has_content_rules: Optional[bool] = None,
) -> DataFrame:
    """WebPageProcessor.processUrl over the whole admitted queue as one batch
    (the reference's N virtual-thread workers become Spark tasks — SURVEY §2.3 P1).

    Missing page (fetch failure) -> ERROR_FETCH row with partial fields
    (WebPageProcessor.java:160-170); fetched page -> OK row with title, rule
    extraction, hash and content length (:172-195); kernel parse failure ->
    ERROR_PARSE row carrying http_status/content_type and the reference's
    ``crawlDepth = maxDepth`` quirk (:216-227, :224). With a ``robots`` table,
    disallowed URLs become SKIPPED_ROBOTS rows (CrawlStatus.java:10-11) and
    are never fetched/parsed; the content gate's SKIPPED_* rows are fetched
    but never parsed.

    Per-page fetch fidelity (P2): when the pages table carries
    ``http_status``/``fetch_ms`` columns they flow into the docs (Jsoup
    ignoreHttpErrors(true): non-200 pages still parse as OK); absent columns
    default to 200/0.

    One plan builds every row. Queue urls a crawl round already parsed come
    from ``raw_docs``; the rest (the tail) join pages ONCE — a broadcast
    inner join plus a url-only anti join under the byte gate, a true left
    join above it — and fetch-missing rows ride through the single parse
    stage as null-html rows with a ``fetchok`` flag. The rows the parse never
    sees join the parsed ones with a ``skip_status``: robots-blocked
    (``fetchok`` false) and content-gated (fetched: http_status, fetch_ms and
    the content type stay as evidence). One conditional projection then emits
    every docs row: SKIPPED_* / ERROR_FETCH / ERROR_PARSE / DUPLICATE / OK.

    Content-hash dedup (CrawlStatus.DUPLICATE, model/CrawlStatus.java:19-20;
    README.md:156 "skip if content hash unchanged"): OK docs with identical
    NON-EMPTY extracted contents are marked DUPLICATE except the first by
    queue position. A slim eager job over (url, pos, content key) finds the
    duplicate LOSERS, which broadcast-join back onto the payload — the
    multi-KB contents/links columns never enter a shuffle. ``materialize``
    (df -> pinned df, e.g. an eager localCheckpoint) pins the tail parse
    first, so the losers job and the docs write never parse a page twice;
    without it the tail parse stays lazy and each of the two runs it.

    With NO content rules anywhere (``has_content_rules`` false) every doc's
    contents are empty by reference semantics, so no doc can be a DUPLICATE:
    there is no losers job, ``materialize`` is unused and the tail parse
    streams straight into the docs write. Callers resuming from a snapshot
    pass has_content_rules = current config OR the snapshot's recorded flag,
    so raw tables written under a rules-bearing config still get the pass.
    """
    q = queue.select("url", "pos")
    blocked = None
    if robots is not None:
        q, blocked = apply_robots(q, robots)

    if has_content_rules is None:
        has_content_rules = config.has_content_rules
    ts = F.to_timestamp(F.lit(crawl_ts))

    if raw_docs is not None:
        # single-parse reuse (the rounds' raw capture): queue urls already
        # parsed during the crawl rounds skip the fetch+extract path below;
        # only the never-traversed tail (children harvested at maxDepth,
        # plus fetch-missing urls) is joined against pages and parsed here
        q = q.join(raw_docs.select("url"), "url", "left_anti")
        if queue_rows is not None:
            queue_rows = max(0, queue_rows - (raw_rows or 0))
    if timings is not None and queue_rows is not None:
        # the tail size: queue urls no round admitted, fetched and parsed here
        timings.append({"phase": "docs_tail", "rows": queue_rows})

    if queue_rows is not None and queue_rows * FRONTIER_ROW_BYTES <= BROADCAST_MAX_BYTES:
        # broadcast the queue: the pages table (html payload) streams through
        # a broadcast hash join instead of shuffling wholesale; the missing
        # set needs only a url-column anti-join (no html movement)
        fetched = pages.join(F.broadcast(q), "url", "inner")
        missing = q.join(pages.select("url"), "url", "left_anti").withColumn(
            "html", F.lit(None).cast("binary")
        )
        src = fetched.unionByName(missing, allowMissingColumns=True)
    else:
        src = q.join(pages, "url", "left")

    # content gate (README.md:60,212): disallowed-type / oversize fetches
    # exit to SKIPPED_* rows HERE — below the scan, above the Python parse
    # stage — so the kernel only ever decodes admitted bytes. Default-off
    # (both knobs None) adds nothing to the plan.
    src = _with_fetch_defaults(src).withColumns({
        "http_status": F.col("http_status").cast("int"),
        "fetch_ms": F.col("fetch_ms").cast("long"),
    })
    src, gated = split_gated(src, config.allowed_content_types, config.max_content_bytes)

    extract_fn, out_schema = _parse_fn(
        config, _DOC_CARRY + [StructField("fetchok", BooleanType())]
    )
    ex = _balance_for_parse(
        spark,
        src.select(
            "url", "html", "pos", "lang", "warc_ts", "http_status", "fetch_ms",
            F.col("html").isNotNull().alias("fetchok"),
        ),
        queue_rows,
    ).mapInPandas(extract_fn, out_schema)

    is_dup = F.lit(False)
    if has_content_rules:
        # compute the content-dedup key INSIDE the parse job so the pinned
        # tables carry it: the losers job below then needs url+pos+_ckey
        # only (column pruning skips the rounds' multi-KB segments payload)
        ex = ex.withColumn("_ckey", _content_key())
        if materialize is not None:
            _tt = time.monotonic()
            ex = materialize(ex)
            if timings is not None:
                _phase(timings, "docs_tail_mat", _tt)
    if raw_docs is not None:
        # rows already parsed during the crawl rounds: pinned raw tables,
        # all fetched by construction (the rounds join pages inner)
        ex = ex.unionByName(
            raw_docs.withColumn("fetchok", F.lit(True)).select(*ex.columns)
        )
    if has_content_rules:
        # duplicate LOSERS (pos > first pos of their content key), ~100 B
        # per row read and shuffled, broadcast back by url (unique in the
        # queue). A loser set past the broadcast ceiling shuffle-joins.
        _tl = time.monotonic()
        losers = (
            ex.filter(~F.col("parse_error"))
            .select("url", "pos", "_ckey")
            .withColumn("_first_pos", F.min("pos").over(Window.partitionBy("_ckey")))
            .filter(F.col("pos") > F.col("_first_pos"))
            .select("url", F.lit(True).alias("_dup"))
            .localCheckpoint(eager=True)
        )
        n_losers = losers.count()
        if timings is not None:
            _phase(timings, "docs_losers", _tl)
        ex = ex.join(_frontier_side(losers, n_losers), "url", "left")
        is_dup = F.col("_dup").isNotNull()

    # the parse's rows are text/html; the rows it never saw join them with a
    # skip_status: content-gated ones were fetched, so http_status, fetch_ms
    # and the response's content type stay as evidence of why the gate
    # fired; robots-blocked ones were never fetched
    ex = ex.withColumns(
        {"skip_status": F.lit(None).cast("string"), "content_type": F.lit("text/html")}
    )
    if gated is not None:
        if "content_type" not in gated.columns:
            gated = gated.withColumn("content_type", F.lit("text/html"))
        gated = gated.select(
            "url", "pos", "skip_status", "http_status", "fetch_ms", "content_type",
            F.lit(True).alias("fetchok"),
        )
        ex = ex.unionByName(gated, allowMissingColumns=True)
    if blocked is not None:
        blocked = blocked.select(
            "url", "pos",
            F.lit("SKIPPED_ROBOTS").alias("skip_status"), F.lit(False).alias("fetchok"),
        )
        ex = ex.unionByName(blocked, allowMissingColumns=True)

    # a skipped row's parse_error is null, so is_ok and is_parse_err are
    # null on it and every content field below stays empty
    is_fetch_err = ~F.col("fetchok")
    is_parse_err = F.col("fetchok") & F.col("parse_error")
    is_ok = F.col("fetchok") & ~F.col("parse_error")  # OK or DUPLICATE
    null_segs = F.lit(None).cast("array<string>")
    return ex.select(
        F.when(is_ok, doc_id_col(F.col("url"))).alias("id"),
        F.col("url"),
        parse_host(F.col("url")).alias("domain"),
        ts.alias("crawl_ts"),
        F.coalesce(
            F.col("skip_status"),
            F.when(is_fetch_err, F.lit("ERROR_FETCH"))
            .when(is_parse_err, F.lit("ERROR_PARSE"))
            .when(is_dup, F.lit("DUPLICATE"))
            .otherwise(F.lit("OK")),
        ).alias("status"),
        # ERROR_FETCH never got a response: http_status stays null even when
        # the pages table carries a default column
        F.when(~is_fetch_err, F.col("http_status")).alias("http_status"),
        # P8 (WebPageProcessor.java:238-240): durationMs clamps negative
        # wall-clock deltas (clock skew mid-fetch) to 0
        F.when(is_fetch_err, F.lit(0).cast("long"))
        .otherwise(F.greatest(F.lit(0).cast("long"), F.col("fetch_ms")))
        .alias("fetch_duration_ms"),
        # the reference's crawlDepth = maxDepth quirk on parse errors
        # (WebPageProcessor.java:224); null otherwise
        F.when(is_parse_err, F.lit(config.max_depth)).cast("int").alias("crawl_depth"),
        F.when(is_ok, F.col("title")).alias("title"),
        F.lit(None).cast("string").alias("description"),
        F.when(is_ok, F.col("segments")).alias("contents"),
        F.when(is_ok, content_length_col(F.col("segments")))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("content_length"),
        F.when(~is_fetch_err, F.col("content_type")).alias("content_type"),
        F.when(is_ok, F.col("lang")).alias("language"),
        # out_links: the kernel already emits normalized, null-free hrefs in
        # document order — a plain column transform, no explode/regroup
        F.when(is_ok, F.transform(F.col("links"), lambda l: l["href"])).alias(
            "out_links"
        ),
        F.when(
            is_ok, content_hash_segments(F.col("url"), F.col("segments"))
        )
        .otherwise(content_hash_segments(F.col("url"), null_segs))
        .alias("hash"),
        F.col("pos"),
    )
