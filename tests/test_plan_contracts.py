"""Physical-plan contracts: the plans the 100 TB story depends on, pinned as
tests so a refactor that silently degrades them (lost broadcast, lost column
pruning, an accidental cartesian product) fails CI rather than a cluster run.

Checks read the formatted explain output of the real entry queries at
sf0.001 — cheap (no execution) and stable across AQE because the asserted
properties are static plan shape, not partition counts."""

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _plan(spark, name):
    import __spark_entry__ as entry

    df = entry.queries()[name](spark, SF_DIR)
    jdf = df._jdf
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return jdf.queryExecution().explainString(mode)


# Queries whose plans must never contain a cartesian product. (Queries built
# on intentional tiny crossJoins — stats broadcasts, planted-clone fan-outs —
# are excluded; theirs are BroadcastNestedLoopJoins over 1-row/driver-scale
# sides by construction.)
NO_CARTESIAN = [
    "flagship_frontier_round",
    "f1_dedup_anti_join",
    "f2_admission_salted",
    "dedup_lsh_pairs",
    "dedup_simhash_pairs",
    "dedup_span_stats",
    "domain_mixture",
    "decontaminate",
    "shard_pack",
    "text_unigram_lp",
    "tfidf_keywords",
    "frontier_pr_admission",
]


@pytest.mark.parametrize("name", NO_CARTESIAN)
def test_no_cartesian_product(spark, name):
    assert "CartesianProduct" not in _plan(spark, name)


@pytest.mark.parametrize(
    "name",
    ["domain_mixture", "decontaminate", "shard_pack", "frontier_pr_admission"],
)
def test_designed_broadcasts_present(spark, name):
    """The small side (rates / eval grams / bucket offsets / rank table)
    must broadcast — a silent fallback to SortMergeJoin would reshuffle the
    corpus-sized side at scale."""
    assert "BroadcastHashJoin" in _plan(spark, name)


def test_column_pruning_reaches_the_scan(spark):
    """corpus_split needs only (doc_id, n_chars): the parquet scan must not
    read the text column (at 100 TB that is most of the bytes)."""
    p = _plan(spark, "corpus_split")
    scan = [l for l in p.splitlines() if "ReadSchema" in l]
    assert scan and all("text" not in l for l in scan)


def test_admission_window_partitions_by_host(spark):
    """The politeness window must partition by host — an un-partitioned
    window here would be a single-task global sort."""
    p = _plan(spark, "f2_admission_salted")
    assert "Window" in p
    # the window's partition spec must reference the host column
    win_lines = [l for l in p.splitlines() if "Arguments" in l and "row_number" in l]
    assert win_lines and any("host" in l for l in win_lines)


def test_doc_chunks_plan_has_no_exchange(spark):
    """Chunking is a narrow map + explode: ANY exchange in this plan means a
    regression introduced a shuffle into a zero-shuffle operator (the spread()
    round-robin on a single-file local read is the one allowed exchange)."""
    p = _plan(spark, "doc_chunks")
    # allow only the spread() REPARTITION_BY_NUM exchange, nothing hash/range
    bad = [
        l for l in p.splitlines()
        if "Arguments: hashpartitioning" in l or "rangepartitioning" in l
    ]
    assert not bad, bad


def test_asof_join_single_key_shuffle(spark):
    """The as-of join must stay ONE key-partitioned window: exactly one hash
    exchange on the join key, no nested-loop join, no range exchange (a
    global sort would mean the window lost its partition spec)."""
    p = _plan(spark, "events_asof")
    assert "NestedLoop" not in p and "Cartesian" not in p
    hashex = [
        l for l in p.splitlines()
        if "Arguments: hashpartitioning" in l
    ]
    assert len(hashex) == 1 and "user_id" in hashex[0], hashex
    assert "rangepartitioning" not in p


def test_range_join_is_equi_join_plus_filter(spark):
    """The bucketized range join must plan as an equi-join (hash or
    sort-merge) — never BroadcastNestedLoopJoin/cartesian, which is what a
    raw interval theta join degenerates to."""
    p = _plan(spark, "events_range_join")
    assert "NestedLoop" not in p and "Cartesian" not in p


def test_pq_adc_lut_broadcasts(spark):
    """The ADC partial-dot LUT is |q| x m x |codebook| rows and must
    broadcast; falling back to a shuffle join would reshuffle the code
    table (corpus-sized at 10^10 vectors)."""
    p = _plan(spark, "embed_pq_adc")
    assert "BroadcastHashJoin" in p


def test_sketch_cms_single_aggregation_shape(spark):
    """The CMS build must be explode -> partial agg -> ONE exchange on
    (lane, bucket): the whole point is that only d x w counters shuffle."""
    p = _plan(spark, "sketch_cms")
    hashex = [
        l for l in p.splitlines()
        if "Arguments: hashpartitioning" in l
    ]
    # the load-bearing invariant: exactly ONE shuffle carries the sketch
    # build's (lane, bucket) grouping keys (shown as _groupingexpression
    # aliases) — i.e. only the d x w counters shuffle, with map-side
    # combine below it. The tiny estimate-side join/groupBy may plan as
    # broadcast or shuffle depending on ambient session state (observed
    # order-dependent in the full suite), so its exchanges are not pinned.
    assert sum("_groupingexpression" in l for l in hashex) == 1, hashex
    assert len(hashex) <= 4, hashex
    assert "partial_count" in p or "partial_sum" in p


def test_search_snippets_plan_has_no_exchange(spark):
    """snippets() is a pure per-row map (match filter, anchor argmax, slice,
    highlight are all array built-ins over the row's own tokens) — its plan
    must stay shuffle-free apart from the explicit spread() repartition of a
    single-file local scan, which is a RoundRobin exchange, never a hash
    one. Zero hash exchanges == zero data-keyed shuffles at 100 TB."""
    p = _plan(spark, "search_snippets")
    assert "hashpartitioning" not in p.lower()
    assert "CartesianProduct" not in p


@pytest.mark.parametrize("queue_rows", [None, 3], ids=["left_join", "broadcast"])
@pytest.mark.parametrize("rules", [False, True], ids=["rules_less", "content_rules"])
def test_docs_plan_has_one_parse_and_no_window(spark, rules, queue_rows):
    """process_queue assembles docs in one plan: one MapInPandas parse stage
    feeds one conditional projection, on either fetch side. DUPLICATE losers
    come from a slim eager job and join back as a checkpointed table, so no
    Window over the full parse payload is left in the docs plan."""
    import re

    from webcrawler_spark.config import CrawlConfig
    from webcrawler_spark.rounds import process_queue

    pages = spark.createDataFrame(
        [(u, bytearray(b"<p>same words</p>")) for u in ("https://a.com/x", "https://a.com/y")],
        "url string, html binary",
    )
    queue = spark.createDataFrame(
        [("https://a.com/x", 0), ("https://a.com/y", 1), ("https://a.com/gone", 2)],
        "url string, pos long",
    )
    rules_cfg = {"minCharacter": 0, "tagName": "p"} if rules else None
    cfg = CrawlConfig(max_depth=1, content_rules=rules_cfg)
    docs = process_queue(spark, queue, pages, cfg, queue_rows=queue_rows)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = docs._jdf.queryExecution().explainString(mode)
    ops = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    assert ops.count("MapInPandas") == 1, ops
    assert not [op for op in ops if op.startswith("Window")], ops
    exp = {"OK", "ERROR_FETCH"} | ({"DUPLICATE"} if rules else set())
    assert {r["status"] for r in docs.collect()} == exp


def test_content_gate_filter_sits_below_the_parse_stage(spark):
    """The content gate's whole point at 100 TB: disallowed-type / oversize
    rows must be filtered out BEFORE rows cross into the Python parse stage
    (no Arrow transfer, no decode for skipped bytes). Pin it structurally:
    in the formatted plan of a gated process_queue, the content-type/length
    Filter appears strictly below (= printed after, deeper in the tree than)
    the MapInPandas/ArrowEvalPython node feeding doc assembly."""
    from webcrawler_spark.config import CrawlConfig
    from webcrawler_spark.rounds import process_queue

    pages = spark.createDataFrame(
        [("https://a.com/x", bytearray(b"<p>hello</p>"), "text/html")],
        "url string, html binary, content_type string",
    )
    queue = spark.createDataFrame([("https://a.com/x", 0)], "url string, pos long")
    cfg = CrawlConfig(
        max_depth=1,
        content_rules={"minCharacter": 0, "tagName": "p"},
        allowed_content_types=["text/html"],
        max_content_bytes=1000,
    )
    docs = process_queue(spark, queue, pages, cfg)
    jdf = docs._jdf
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = jdf.queryExecution().explainString(mode)
    assert "MapInPandas" in plan

    # Walk the real tree. The formatted header is an indented diagram with
    # one "(id)" per node; the detail sections below carry per-node Input
    # columns and "Reuses operator id: N" links for ReusedExchange. Two
    # invariants, robust to Catalyst's exchange-reuse dedup of identical
    # parse branches (reuse collapses a branch's subtree into a pointer, so
    # counting one filter per branch is NOT plan-stable):
    #   1. every MapInPandas has a gate Filter (condition touches
    #      content_type) among its descendants, following reuse links;
    #   2. no gate Filter is an ancestor of a MapInPandas (the gate never
    #      runs on parse OUTPUT — skipped bytes must not cross into Python).
    import re

    header, *rest = plan.split("\n\n")
    detail = "\n\n".join(rest)
    sections = re.split(r"\n(?=\(\d+\) )", detail)
    ops, gate_filters, reuses = {}, set(), {}
    for s in sections:
        m = re.match(r"\((\d+)\) (\w+)", s)
        if not m:
            continue
        nid, op = int(m.group(1)), m.group(2)
        ops[nid] = op
        if op == "MapInPandas":
            # the parse stage must never even SEE the gate columns
            inp = re.search(r"Input \[[^\]]*\]: \[[^\]]*\]", s)
            assert inp and "content_type" not in inp.group(0), s
        if op == "Filter" and "content_type" in s:
            gate_filters.add(nid)
        r = re.search(r"Reuses operator id: (\d+)", s)
        if r:
            reuses[nid] = int(r.group(1))

    # parent/child from the header diagram's indentation: a node's parent is
    # the nearest shallower-indented node above it
    children: dict = {}
    stack = []  # (indent, id)
    for line in header.splitlines():
        m = re.search(r"\((\d+)\)\s*$", line)
        if not m:
            continue
        nid = int(m.group(1))
        indent = len(line) - len(line.lstrip(" *+-:"))
        while stack and stack[-1][0] >= indent:
            stack.pop()
        if stack:
            children.setdefault(stack[-1][1], []).append(nid)
        stack.append((indent, nid))

    def descendants(nid, seen=None):
        seen = set() if seen is None else seen
        for c in children.get(nid, []) + ([reuses[nid]] if nid in reuses else []):
            if c not in seen:
                seen.add(c)
                descendants(c, seen)
        return seen

    pandas_ids = [n for n, op in ops.items() if op == "MapInPandas"]
    assert pandas_ids and gate_filters, plan
    for p in pandas_ids:
        assert gate_filters & descendants(p), (p, plan)
    for g in gate_filters:
        assert not any(ops.get(d) == "MapInPandas" for d in descendants(g)), (g, plan)
