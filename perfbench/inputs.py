"""Benchmark inputs and expectations.

Everything here runs before any timed section and is cached under
``.perfbench/cache/<source digest>/`` in the checkout:

- the corpus, made once by ``jobs/gen_corpus.py`` (spark-submit);
- per (workload, seed): the seed list and the sequential oracle's expectation.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile
from collections import Counter, defaultdict
from pathlib import Path

from workloads import CORPUS, Workload

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
CRAWL_JOB = ROOT / "jobs" / "crawl.py"
GEN_JOB = ROOT / "jobs" / "gen_corpus.py"
ENGINE = ROOT / "webcrawler_spark"

# docs columns compared against the oracle (the set tests/test_spark_crawl.py
# compares, plus queue position); contents/out_links count for OK docs only
DOC_FIELDS = (
    "id", "domain", "status", "title", "content_length", "hash",
    "http_status", "fetch_duration_ms", "crawl_depth", "pos",
)


def require_program() -> None:
    """Exit unless the checkout holds the program; make it importable."""
    missing = [p for p in (CRAWL_JOB, GEN_JOB, ENGINE / "oracle.py") if not p.exists()]
    if missing:
        raise SystemExit(f"perfbench: program files missing: {[str(p) for p in missing]}")
    sys.path.insert(0, str(ROOT))


def cpus() -> list[int]:
    return sorted(os.sched_getaffinity(0))


def source_digest() -> str:
    """Digest of the engine and job sources: the cache key, and the record of
    what ran when the checkout is not a git repository."""
    h = hashlib.sha256()
    for p in sorted([*ENGINE.rglob("*.py"), *(ROOT / "jobs").glob("*.py")]):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def git_revision() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def cache_dir() -> Path:
    d = WORK / "cache" / source_digest()[:16]
    d.mkdir(parents=True, exist_ok=True)
    return d


def spark_env(scratch: Path) -> dict:
    """Environment for a Spark process: all cores of this process's affinity
    set, and every scratch write (shuffle, spill, temp) inside the checkout."""
    for sub in ("spark-local", "tmp"):
        (scratch / sub).mkdir(parents=True, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.pop("SPARK_DRIVER_MEM", None)
    env.pop("PYTHONPATH", None)
    env.update(
        SPARK_GRAFT_CPUS=str(len(cpus())),
        SPARK_GRAFT_LOCAL_DIR=str(scratch / "spark-local"),
        SPARK_LOCAL_DIRS=str(scratch / "spark-local"),
        TMPDIR=str(scratch / "tmp"),
        PYTHONDONTWRITEBYTECODE="1",
        # every JVM (launcher and driver): temp files in the checkout, and no
        # hsperfdata file under /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={scratch / 'tmp'} -XX:-UsePerfData",
    )
    return env


def submit_cmd(engine_zip: Path, script: Path, *args: str) -> list[str]:
    """spark-submit pinned to this process's CPUs with local[nproc]."""
    cpu_list = ",".join(map(str, cpus()))
    return [
        "taskset", "-c", cpu_list,
        "spark-submit", "--master", f"local[{len(cpus())}]",
        "--py-files", str(engine_zip),
        str(script), *args,
    ]


def engine_zip(cache: Path) -> Path:
    z = cache / "engine.zip"
    if not z.exists():
        tmp = cache / f"engine.zip.{os.getpid()}"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for p in sorted(ENGINE.rglob("*.py")):
                zf.write(p, p.relative_to(ROOT))
        os.replace(tmp, z)
    return z


def build_corpus(cache: Path, spec: dict = CORPUS) -> Path:
    out = cache / f"corpus-{spec['n_hosts']}-{spec['n_pages']}-{spec['gen_seed']}"
    if (out / "pages").exists():
        return out
    tmp = cache / f"{out.name}.tmp{os.getpid()}"
    scratch = cache / f"scratch{os.getpid()}"
    cmd = submit_cmd(
        engine_zip(cache), GEN_JOB, "--out", str(tmp),
        "--n-hosts", str(spec["n_hosts"]), "--n-pages", str(spec["n_pages"]),
        "--seed", str(spec["gen_seed"]),
    )
    try:
        r = subprocess.run(cmd, cwd=scratch, env=spark_env(scratch),
                           capture_output=True, text=True, timeout=900)
        if r.returncode != 0:
            raise SystemExit(f"perfbench: corpus generation failed:\n{r.stderr[-4000:]}")
        os.replace(tmp, out)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def read_pages(corpus: Path, columns=("url", "html", "http_status", "fetch_ms")) -> dict:
    import pyarrow.parquet as pq

    return pq.read_table(corpus / "pages", columns=list(columns)).to_pydict()


def host_alloc(urls: list[str]) -> list[int]:
    """Pages per host index, from the pages table itself."""
    counts = Counter(int(u.split("/")[2][4:].split(".")[0]) for u in urls)
    return [counts.get(h, 0) for h in range(max(counts) + 1)]


# ---------------------------------------------------------------------------
# per (workload, seed): seed list, config file, oracle expectation
# ---------------------------------------------------------------------------

def doc_hash(doc: dict) -> str:
    ok = doc["status"] == "OK"
    row = [doc[f] for f in DOC_FIELDS] + [
        list(doc["contents"] or []) if ok else None,
        list(doc["out_links"] or []) if ok else None,
    ]
    return hashlib.sha256(json.dumps(row, separators=(",", ":")).encode()).hexdigest()


def docs_digest(hashes) -> str:
    return hashlib.sha256("".join(sorted(hashes)).encode()).hexdigest()


def _harvest(oracle, cfg, url: str, html: str | None) -> list:
    """Accepted, normalized links of one traversed page (the round harvest),
    first occurrence in document order."""
    from webcrawler_spark.kernel.filters import compile_patterns, is_accepted

    if html is None or oracle.gate_status_oracle(html, None, cfg):
        return []
    try:
        links = oracle.extract_page(html, url).links
    except Exception:  # ERROR_PARSE: the page harvests nothing
        return []
    inc = compile_patterns(cfg.include_url_patterns)
    exc = compile_patterns(cfg.exclude_url_patterns)
    out = {}
    for href, _ in links:
        n = oracle.normalize_url(href)
        if n is not None and is_accepted(n, inc, exc):
            out[n] = None
    return list(out)


def _replay_dedup(oracle, cfg, corpus, starts, rounds_of, robots) -> int:
    """Σ per round of |distinct harvested links already seen before the
    round|: the engine's urls_deduped."""
    seen = set(starts)
    deduped = 0
    for urls in rounds_of:
        links = set()
        for u in urls:
            if oracle._robots_blocked(u, robots) or corpus.get(u) is None:
                continue
            links.update(_harvest(oracle, cfg, u, corpus[u]))
        deduped += len(links & seen)
        seen |= links
    return deduped


def _polite_rounds(oracle, budget: int, starts: list[str]) -> list[list[str]]:
    """The urls each round of crawl_oracle_polite admits, for a crawl of its
    seeds only (max depth 0) under a plain per-host budget."""
    pending, rounds = list(starts), []
    while pending:
        counts: Counter = Counter()
        admitted, deferred = [], []
        for u in pending:
            h = oracle.domain_of(u) or ""
            counts[h] += 1
            (admitted if counts[h] <= budget else deferred).append(u)
        rounds.append(admitted)
        pending = deferred
    return rounds


def prepare(w: Workload, seed: int, cache: Path, corpus: Path) -> dict:
    """Seed list, config file and oracle expectation for (workload, seed)."""
    tag = f"{w.name}-{w.key()}-{corpus.name}-{seed}"
    path = cache / f"expect-{tag}.json"
    if path.exists():
        return json.loads(path.read_text())
    import pyarrow as pa
    import pyarrow.parquet as pq
    from webcrawler_spark.config import CrawlConfig

    pages = read_pages(corpus)
    entries = w.entries(host_alloc(pages["url"]), seed)
    seeds_path = cache / f"seeds-{tag}.parquet"
    pq.write_table(
        pa.table({"seed_id": pa.array(range(len(entries)), pa.int64()), "url": entries}),
        seeds_path,
    )
    config_path = cache / f"config-{tag}.json"
    config_path.write_text(json.dumps(w.config))
    cfg = CrawlConfig.from_dict(w.config)
    cfg.max_depth = w.max_depth
    cfg.per_host_budget = w.per_host_budget(entries)

    html = {u: h.decode("utf-8", errors="replace") for u, h in zip(pages["url"], pages["html"])}
    meta = {u: (s, f) for u, s, f in zip(pages["url"], pages["http_status"], pages["fetch_ms"])}
    robots = None
    if w.polite:
        rb = pq.read_table(corpus / "robots.parquet", columns=["host", "disallow"]).to_pydict()
        robots = dict(zip(rb["host"], rb["disallow"]))
    import webcrawler_spark.oracle as oracle

    starts = list(dict.fromkeys(
        n for n in map(oracle.normalize_url, entries) if n is not None
    ))
    if w.polite:
        res = oracle.crawl_oracle_polite(html, entries, cfg, robots=robots, meta=meta)
        rounds_of = _polite_rounds(oracle, cfg.per_host_budget, starts)
        if [len(r) for r in rounds_of] != res.admitted_per_round:
            raise SystemExit("perfbench: admission replay disagrees with the oracle")
        n_rounds = res.rounds
    else:
        res = oracle.crawl_oracle(html, entries, cfg, meta=meta)
        by_depth = defaultdict(list)
        for u, (d, r) in sorted(res.dequeue_ranks.items(), key=lambda kv: kv[1]):
            by_depth[d].append(u)
        rounds_of = [by_depth[d] for d in sorted(by_depth)]
        n_rounds = len(rounds_of)
    deduped = _replay_dedup(oracle, cfg, html, starts, rounds_of, robots)
    pos = {u: i for i, u in enumerate(res.queue_order)}
    hashes = {}
    for d in res.docs:
        hashes[d["url"]] = doc_hash({**d, "pos": pos[d["url"]]})
    status = Counter(d["status"] for d in res.docs)
    expect = {
        "workload": w.name,
        "key": w.key(),
        "seed": seed,
        "seeds_path": str(seeds_path),
        "config_path": str(config_path),
        "max_depth": w.max_depth,
        "per_host_budget": cfg.per_host_budget,
        "rounds": n_rounds,
        "urls_enqueued": len(res.queue_order),
        "urls_deduped": deduped,
        "docs": len(res.docs),
        "status": dict(sorted(status.items())),
        "digest": docs_digest(hashes.values()),
        "doc_hashes": hashes,
    }
    tmp = path.with_suffix(f".{os.getpid()}")
    tmp.write_text(json.dumps(expect))
    os.replace(tmp, path)
    return expect


def crawl_args(expect: dict, corpus: Path, state_dir: Path) -> list[str]:
    """jobs/crawl.py flags for one prepared (workload, seed)."""
    args = [
        "--pages", str(corpus / "pages"),
        "--entry", "@" + expect["seeds_path"],
        "--state-dir", str(state_dir),
        "--max-depth", str(expect["max_depth"]),
        "--config", expect["config_path"],
    ]
    if expect["per_host_budget"] is not None:
        args += ["--per-host-budget", str(expect["per_host_budget"]),
                 "--robots", str(corpus / "robots.parquet")]
    return args
