"""Output check: a crawl's committed state against the oracle's expectation."""

from __future__ import annotations

from collections import Counter
from pathlib import Path

from inputs import DOC_FIELDS, doc_hash, docs_digest


def read_docs(state_dir: Path) -> list[dict]:
    import pyarrow.parquet as pq

    cols = ["url", *DOC_FIELDS, "contents", "out_links"]
    files = sorted(state_dir.glob("docs/v=*/*.parquet"))
    if not files:
        return []
    return [r for f in files for r in pq.read_table(f, columns=cols).to_pylist()]


def check(summary: dict, state_dir: Path, expect: dict) -> list[str]:
    """Problems found; empty when the crawl matches the oracle."""
    problems = []
    for key in ("rounds", "urls_enqueued", "urls_deduped", "docs"):
        if summary.get(key) != expect[key]:
            problems.append(f"{key}: got {summary.get(key)}, expected {expect[key]}")
    docs = read_docs(state_dir)
    status = dict(sorted(Counter(d["status"] for d in docs).items()))
    if status != expect["status"]:
        problems.append(f"docs per status: got {status}, expected {expect['status']}")
    hashes = {d["url"]: doc_hash(d) for d in docs}
    if docs_digest(hashes.values()) != expect["digest"]:
        want = expect["doc_hashes"]
        bad = sorted(u for u in set(hashes) | set(want) if hashes.get(u) != want.get(u))
        problems.append(f"docs digest: {len(bad)} docs differ, e.g. {bad[:3]}")
    return problems
