"""Smoke test of the benchmark on a tiny generated corpus.

    python3 -m pytest perfbench/test_smoke.py -m slow -q

Marked ``slow``, so the default test run skips it. Takes several minutes: one
corpus job, then per workload one spark-submit crawl and one traced crawl. The
traced crawl runs in a child process, so its Spark session, environment and
temp-dir settings stay out of the pytest process.
"""

from __future__ import annotations

import multiprocessing
import os
import sys
from concurrent.futures import ProcessPoolExecutor
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import inputs  # noqa: E402
import job  # noqa: E402
import run  # noqa: E402
import trace_run  # noqa: E402
from check import check  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

pytestmark = pytest.mark.slow

TINY = {"n_hosts": 64, "n_pages": 1500, "gen_seed": 3}


@pytest.fixture(scope="module")
def corpus():
    inputs.require_program()
    before = job.descendants(os.getpid())
    job.set_subreaper()
    try:
        cache = inputs.cache_dir()
        yield cache, inputs.build_corpus(cache, TINY)
    finally:
        job.stop_descendants(before)
        job.set_subreaper(False)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_workload(corpus, name, tmp_path, capsys):
    cache, pages = corpus
    w = WORKLOADS[name]
    expect = inputs.prepare(w, 1, cache, pages)
    good = run.crawl_job(expect, pages, cache, tmp_path / "job")
    assert good["problems"] == []

    metrics = run.e2e_metrics([good])
    run.print_table(name, metrics, run.E2E_UNITS)
    lines = capsys.readouterr().err.splitlines()
    for k, unit in run.E2E_UNITS.items():
        assert metrics[k] > 0, k
        assert any(f" {k} " in line and line.endswith(f" {unit}") for line in lines), k

    # the same output against a wrong expectation fails the check, and a
    # failed job counts against ok_ratio (1 - error rate)
    wrong = {**expect, "urls_enqueued": expect["urls_enqueued"] + 1}
    bad = {**good, "problems": check(good["summary"], tmp_path / "job" / "state", wrong)}
    assert bad["problems"]
    assert run.e2e_metrics([good, bad])["ok_ratio"] == 0.5

    spawn = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=1, mp_context=spawn) as pool:
        traced_job, ledger, units, _ = pool.submit(
            trace_run.traced, w, expect, pages, tmp_path / "traced"
        ).result()
    assert traced_job["problems"] == []
    assert set(ledger) == set(trace_run.PER_LAYER) == set(units)
    assert ledger["rounds.count"] == expect["rounds"]
    assert ledger["rounds.frontier_pages"] > 0
    assert ledger["docs.parse_per_doc"] > 0
