"""Configuration sources: the Spark launch owns Spark settings, ``CrawlConfig``
and job flags own crawl settings.

- a spark-submit launch's ``--master``/``--conf`` reach ``get_spark``'s
  session, and engine defaults fill only the keys the launch left unset;
- no engine module reads environment knobs (the one read is the driver heap
  for a plain-Python JVM launch);
- a reference-shaped WebCrawlerConfig.json loads, its HTTP/queue/index keys
  ignored;
- a config asking for robots compliance without a robots table is refused
  before any session starts.
"""

import ast
import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_PROBE = """
import json
from webcrawler_spark.session import get_spark

spark = get_spark(app_name="launch-wins")
conf = spark.conf
print(json.dumps({
    "parallelism": spark.sparkContext.defaultParallelism,
    "aqe": conf.get("spark.sql.adaptive.enabled"),
    "max_partition_bytes": conf.get("spark.sql.files.maxPartitionBytes"),
    "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
    "arrow": conf.get("spark.sql.execution.arrow.pyspark.enabled"),
}))
spark.stop()
"""


def test_spark_submit_launch_wins(tmp_path):
    script = tmp_path / "probe.py"
    script.write_text(_PROBE)
    env = dict(os.environ, PYTHONPATH=str(REPO), PYSPARK_PYTHON=sys.executable)
    r = subprocess.run(
        [
            "spark-submit", "--master", "local[2]",
            "--conf", "spark.sql.adaptive.enabled=false",
            "--conf", "spark.sql.files.maxPartitionBytes=32m",
            str(script),
        ],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    got = json.loads(next(l for l in r.stdout.splitlines() if l.startswith("{")))
    assert got == {
        "parallelism": 2,
        "aqe": "false",
        "max_partition_bytes": "32m",
        "shuffle_partitions": "24",  # max(3 x 2 cores, 24)
        "arrow": "true",  # unset by the launch: engine default
    }


_ENV_NAMES = ("environ", "environb", "getenv", "getenvb")


def _literal(node):
    return node.value if isinstance(node, ast.Constant) else None


def _env_reads(path: Path):
    """(line, key) for every os.environ / os.getenv use in a module; key is
    the literal name read by ``.get(k)``, ``getenv(k)`` or ``[k]``, else None."""
    tree = ast.parse(path.read_text(), str(path))
    parent = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "os":
            out += [(node.lineno, None) for a in node.names if a.name in _ENV_NAMES]
        if not (
            isinstance(node, ast.Attribute) and node.attr in _ENV_NAMES
            and isinstance(node.value, ast.Name) and node.value.id == "os"
        ):
            continue
        up, key = parent.get(node), None
        if isinstance(up, ast.Subscript):
            key = _literal(up.slice)
        elif isinstance(up, ast.Attribute) and up.attr == "get":
            up = parent.get(up)
        if isinstance(up, ast.Call) and up.args:
            key = _literal(up.args[0])
        out.append((node.lineno, key))
    return out


def test_engine_reads_no_env_knobs():
    pkg = REPO / "webcrawler_spark"
    reads = {
        (str(p.relative_to(pkg)), line, key)
        for p in sorted(pkg.rglob("*.py"))
        for line, key in _env_reads(p)
    }
    allowed = {r for r in reads if r[0] == "session.py" and r[2] == "SPARK_DRIVER_MEM"}
    assert len(allowed) == 1, reads
    assert reads == allowed, f"environment knobs in the engine: {sorted(reads - allowed)}"


def test_env_lint_sees_every_read_shape(tmp_path):
    mod = tmp_path / "m.py"
    mod.write_text(
        "import os\nfrom os import getenv\n"
        "a = os.environ.get('A', '1')\nb = os.getenv('B')\n"
        "c = os.environ['C']\nd = dict(os.environ)\n"
    )
    assert sorted(_env_reads(mod), key=str) == sorted(
        [(2, None), (3, "A"), (4, "B"), (5, "C"), (6, None)], key=str
    )


def test_crawl_job_refuses_obey_robots_without_table(tmp_path):
    """``obeyRobotsTxt: true`` with no ``--robots`` exits non-zero naming the
    flag, before ``get_spark``: JAVA_HOME points nowhere, so a session start
    would fail with a gateway error instead of this message."""
    cfg = tmp_path / "crawl.json"
    cfg.write_text(json.dumps({"obeyRobotsTxt": True, "maxDepth": 0}))
    env = dict(os.environ, JAVA_HOME=str(tmp_path / "no-java"))
    r = subprocess.run(
        [
            sys.executable, str(REPO / "jobs" / "crawl.py"),
            "--pages", str(tmp_path / "pages.parquet"),
            "--entry", "https://h.example.com/", "--state-dir", str(tmp_path / "state"),
            "--config", str(cfg),
        ],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode != 0
    assert "obeyRobotsTxt" in r.stderr and "--robots" in r.stderr, r.stderr[-3000:]
    assert "JAVA_GATEWAY" not in r.stderr and r.stdout == ""
    assert not (tmp_path / "state").exists()


def test_reference_shaped_config_loads():
    from webcrawler_spark.config import CrawlConfig
    from webcrawler_spark.kernel.filters import compile_patterns, is_accepted
    from webcrawler_spark.kernel.rules import MinCharacterRule, TagNameRule

    cfg = CrawlConfig.from_dict({
        "maxDepth": 3,
        "includeUrlPatterns": ["example\\.com"],
        "excludeUrlPatterns": ["\\.pdf$"],
        "userAgent": "RefCrawler/1.0",
        "requestTimeoutMs": 5000,
        "queueNamespace": "crawler-q",
        "indexPrefix": "crawl",
        "contentRules": {"minCharacter": 40},
        "pages": [{
            "urlPattern": "https://example\\.com/blog/.*",
            "matchAll": True,
            "contentRules": {"tagName": "article"},
        }],
    })
    assert cfg.max_depth == 3
    inc, exc = (compile_patterns(cfg.include_url_patterns),
                compile_patterns(cfg.exclude_url_patterns))
    assert is_accepted("https://example.com/a", inc, exc)
    assert not is_accepted("https://example.com/a.pdf", inc, exc)
    assert not is_accepted("https://other.org/a", inc, exc)
    assert cfg.get_content_rules("https://example.com/blog/x") == [TagNameRule("article")]
    assert cfg.match_all_by_url("https://example.com/blog/x")
    assert cfg.get_content_rules("https://example.com/about") == [MinCharacterRule(40)]
    assert not cfg.match_all_by_url("https://example.com/about")
