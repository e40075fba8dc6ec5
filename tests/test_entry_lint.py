"""Driver-contract lint (VERDICT r4 missing #2): the driver's correctness
canonicalizer cannot hash array/map/struct output cells (pandas sort_values
raises ``TypeError: unhashable type``), so no registry query may emit one.
tools/check_entry.py enforces this; these tests pin the lint AND sweep the
real registry's declared window so the class of window-burn cannot recur."""

import pyspark.sql.functions as F

from tools.check_entry import nested_output_columns


def test_lint_catches_array_map_struct_outputs(spark):
    df = spark.range(3).select(
        F.col("id"),
        F.array(F.lit(1), F.lit(2)).alias("arr"),
        F.create_map(F.lit("k"), F.lit(1)).alias("mp"),
        F.struct(F.lit(1).alias("a")).alias("st"),
    )
    nested = nested_output_columns(df.toArrow().schema)
    assert set(nested) == {"arr", "mp", "st"}


def test_lint_catches_large_and_fixed_size_lists():
    """Every Arrow list flavour is nested, not only the plain ``list``."""
    import pyarrow as pa

    schema = pa.schema(
        [
            ("id", pa.int64()),
            ("big", pa.large_list(pa.int64())),
            ("fixed", pa.list_(pa.int64(), 3)),
        ]
    )
    assert set(nested_output_columns(schema)) == {"big", "fixed"}


def test_lint_passes_serialized_outputs(spark):
    df = spark.range(3).select(
        F.col("id"),
        F.array_join(
            F.transform(F.array(F.lit(1), F.lit(2)), lambda v: v.cast("string")),
            ",",
        ).alias("arr_str"),
    )
    assert nested_output_columns(df.toArrow().schema) == {}


def test_registry_window_queries_emit_no_nested_columns(spark):
    """The three r4 burns (winnow_fingerprints / multimodal_features /
    robots_parse) are string-serialized now; verify their real output
    schemas — and by extension the fix — against the lint, on the smallest
    testdata SF (schema only needs one pass)."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    for name in ("winnow_fingerprints", "multimodal_features", "robots_parse"):
        sdf = qs[name](spark, "/root/testdata/sf0.001")
        # schema-level check: no action/collect needed beyond Arrow schema
        nested = {
            f.name
            for f in sdf.schema.fields
            if f.dataType.typeName() in ("array", "map", "struct")
        }
        assert nested == set(), f"{name} emits driver-unhashable columns {nested}"


def test_registry_oracle_and_window_keys_agree():
    """Every query has exactly one DuckDB twin and every driver-window key
    names a registered query, so deleting a query cannot leave an orphan
    oracle or window entry behind. Pure Python: no session, no data."""
    import __spark_entry__ as entry_mod

    registry = entry_mod._query_registry()
    missing = [k for k in entry_mod._DRIVER_WINDOW_R5 if k not in registry]
    assert missing == [], f"driver window names unregistered queries {missing}"
    assert set(entry_mod.queries()) == set(registry) == set(entry_mod.oracle_sql())


# Public engine definitions that no program file calls, kept on purpose.
_UNCALLED_ALLOWED = {
    "write_parquet": "the corpus writer; tests/conftest.py writes its test corpora with it",
    "reset": "storage.reset is the only implementation of queue reset (SURVEY §2.1 F4)",
    "search_topk_snippets": "SURVEY §2.10 build-brief search surface",
    "read_warc_files": "SURVEY §2.10 build-brief WARC reader",
    "warc_to_pages": "SURVEY §2.10 build-brief WARC-to-pages projection",
}


def _program_files(repo):
    dirs = ("webcrawler_spark", "jobs", "tools", "perfbench")
    files = [p for d in dirs for p in sorted((repo / d).rglob("*.py"))]
    files += [repo / "bench.py", repo / "__spark_entry__.py"]
    return [p for p in files if not p.name.startswith("test_") and p.name != "conftest.py"]


def _references(path):
    """Name tokens of a module, strings and comments dropped, minus the name
    of each ``def``/``class`` statement (a definition is not a use)."""
    import io
    import tokenize

    refs, prev = [], None
    for tok in tokenize.generate_tokens(io.StringIO(path.read_text()).readline):
        if tok.type == tokenize.NAME and prev not in ("def", "class"):
            refs.append(tok.string)
        if tok.type not in (tokenize.NL, tokenize.NEWLINE, tokenize.COMMENT):
            prev = tok.string
    return refs


def test_every_public_engine_definition_has_a_caller():
    """Each public module-level def/class in ``webcrawler_spark/`` is named by
    some program file (not a test); the only exceptions are listed above with
    their reason, and each of those must still be uncalled."""
    import ast
    from collections import Counter
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    used = Counter(n for p in _program_files(repo) for n in _references(p))
    uncalled = set()
    for p in sorted((repo / "webcrawler_spark").rglob("*.py")):
        for node in ast.parse(p.read_text()).body:
            kinds = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            if isinstance(node, kinds) and not node.name.startswith("_"):
                if not used[node.name]:
                    uncalled.add(f"{p.relative_to(repo)}:{node.name}")
    dead = sorted(u for u in uncalled if u.split(":")[1] not in _UNCALLED_ALLOWED)
    assert dead == [], f"engine definitions only tests call: {dead}"
    assert {u.split(":")[1] for u in uncalled} == set(_UNCALLED_ALLOWED)
