"""Driver-mimic: run every __spark_entry__ query vs its DuckDB oracle.

Type-faithful since round 4 (VERDICT r3 "What's wrong #1"): the round-3
stringified-cell comparison masked DuckDB HUGEINT (`sum(BIGINT)` -> int128)
vs Spark BIGINT mismatches that the driver's hash catches. This version
compares

  1. sorted column names,
  2. row counts,
  3. per-column Arrow type KIND (int / float / decimal / string / bool /
     timestamp / date / binary / list / struct) — a decimal-vs-int kind
     mismatch is a hard FAIL even when the stringified values agree,
  4. an order-insensitive value multiset where each cell is normalized
     with its dtype intact (ints stay ints, floats repr as floats), so a
     HUGEINT->float64 pandas coercion diverges from an int64 exactly the
     way the driver's hash does.

Usage:

    python tools/check_entry.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def arrow_kind(t) -> str:
    """Collapse an Arrow type to the class the driver's hash is sensitive to."""
    import pyarrow as pa

    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return "list<" + arrow_kind(t.value_type) + ">"
    if pa.types.is_struct(t):
        return "struct"
    if pa.types.is_null(t):
        return "null"
    return str(t)


def norm_cell(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    import decimal

    if isinstance(v, decimal.Decimal):
        # Decimals stay decimals: the driver sees the type difference, so we
        # must NOT silently fold them into float/int.
        return "dec:" + str(v)
    return str(v)


def nested_output_columns(schema) -> dict:
    """Driver-contract lint (VERDICT r4 missing #2): the driver's
    canonicalizer pandas-sorts output cells and cannot hash array/map/struct
    values — any such column burns a correctness-window slot with a harness
    TypeError. Returns {column: kind} for every offending column of an
    Arrow schema; queries must serialize (array_join / to_json) instead."""
    import pyarrow as pa

    return {f.name: arrow_kind(f.type) for f in schema if pa.types.is_nested(f.type)}


def table_cells(tbl):
    """Arrow table -> list of row tuples of Python objects (type-preserving)."""
    cols = [c.to_pylist() for c in tbl.columns]
    return list(zip(*cols)) if cols else []


def rows_to_multiset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(norm_cell(r[i]) for i in idx) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from webcrawler_spark.session import get_spark

    spark = get_spark(app_name="check-entry", master="local[8]", shuffle_partitions=16)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            s_tbl = sdf.toArrow()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error {exc}")
            failures.append(name)
            continue
        spark_s = time.monotonic() - t0
        s_cols = s_tbl.column_names
        s_rows = table_cells(s_tbl)
        nested = nested_output_columns(s_tbl.schema)
        if nested:
            print(
                f"FAIL {name}: driver-unhashable output columns {nested} — "
                "project arrays/structs to strings"
            )
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(s_rows)} rows, {spark_s:.1f}s)")
            if len(s_rows) == 0:
                print(f"WARN {name}: zero rows")
            continue
        try:
            d_tbl = con.execute(oracles[name]).arrow()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {exc}")
            failures.append(name)
            continue
        d_cols = d_tbl.column_names
        d_rows = table_cells(d_tbl)
        ok = True
        if sorted(s_cols) != sorted(d_cols):
            print(f"FAIL {name}: cols spark={sorted(s_cols)} duck={sorted(d_cols)}")
            ok = False
        elif len(s_rows) != len(d_rows):
            print(f"FAIL {name}: rows spark={len(s_rows)} duck={len(d_rows)}")
            ok = False
        else:
            s_kinds = {f.name: arrow_kind(f.type) for f in s_tbl.schema}
            d_kinds = {f.name: arrow_kind(f.type) for f in d_tbl.schema}
            kind_diff = {
                c: (s_kinds[c], d_kinds[c]) for c in s_kinds if s_kinds[c] != d_kinds[c]
            }
            if kind_diff:
                print(f"FAIL {name}: type mismatch {kind_diff}")
                ok = False
            else:
                ms = rows_to_multiset(s_cols, s_rows)
                md = rows_to_multiset(d_cols, d_rows)
                if ms != md:
                    diff = [(a, b) for a, b in zip(ms, md) if a != b][:3]
                    print(f"FAIL {name}: value mismatch, first diffs {diff}")
                    ok = False
        if ok:
            print(f"PASS {name} ({len(s_rows)} rows, {spark_s:.1f}s)")
        else:
            failures.append(name)
    spark.stop()
    if failures:
        print("FAILED:", ", ".join(failures))
        return 1
    print("ALL PASS")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
