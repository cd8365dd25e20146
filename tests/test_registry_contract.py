"""Driver-contract invariants: the correctness gate runs exactly the
first 50 registered queries, so the pinned DRIVER_WINDOW must stay a
50-name list of real, oracle-bearing queries and must actually lead
the export order — a typo or a rename would otherwise silently rotate
a headline query out of the gate (the r2 regression)."""

from __future__ import annotations

import os
import subprocess
import sys

import duckdb

from blog_parser_spark.sources.io import TABLES
from tests.conftest import SF_DIR


def test_driver_window_is_50_oracle_bearing_real_queries():
    import __spark_entry__ as e
    from blog_parser_spark.plans.registry import DRIVER_WINDOW
    qs, osql = e.queries(), e.oracle_sql()
    assert len(DRIVER_WINDOW) == 50
    assert len(set(DRIVER_WINDOW)) == 50
    missing = [n for n in DRIVER_WINDOW if n not in qs]
    assert missing == [], f"window names not in registry: {missing}"
    no_oracle = [n for n in DRIVER_WINDOW if n not in osql]
    assert no_oracle == [], f"window spends slots on no-oracle rows: {no_oracle}"
    assert list(qs)[:50] == DRIVER_WINDOW  # the window actually leads


def test_round5_window_rotates_to_never_driver_green_queries():
    """Rotation invariant: every slot goes to a query with NO recorded
    driver-GREEN row (r1-r4), so lifetime driver-green coverage strictly
    grows instead of re-proving recorded history. A query whose only
    recorded rows are red (r4's search_inverted_index) may — must, per
    the r4 verdict — re-enter the window to earn its green row."""
    import json
    from pathlib import Path

    from blog_parser_spark.plans.registry import DRIVER_WINDOW
    root = Path(__file__).resolve().parents[1]
    green: set[str] = set()
    for p in sorted(root.glob("CORRECTNESS_r0[1234].json")):
        for name, row in json.loads(p.read_text()).items():
            if row.get("err") is None and row.get("rows_match") \
                    and row.get("schema_match") and row.get("hash_match"):
                green.add(name)
    if not green:  # fresh checkout without driver artifacts
        return
    overlap = [n for n in DRIVER_WINDOW if n in green]
    assert overlap == [], f"window re-spends slots on driver-green history: {overlap}"


def test_no_decimal_output_columns_in_any_oracle():
    """CLAUDE.md convention: decimals are internal partials ONLY — a
    DECIMAL-typed OUTPUT column hits the driver harness's decimal
    canonicalization (the r2 project_basic red row). Exact check: bind
    every oracle in DuckDB and inspect the result column types (binding
    plans but does not execute)."""
    import __spark_entry__ as e
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")
    bad = []
    for name, sql in e.oracle_sql().items():
        rel = con.sql(sql)
        for col, typ in zip(rel.columns, rel.types):
            ts = str(typ).upper()
            # HUGEINT (DuckDB's SUM-of-BIGINT result) is the same harness
            # canonicalization hazard as DECIMAL — always CAST ... AS BIGINT.
            if "DECIMAL" in ts or "HUGEINT" in ts:
                bad.append((name, col, str(typ)))
    assert bad == [], f"decimal/hugeint-typed output columns: {bad}"


def test_no_nested_output_columns_in_any_oracle():
    """CLAUDE.md convention (the r4 search_inverted_index red row): an
    oracle-bearing query must emit SCALAR columns only — the driver
    harness canonicalizes results with a pandas sort over all output
    columns, and a list/map/struct cell raises `unhashable type`.
    Collections serialize to strings at the contract boundary (sorted,
    elements cast to string, array_to_string/concat_ws with ',' on both
    sides, as search_inverted_index does). Exact
    check: bind every oracle in DuckDB and reject LIST/MAP/STRUCT/ARRAY
    result types (binding plans but does not execute)."""
    import __spark_entry__ as e
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")
    bad = []
    for name, sql in e.oracle_sql().items():
        rel = con.sql(sql)
        for col, typ in zip(rel.columns, rel.types):
            ts = str(typ).upper()
            if "[]" in ts or ts.startswith(("STRUCT", "MAP", "UNION")) \
                    or "LIST" in ts:
                bad.append((name, col, str(typ)))
    assert bad == [], f"nested-typed output columns: {bad}"


def test_every_fixture_table_is_read_by_some_oracle():
    """The local gate and the contract tests create one DuckDB view per
    TABLES entry; a table that no oracle reads is fixture weight with no
    query behind it. DuckDB's parser names the tables each oracle reads
    (CTE names excluded)."""
    import __spark_entry__ as e
    read: set[str] = set()
    for sql in e.oracle_sql().values():
        read |= duckdb.get_table_names(sql)
    unread = [t for t in TABLES if t not in read]
    assert unread == [], f"fixture tables no oracle reads: {unread}"


def test_bench_registry_legs_are_registered():
    """bench.py times REGISTRY_LEGS by name each round; a leg whose query
    left the registry would raise KeyError mid-bench."""
    import __spark_entry__ as e
    import bench
    qs = e.queries()
    missing = [n for n in bench.REGISTRY_LEGS if n not in qs]
    assert missing == [], f"bench legs not in registry: {missing}"


def test_driver_window_spark_schemas_are_scalar_only(spark):
    """The Spark side of the same guard, for the 50 queries the driver
    will actually run this round: build each plan at the test SF and
    walk the result schema — no ArrayType/MapType/StructType column may
    reach the driver harness."""
    from pyspark.sql import types as T

    import __spark_entry__ as e
    from blog_parser_spark.plans.registry import DRIVER_WINDOW
    qs = e.queries()
    bad = []
    for name in DRIVER_WINDOW:
        df = qs[name](spark, SF_DIR)
        for f in df.schema.fields:
            if isinstance(f.dataType,
                          (T.ArrayType, T.MapType, T.StructType)):
                bad.append((name, f.name, f.dataType.simpleString()))
    assert bad == [], f"nested-typed Spark output columns: {bad}"


def test_check_queries_rejects_unknown_query_names():
    """A stale name on the local gate's command line must fail loudly
    before Spark starts, not report `0/0 ok`."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, "tools/check_queries.py", SF_DIR, "no_such_query"],
        cwd=root, capture_output=True, text=True, timeout=120)
    assert r.returncode != 0
    assert "no_such_query" in r.stdout + r.stderr
