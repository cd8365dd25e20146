"""Local replica of the driver's correctness gate: run every queries()[name]
on Spark and its oracle_sql()[name] on DuckDB at a given sf, compare
row-count + column names + order-insensitive values. Run:

    python tools/check_queries.py [sf_dir] [name ...]
"""

from __future__ import annotations

import math
import sys
import time

import duckdb

sys.path.insert(0, ".")


def _canon(v):
    # FULL-precision float canon (repr = shortest round-trip string): a
    # query only passes if both engines produce the bit-identical double.
    # This is deliberately at least as strict as the driver's hash — the
    # repo's determinism conventions (decimal partials, pure-function
    # salts, unique tie-breaks) exist so queries survive exactly this.
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from blog_parser_spark.session import get_spark
    from blog_parser_spark.sources.io import TABLES

    qs, osql = e.queries(), e.oracle_sql()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown queries: {', '.join(unknown)} ({len(qs)} registered)")
        return 1

    spark = get_spark("check-queries")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    failures = []
    n_run = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_run += 1
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            scols = df.columns
            srows = [tuple(r) for r in df.collect()]
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {ex}")
            continue
        if name not in osql:
            print(f"ok?   {name}: rows={len(srows)} (rows-only, no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            rel = con.sql(osql[name])
            dcols = rel.columns
            drows = rel.fetchall()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {ex}")
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns {sorted(scols)} != {sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} != {len(drows)}")
        if not problems:
            a, b = _rowset(scols, srows), _rowset(dcols, drows)
            if a != b:
                diff = next((i for i, (x, y) in enumerate(zip(a, b)) if x != y), -1)
                problems.append(
                    f"values differ (first diff at sorted idx {diff}):\n"
                    f"    spark: {a[diff] if 0 <= diff < len(a) else '<none>'}\n"
                    f"    duck : {b[diff] if 0 <= diff < len(b) else '<none>'}")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: " + "; ".join(problems))
        else:
            print(f"PASS  {name}: rows={len(srows)} [{time.time()-t0:.1f}s]")

    print(f"\n{n_run - len(failures)}/{n_run} ok "
          f"({len(qs)} registered); failures: {failures or 'none'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
