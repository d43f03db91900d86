"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB (same parquet tables), compares row count,
sorted column names, and an order-insensitive value multiset. A query that
raises is reported as ``ERROR <ExceptionClass>`` and the sweep goes on; the
last lines give ``N/M queries match`` and the exit status is 1 on any
failure. Usage:

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from dataflow_geobeam_spark.session import get_spark


def norm_value(v):
    import datetime
    import math

    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return v


def multiset(rows, cols_order):
    return Counter(tuple(norm_value(r[c]) for c in cols_order) for r in rows)


def check_query(spark, con, sf_dir, name, fn, oracle):
    """Run one query on Spark (and its oracle on DuckDB); print its line and
    return (status, detail) — status "OK" when the results match."""
    t0 = time.time()
    sdf = fn(spark, sf_dir)
    srows = [r.asDict() for r in sdf.collect()]
    t_spark = time.time() - t0
    if oracle is None:
        print(f"  {name:32s} rows={len(srows):7d}  (no oracle, rows-only) {t_spark:5.1f}s")
        return ("OK", "") if srows else ("ZERO-ROWS", "zero rows")
    t0 = time.time()
    ocur = con.execute(oracle)
    ocols = [d[0] for d in ocur.description]
    orows = [dict(zip(ocols, t)) for t in ocur.fetchall()]
    t_duck = time.time() - t0
    scols = sorted(srows[0].keys()) if srows else sorted(sdf.columns)
    ocols_sorted = sorted(ocols)
    status, detail = "OK", ""
    if scols != ocols_sorted:
        status, detail = "SCHEMA-MISMATCH", f"spark={scols} duck={ocols_sorted}"
    elif len(srows) != len(orows):
        status, detail = "ROWCOUNT", f"spark={len(srows)} duck={len(orows)}"
    else:
        ms, mo = multiset(srows, scols), multiset(orows, scols)
        if ms != mo:
            diff_s = list((ms - mo).items())[:3]
            diff_o = list((mo - ms).items())[:3]
            status, detail = "VALUES", f"only-spark={diff_s} only-duck={diff_o}"
    print(
        f"  {name:32s} rows={len(srows):7d}  {status:16s} spark={t_spark:5.1f}s duck={t_duck:4.1f}s {detail[:400]}"
    )
    return status, detail


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for name in ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    names = [n for n in qs if not only or n in only]
    failures = []
    for name in names:
        try:
            status, detail = check_query(spark, con, sf_dir, name, qs[name], oracles.get(name))
        except Exception as exc:  # noqa: BLE001 - report it, go on with the next query
            status = f"ERROR {type(exc).__name__}"
            detail = (str(exc).strip().splitlines() or [""])[0]
            traceback.print_exc()
            print(f"  {name:32s} {status}: {detail[:400]}")
        if status != "OK":
            failures.append((name, detail[:2000]))
    spark.stop()
    print(f"\n{len(names) - len(failures)}/{len(names)} queries match")
    if failures:
        print(f"FAILED: {[f[0] for f in failures]}")
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
