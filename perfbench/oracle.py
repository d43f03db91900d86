"""Output checks: the repo's DuckDB oracle SQL, pointed at the benchmark's
fixtures, compared with what the engine returned."""

from __future__ import annotations

import math
from collections import Counter
from unittest import mock

import duckdb

import __spark_entry__ as entry
from dataflow_geobeam_spark.fixtures import generate


def oracle_sql(name: str, fixture_dir: str) -> str:
    """``__spark_entry__.oracle_sql()[name]`` reading ``fixture_dir``.

    ``oracle_sql()`` first materializes the goldens of every declared
    query, hours of work unrelated to this benchmark; those calls are
    stubbed out here; the inputs this benchmark's queries read are built by
    ``inputs.build_base``."""
    stubs = {
        attr: mock.DEFAULT
        for attr in dir(generate)
        if attr.startswith("ensure_golden_") or attr == "ensure_embeddings_hd"
    }
    with mock.patch.multiple(generate, **stubs):
        sql = entry.oracle_sql()[name]
    return sql.replace(entry.FIXTURES_SF01, fixture_dir)


def expected_rows(name: str, fixture_dir: str) -> Counter:
    con = duckdb.connect()
    try:
        cur = con.execute(oracle_sql(name, fixture_dir))
        cols = [d[0] for d in cur.description]
        return _multiset(cols, cur.fetchall())
    finally:
        con.close()


def arrow_rows(table) -> Counter:
    """Multiset of an engine result (a ``pyarrow.Table``)."""
    cols = table.column_names
    return _multiset(cols, zip(*(table.column(c).to_pylist() for c in cols)))


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return v


def _multiset(cols, rows) -> Counter:
    # columns compared by name, as tools/check_correctness.py does
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    names = tuple(cols[i] for i in order)
    return Counter((names, tuple(_norm(r[i]) for i in order)) for r in rows)
