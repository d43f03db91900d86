"""Fixture cache gates: a cached file whose layout predates the writer is
rebuilt."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from dataflow_geobeam_spark.fixtures.generate import ensure_fp_queries


def test_single_row_group_fp_queries_cache_is_rebuilt(fixture_dir, sf_dir, tmp_path):
    want = pq.read_table(ensure_fp_queries(sf_dir))
    # a fixture root whose only difference is a stale one-row-group file
    out = tmp_path / os.path.basename(fixture_dir)
    out.mkdir()
    for name in os.listdir(fixture_dir):
        if name != "fp_queries.parquet":
            os.symlink(os.path.join(fixture_dir, name), out / name)
    stale = out / "fp_queries.parquet"
    pq.write_table(pa.table({"query_id": [f"q{i}" for i in range(300)]}), stale)
    assert pq.ParquetFile(stale).metadata.num_row_groups == 1

    path = ensure_fp_queries(sf_dir, str(tmp_path))
    assert path == str(stale)
    assert pq.read_table(path).equals(want)

    # a current file (at most 256 rows here) is returned as cached
    mtime = os.stat(path).st_mtime_ns
    assert ensure_fp_queries(sf_dir, str(tmp_path)) == path
    assert os.stat(path).st_mtime_ns == mtime
