"""Similarity operators over dirty corpora: null, wrong-length and
all-zero vectors give a defined result."""

from __future__ import annotations

import numpy as np
import pytest

from dataflow_geobeam_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
    near_dup_pairs,
)

DIM = 8
THRESHOLD = 0.9


@pytest.fixture(scope="module")
def dirty_corpus(spark):
    rng = np.random.default_rng(7)
    base = rng.standard_normal(DIM)
    rows = [(i, (base + 0.1 * rng.standard_normal(DIM)).tolist()) for i in range(6)]
    rows += [(i, rng.standard_normal(DIM).tolist()) for i in range(6, 10)]
    rows += [(10, None), (11, base.tolist()[: DIM - 1])]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.mark.parametrize("max_bucket_size", ["auto", None])
def test_dirty_corpus_fails_in_the_sketch_whatever_the_flag(dirty_corpus, max_bucket_size):
    # building the plan does not raise, with the bucket cap on or off; the
    # sketch pass rejects such vectors at run time
    df = near_dup_pairs(
        dirty_corpus, dim=DIM, threshold=THRESHOLD, corpus_n=12,
        max_bucket_size=max_bucket_size,
    )
    with pytest.raises(Exception, match="not sketchable|expected fixed dim"):
        df.collect()


def test_zero_vectors_do_not_fail_the_query(spark):
    """An all-zero vector (a mean-centred flat image) has no cosine. Under
    ANSI mode, Spark's default, dividing by its zero norm used to fail the
    whole query; now near_dup_pairs leaves its pairs out and the top-k
    operators give it a NULL cosine."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    rng = np.random.default_rng(11)
    base = rng.standard_normal(DIM)
    rows = [(0, [0.0] * DIM), (1, [0.0] * DIM)]
    rows += [(2, base.tolist()), (3, (base + 0.01 * rng.standard_normal(DIM)).tolist())]
    rows += [(i, rng.standard_normal(DIM).tolist()) for i in range(4, 10)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.where("vec_id < 4")

    pairs = near_dup_pairs(
        corpus, dim=DIM, threshold=THRESHOLD, n_planes=2, n_tables=4, corpus_n=len(rows)
    ).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(2, 3)]

    top = brute_force_topk(corpus, queries, k=3).collect()
    assert {(r.query_id, r.neighbor_id) for r in top if r.rank == 1} >= {(2, 3), (3, 2)}
    assert all(r.cosine is None for r in top if r.query_id in (0, 1))
    lsh = lsh_topk(corpus, queries, k=3, dim=DIM, n_planes=2, n_tables=4).collect()
    assert {(r.query_id, r.neighbor_id) for r in lsh if r.rank == 1} >= {(2, 3), (3, 2)}


@pytest.mark.parametrize("cap", [None, 150])
def test_buckets_straddling_arrow_batches(spark, cap):
    """The scoring pass sees a partition's sorted buckets a batch at a
    time; a bucket cut by a batch boundary still gets all of its pairs,
    and the cap still sees its whole size."""
    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((400, DIM))
    vecs[1::40] = vecs[::40] + 0.01 * rng.standard_normal((10, DIM))  # planted pairs
    corpus = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )

    def pairs():
        return sorted(
            near_dup_pairs(
                corpus, dim=DIM, threshold=THRESHOLD, n_planes=1, n_tables=2,
                max_bucket_size=cap,
            ).collect()
        )

    whole = pairs()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        cut = pairs()
    finally:
        spark.conf.set(key, old)
    assert cut == whole
    planted = {(i, i + 1) for i in range(0, 400, 40)}
    if cap is None:
        assert planted <= {(r.id_a, r.id_b) for r in whole}
    else:  # every bucket of ~200 rows is over the cap
        assert whole == []
