"""near_dup_pairs' numpy prefilter over dirty corpora: a null or
wrong-length vector gives the same rows with the screen on or off."""

from __future__ import annotations

import numpy as np
import pytest

from dataflow_geobeam_spark.operators.similarity import (
    PREFILTER_MARGIN,
    _exact_verify,
    _prefilter_pairs,
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


def test_prefilter_over_dirty_vectors_matches_no_screen(spark, dirty_corpus):
    ids = range(12)
    pairs = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "id_a long, id_b long"
    )
    screened = _prefilter_pairs(
        dirty_corpus, pairs, "vec_id", "embedding", DIM, THRESHOLD - PREFILTER_MARGIN
    )
    # pairs touching the null (10) or short (11) vector pass the screen
    kept = {tuple(r) for r in screened.collect()}
    assert {(a, b) for a, b in kept if b >= 10} == {(a, b) for a in ids for b in (10, 11) if a < b}
    assert len(kept) < len(ids) * (len(ids) - 1) // 2

    on = sorted(_exact_verify(dirty_corpus, screened, "vec_id", "embedding", THRESHOLD).collect())
    off = sorted(_exact_verify(dirty_corpus, pairs, "vec_id", "embedding", THRESHOLD).collect())
    assert on == off and len(on) > 0
    assert all(r.id_b < 10 for r in on)


@pytest.mark.parametrize("prefilter", ["auto", None])
def test_dirty_corpus_fails_in_the_sketch_whatever_the_flag(dirty_corpus, prefilter):
    # building the plan no longer raises with the screen on; both settings
    # fail at run time in the sketch pass, which rejects such vectors
    df = near_dup_pairs(
        dirty_corpus, dim=DIM, threshold=THRESHOLD, corpus_n=12, prefilter=prefilter
    )
    with pytest.raises(Exception, match="not sketchable|expected fixed dim"):
        df.collect()
