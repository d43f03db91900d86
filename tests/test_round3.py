"""Round-3 regression tests: hot-bucket caps on by default, sink
concurrency/emptiness hardening, large_binary offset handling, and the
BENCH/BASELINE.md section-surgical splice."""

from __future__ import annotations

import json
import os
import threading

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# hot-bucket guards: finite defaults keep degenerate corpora O(N)
# ---------------------------------------------------------------------------


def test_minhash_default_cap_bounds_degenerate_corpus(spark):
    """1100 identical docs: every (band, bucket) is hot in EVERY band, so
    with the default cap the candidate set (and output) is empty instead of
    ~600k quadratic pairs. Identical docs belong to exact-dedup."""
    from dataflow_geobeam_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, "the same exact boilerplate document text repeated verbatim") for i in range(1100)],
        "doc_id long, text string",
    )
    assert minhash_lsh_pairs(docs, "doc_id", "text").count() == 0


def test_near_dup_default_cap_bounds_degenerate_corpus(spark):
    from dataflow_geobeam_spark.operators.similarity import near_dup_pairs

    vec = [float(x) for x in np.random.default_rng(7).standard_normal(64)]
    emb = spark.createDataFrame(
        [(i, vec) for i in range(1100)], "vec_id long, embedding array<float>"
    )
    out = near_dup_pairs(emb, "vec_id", "embedding", threshold=0.45, dim=64,
                         n_planes=4, n_tables=32)
    assert out.count() == 0


def test_cap_preserves_results_on_healthy_corpus(spark, sf_dir):
    """On a normal corpus (all buckets under the cap) the default-capped
    output is IDENTICAL to cap=None — the guard only fires on skew."""
    from dataflow_geobeam_spark.operators.similarity import near_dup_pairs

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    kw = dict(threshold=0.45, dim=64, n_planes=4, n_tables=32)
    capped = set(map(tuple, near_dup_pairs(emb, "vec_id", "embedding", **kw).collect()))
    uncapped = set(
        map(
            tuple,
            near_dup_pairs(
                emb, "vec_id", "embedding", max_bucket_size=None, **kw
            ).collect(),
        )
    )
    assert capped == uncapped and len(capped) > 0


def test_cap_does_not_recompute_sketch(spark, sf_dir):
    """The cap is a plan-time int that the scoring pass checks per bucket,
    NOT a bucket-size aggregate joined back (which recomputed the
    mapInArrow sketch pass — the round-2 ADVICE finding) nor a Window. The
    plan must hold the sketch once, the scoring pass once, and no Window
    or join."""
    from dataflow_geobeam_spark.operators.similarity import near_dup_pairs

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    out = near_dup_pairs(emb, "vec_id", "embedding", threshold=0.45, dim=64,
                         n_planes=4, n_tables=32)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 2
    assert plan.count("_sketch_batches") == 1
    assert "Window" not in plan and "Join" not in plan


# ---------------------------------------------------------------------------
# sink hardening
# ---------------------------------------------------------------------------


def test_compact_empty_table_raises_descriptive(spark, tmp_path):
    from dataflow_geobeam_spark.streaming.sink import ExactlyOnceParquetSink

    sink = ExactlyOnceParquetSink(str(tmp_path / "tbl"))
    with pytest.raises(FileNotFoundError, match="no per-epoch manifests"):
        sink.compact(spark)


def test_sink_concurrent_write_compact_read_isolation(spark, tmp_path):
    """Interleave write_batch / compact / read from threads: every reader
    sees a consistent manifest-listed snapshot (n rows == 100 * epochs
    visible, no partial files, no duplicates), and the final table equals
    the union of all epochs exactly once."""
    from dataflow_geobeam_spark.streaming.sink import ExactlyOnceParquetSink

    table = str(tmp_path / "tbl")
    sink = ExactlyOnceParquetSink(table)

    def batch(e):
        return spark.range(e * 100, (e + 1) * 100).withColumnRenamed("id", "v")

    sink.write_batch(batch(0), 0)
    sink.write_batch(batch(1), 1)

    errors: list[Exception] = []
    snapshots: list[tuple[int, int]] = []

    def reader():
        try:
            for _ in range(6):
                df = sink.read(spark)
                rows = df.select("v").collect()
                vals = [r.v for r in rows]
                # consistent snapshot: distinct values, count divisible by 100
                assert len(set(vals)) == len(vals)
                assert len(vals) % 100 == 0
                snapshots.append((len(vals) // 100, len(vals)))
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    def compactor():
        try:
            sink.compact(spark, up_to_epoch=1)
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    t_read = threading.Thread(target=reader)
    t_comp = threading.Thread(target=compactor)
    t_read.start()
    t_comp.start()
    for e in range(2, 5):
        sink.write_batch(batch(e), e)
    t_read.join()
    t_comp.join()
    assert not errors, errors
    final = sink.read(spark)
    assert final.count() == 500
    assert final.select("v").distinct().count() == 500
    # replay of an already-committed epoch stays a no-op mid-concurrency
    sink.write_batch(batch(3), 3)
    assert sink.read(spark).count() == 500


def test_binary_views_large_binary_offsets():
    """large_binary (64-bit offsets) slices correctly; unsupported types
    raise instead of mis-slicing (round-2 VERDICT hygiene #4)."""
    from dataflow_geobeam_spark.functions.decode import _binary_views

    payloads = [b"abc", None, b"", b"defgh"]
    small = pa.array(payloads, type=pa.binary())
    large = pa.array(payloads, type=pa.large_binary())
    for arr in (small, large):
        views = _binary_views(arr)
        assert bytes(views[0]) == b"abc"
        assert views[1] is None
        assert bytes(views[2]) == b""
        assert bytes(views[3]) == b"defgh"
    # sliced array: offsets window must respect col.offset
    views = _binary_views(large.slice(2))
    assert bytes(views[0]) == b"" and bytes(views[1]) == b"defgh"
    with pytest.raises(TypeError):
        _binary_views(pa.array([1, 2, 3]))


# ---------------------------------------------------------------------------
# BENCH/BASELINE.md streaming splice keeps later sections
# ---------------------------------------------------------------------------


def test_streaming_md_splice_preserves_later_sections(tmp_path, monkeypatch):
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import bench_streaming as bs

    monkeypatch.chdir(tmp_path)
    os.makedirs("BENCH")
    before = (
        "# title\n\npreamble\n\n"
        f"{bs.MD_HEADER}\n\nOLD STREAMING BODY\n\n"
        "## Later section added by another tool\n\nmust survive\n"
    )
    with open("BENCH/BASELINE.md", "w") as f:
        f.write(before)
    out = {
        "N": {"epochs": 3, "input_clips": 100, "wall_sec": 1.0,
              "clips_per_sec_wall": 100, "clips_per_sec_exec": 100,
              "clips_per_sec_steady": 100, "clips_per_sec_steady_median": 100},
        "4N": {"epochs": 3, "input_clips": 100, "wall_sec": 1.0,
               "clips_per_sec_wall": 400, "clips_per_sec_exec": 400,
               "clips_per_sec_steady": 400, "clips_per_sec_steady_median": 400},
        "rounds": 3,
        "streaming_scaling_efficiency": 1.0,
        "efficiency_median": 1.0,
        "efficiency_all_epochs": 1.0,
        "raw_decode_control": {
            "hardware_scaling_ceiling": 0.9,
            "clips_per_sec_1proc": 1000,
            "clips_per_sec_4proc": 3600,
        },
        "efficiency_vs_hardware_ceiling": 1.0,
    }
    bs.rewrite_baseline_md(out)
    after = open("BENCH/BASELINE.md").read()
    assert "preamble" in after
    assert "OLD STREAMING BODY" not in after
    assert "## Later section added by another tool" in after
    assert "must survive" in after
    assert after.count(bs.MD_HEADER) == 1


# ---------------------------------------------------------------------------
# TWS processor timer hygiene (ADVICE medium): testable without the TWS
# runtime — the StatefulProcessor methods are plain Python over fake
# handle/state/timer objects
# ---------------------------------------------------------------------------


class _FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def clear(self):
        self._v = None


class _FakeListState:
    def __init__(self):
        self._rows = []

    def exists(self):
        return bool(self._rows)

    def get(self):
        return list(self._rows)

    def put(self, rows):
        self._rows = [tuple(r) for r in rows]

    def clear(self):
        self._rows = []


class _FakeHandle:
    def __init__(self):
        self.states = {}
        self.timers = []  # live timers
        self.deleted = []

    def getValueState(self, name, schema):
        return self.states.setdefault(name, _FakeValueState())

    def getListState(self, name, schema):
        return self.states.setdefault(name, _FakeListState())

    def registerTimer(self, ts):
        self.timers.append(ts)

    def deleteTimer(self, ts):
        self.deleted.append(ts)
        if ts in self.timers:
            self.timers.remove(ts)


class _FakeTimerValues:
    def __init__(self, wm_ms):
        self._wm = wm_ms

    def getCurrentWatermarkInMs(self):
        return self._wm


class _FakeExpiredTimerInfo:
    def __init__(self, ts):
        self._ts = ts

    def getExpiryTimeInMs(self):
        return self._ts


def _pdf(rows):
    import pandas as pd

    return pd.DataFrame(rows, columns=["clip_id", "side", "ts", "transcript"])


def test_tws_stale_timer_does_not_evict_state():
    """An early buffered transcript registers a timer anchored BEFORE the
    clip's deadline; when the clip arrives the deadline moves. A stale
    expiry (the transcript-anchored timer surviving a deleteTimer race)
    must be ignored — round 2 emitted a premature unmatched row and
    dropped the state (ADVICE medium)."""
    import pandas as pd

    from dataflow_geobeam_spark.streaming.join import (
        JOIN_WINDOW_SECONDS,
        ClipTranscriptJoinProcessor,
    )

    proc = ClipTranscriptJoinProcessor()
    handle = _FakeHandle()
    proc.init(handle)
    key = ("clip-1",)

    # batch 1: out-of-window EARLY transcript only (200 s before the clip)
    t_early = pd.Timestamp("2026-01-01 00:00:00")
    out1 = list(
        proc.handleInputRows(key, [_pdf([["clip-1", "t", t_early, "early words"]])],
                             _FakeTimerValues(wm_ms=0))
    )
    assert out1 == []
    assert len(handle.timers) == 1
    stale_deadline = handle.timers[0]

    # batch 2: the clip arrives 400 s later -> new deadline, old timer deleted
    t_clip = pd.Timestamp("2026-01-01 00:06:40")
    out2 = list(
        proc.handleInputRows(key, [_pdf([["clip-1", "c", t_clip, "clip words"]])],
                             _FakeTimerValues(wm_ms=0))
    )
    assert out2 == []  # early transcript was out of window; no match yet
    assert stale_deadline in handle.deleted
    assert len(handle.timers) == 1
    active_deadline = handle.timers[0]
    assert active_deadline > stale_deadline

    # a stale expiry must be a no-op: no output, state intact
    out3 = list(
        proc.handleExpiredTimer(key, _FakeTimerValues(wm_ms=stale_deadline),
                                _FakeExpiredTimerInfo(stale_deadline))
    )
    assert out3 == []
    assert handle.states["clip"].exists()

    # an in-window transcript arriving AFTER the stale expiry still matches
    t_ok = t_clip + pd.Timedelta(seconds=60)
    out4 = list(
        proc.handleInputRows(key, [_pdf([["clip-1", "t", t_ok, "clip words"]])],
                             _FakeTimerValues(wm_ms=0))
    )
    assert len(out4) == 1 and bool(out4[0]["matched"][0]) is True

    # the ACTIVE deadline firing after emission evicts silently
    out5 = list(
        proc.handleExpiredTimer(key, _FakeTimerValues(wm_ms=active_deadline),
                                _FakeExpiredTimerInfo(active_deadline))
    )
    assert out5 == []
    assert not handle.states["clip"].exists()
    assert JOIN_WINDOW_SECONDS == 300


def test_tws_active_deadline_emits_unmatched():
    import pandas as pd

    from dataflow_geobeam_spark.streaming.join import ClipTranscriptJoinProcessor

    proc = ClipTranscriptJoinProcessor()
    handle = _FakeHandle()
    proc.init(handle)
    key = ("clip-2",)
    t_clip = pd.Timestamp("2026-01-01 00:00:00")
    list(
        proc.handleInputRows(key, [_pdf([["clip-2", "c", t_clip, "words"]])],
                             _FakeTimerValues(wm_ms=0))
    )
    [deadline] = handle.timers
    out = list(
        proc.handleExpiredTimer(key, _FakeTimerValues(wm_ms=deadline),
                                _FakeExpiredTimerInfo(deadline))
    )
    assert len(out) == 1
    assert bool(out[0]["matched"][0]) is False
    assert out[0]["t_transcript"][0] is None
    assert not handle.states["clip"].exists()
