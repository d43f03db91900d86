"""The workloads. Each takes a prepared ``Run`` (see run.py), finishes
set-up with untimed work, measures for ``run.seconds``, checks every output
against the oracle, and fills ``run.e2e`` (and ``run.layer`` when traced).

Spans are recorded from here, around each call into a layer of the engine;
nothing inside the package is instrumented.
"""

from __future__ import annotations

import bisect
import contextlib
import json
import os
import statistics
import sys
import threading
import time
import traceback
from datetime import datetime
from unittest import mock

import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

import inputs
import oracle
import measure
from dataflow_geobeam_spark import codecs
from dataflow_geobeam_spark.functions.decode import with_decoded_metrics
from dataflow_geobeam_spark.functions.validity import (
    KNOWN_CODECS,
    filter_invalid,
    precheck_predicate,
)
from dataflow_geobeam_spark.operators import windows
from dataflow_geobeam_spark.plans import audio
from dataflow_geobeam_spark.sources.clips import read_clips
from dataflow_geobeam_spark.streaming import pipeline
from dataflow_geobeam_spark.streaming.sink import ExactlyOnceParquetSink
from dataflow_geobeam_spark.util import epoch_seconds

# stream_paced load: mean Poisson gap and clips per file (see BASELINE.md)
STREAM_GAP_S = 0.25
STREAM_CLIPS = (8, 16)
STREAM_WARM_FILES = 1
STREAM_DEADLINE_S = 45.0  # after the last due drop; later files count as failed
UNTIMED_JOBS = 2  # batch set-up: iterations run before timing starts
STAGE_REPEATS = 2  # traced staged prefixes: each runs this often, the min is kept
CODEC_SAMPLE = 48  # payloads per codec for the in-process decode loop


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def percentile_tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest nearest-rank percentile with at
    least ten samples beyond it. With fewer than 20 samples that would sit
    at or below the median, so the maximum is reported (percentile 100)."""
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


# ---------------------------------------------------------------------------
# shared: set-up, the closed timed loop, the traced decode loop


def untimed_jobs(run, job_fn, check) -> None:
    """The first UNTIMED_JOBS iterations of the workload's job, part of
    set-up: they pay the Python worker-pool start, imports and the JVM's
    JIT warm-in (a second iteration still runs ~30% slow). ``session.warmup_s``
    is what they took beyond as many warm jobs."""
    with run.spans.span("session.warmup") as sp:
        for _ in range(UNTIMED_JOBS):
            run.attempt(lambda: check(job_fn()))
    run.untimed_s = sp["end"] - sp["start"]


def closed_loop(run, label, job_fn, check) -> list[float]:
    """Run ``job_fn`` back to back until ``run.seconds`` have passed (at
    least once); returns the wall time of each job. Each output is checked
    after its timing ends."""
    run.spark.sparkContext.setJobDescription(label)
    times: list[float] = []
    t_end = time.perf_counter() + run.seconds
    while True:
        out = None
        with run.spans.span(f"plans.{run.workload}") as sp:
            t0 = time.perf_counter()
            try:
                out = job_fn()
            except Exception:  # noqa: BLE001 - a query exception is a failed operation
                traceback.print_exc(file=sys.stderr)
            dt = time.perf_counter() - t0
        run.attempted += 1
        if out is None or not check(out):
            run.failed += 1
        else:
            times.append(dt)
        sp["seconds"] = dt
        if time.perf_counter() >= t_end:
            break
    run.spark.sparkContext.setJobDescription(None)
    return times


def codec_decode_loop(run, table) -> None:
    """In-process, one-core ``codecs.decode`` over a seeded sample of the
    workload's payloads: per-codec mean microseconds and failures."""
    codec_col = table.column("codec").to_pylist()
    failures = 0
    with run.spans.span("codecs.decode"):
        for codec in KNOWN_CODECS:
            rows = [i for i, c in enumerate(codec_col) if c == codec][:CODEC_SAMPLE]
            bufs = [table.column("bytes")[i].as_py() for i in rows]
            ok = []
            for b in bufs:  # first pass: warm caches, count failures
                try:
                    codecs.decode(b, codec)
                    ok.append(b)
                except Exception:  # noqa: BLE001 - counted as the engine's kernel counts them
                    failures += 1
            t0 = time.perf_counter()
            for b in ok:
                codecs.decode(b, codec)
            run.layer[f"codecs.decode_us.{codec}"] = (
                (time.perf_counter() - t0) / len(ok) * 1e6 if ok else 0.0)
    run.layer["codecs.decode_failures"] = failures


def _mean_decode_us(run, codec_col: list) -> float:
    n = [codec_col.count(c) for c in KNOWN_CODECS]
    us = [run.layer[f"codecs.decode_us.{c}"] for c in KNOWN_CODECS]
    return sum(a * b for a, b in zip(n, us)) / max(1, sum(n))


# ---------------------------------------------------------------------------
# batch_window


def _stage(run, span_name: str, label: str, fn) -> float:
    """Run one staged prefix STAGE_REPEATS times under a job label; returns
    the min wall time."""
    sc = run.spark.sparkContext
    best = float("inf")
    for _ in range(STAGE_REPEATS):
        sc.setJobDescription(label)
        with run.spans.span(span_name) as sp:
            fn()
        best = min(best, sp["end"] - sp["start"])
    sc.setJobDescription(None)
    return best


def batch_window(run) -> None:
    """plans.audio.audio_window_tumbling over the seeded corpus, one job at
    a time, each result collected as Arrow and checked."""
    spark = run.spark
    expected = oracle.expected_rows("audio_window_tumbling", run.fx)

    def job():
        return audio.audio_window_tumbling(spark, inputs.SF).toArrow()

    def check(out):
        return oracle.arrow_rows(out) == expected

    untimed_jobs(run, job, check)
    run.mark_setup_done()
    times = closed_loop(run, "timed", job, check)
    if not times:
        raise RuntimeError("no job of the timed loop succeeded")
    tail, q, n = percentile_tail(times)
    run.e2e["clips_per_s"] = run.n_clips / statistics.median(times)
    run.e2e["latency_p50_s"] = statistics.median(times)
    run.e2e["latency_tail_s"] = tail
    run.info.update(latency_tail_percentile=q, latency_samples=n, job_s=times)
    run.layer["session.warmup_s"] = run.untimed_s - UNTIMED_JOBS * statistics.median(times)
    if run.traced:
        batch_window_layers(run, times, job, check)


def batch_window_layers(run, times: list[float], job, check) -> None:
    """Staged prefixes of the flagship plan, each timed on its own after the
    timed loop: scan, +decode, +validity, and the aggregate alone over
    checkpointed valid rows; then one full job for the driver gap."""
    spark = run.spark
    table = pq.read_table(os.path.join(run.fx, "clips.parquet"), columns=["codec", "bytes"])
    codec_decode_loop(run, table)
    scan = read_clips(spark, run.fx).where(precheck_predicate())
    decoded = with_decoded_metrics(scan)
    t = {"scan": _stage(run, "sources.scan", "stage.scan", lambda: _noop(scan)),
         "decode": _stage(run, "functions.decode", "stage.decode", lambda: _noop(decoded))}
    counts = []

    def validity():
        o_in, o_out = Observation("rows_in"), Observation("rows_out")
        df = decoded.observe(o_in, F.count(F.lit(1)).alias("n"))
        _noop(filter_invalid(df).observe(o_out, F.count(F.lit(1)).alias("n")))
        counts.append((o_in.get["n"], o_out.get["n"]))

    t["validity"] = _stage(run, "functions.validity", "stage.validity", validity)
    rows_in, rows_out = counts[-1]
    valid = filter_invalid(decoded).localCheckpoint(eager=True)

    def agg():
        out = windows.tumbling(valid, "10 seconds", keys=("bucket",))
        _noop(out.select(epoch_seconds("window_start").alias("window_start_s"), "bucket",
                         "n_clips", "sum_dur_ms", F.round("mean_rms", 6), "sum_samples"))

    t["agg"] = _stage(run, "operators.windows", "stage.agg", agg)
    spark.sparkContext.setJobDescription("stage.full")
    with run.spans.span("plans.stage_full") as full:
        run.attempt(lambda: check(job()))
    spark.sparkContext.setJobDescription(None)

    wall = statistics.median(times)
    decode_s = t["decode"] - t["scan"]
    kernel_s = rows_in * _mean_decode_us(run, table.column("codec").to_pylist()) / 1e6
    run.layer.update({
        "sources.scan_s": t["scan"],
        "functions.decode.stage_s": decode_s,
        "functions.decode.kernel_share": kernel_s / run.cores / decode_s if decode_s > 0 else 0.0,
        "functions.validity.rows_in": rows_in,
        "functions.validity.rows_out": rows_out,
        "operators.windows.agg_s": t["agg"],
        # scan + decode + validity + aggregate, against the untraced-style
        # median job time of this run's timed loop
        "plans.stage_cover_frac": (t["validity"] + t["agg"]) / wall,
    })
    run.info["stage_s"] = {**t, "full": full["end"] - full["start"], "timed_median": wall}

    def fold(folded):
        by = folded["by_label"]

        def per_rep(label, key):
            return by.get(label, {}).get(key, 0.0) / STAGE_REPEATS

        inside = [(a, b) for a, b in folded["jobs"].get("stage.full", [])
                  if a >= full["start"] - 1 and b <= full["end"] + 1]
        timed = by.get("timed", {})
        n_jobs = max(1, len(folded["jobs"].get("timed", [])))
        timed_wall = sum(s["seconds"] for s in run.spans.named(f"plans.{run.workload}"))
        run.layer.update({
            "sources.scan_tasks": per_rep("stage.scan", "tasks"),
            # Spark's task input metrics miss the parquet reader's own I/O
            # threads; this is the scan's "size of files read"
            "sources.bytes_read": per_rep("stage.scan", "size of files read"),
            # Spark records this metric in milliseconds of task time
            "functions.decode.python_run_s":
                per_rep("stage.decode", "time to run Python workers") / 1e3,
            "functions.decode.arrow_bytes_to_python":
                per_rep("stage.decode", "data sent to Python workers"),
            "operators.windows.shuffle_bytes": per_rep("stage.agg", "shuffle_write_bytes"),
            "plans.driver_gap_s":
                full["end"] - full["start"] - measure.covered_seconds(inside),
            "spark.cpu_s": timed.get("cpu_s", 0.0) / n_jobs,
            "spark.gc_s": timed.get("gc_s", 0.0) / n_jobs,
            "spark.shuffle_write_bytes": timed.get("shuffle_write_bytes", 0.0) / n_jobs,
            "spark.core_busy_frac": timed.get("run_s", 0.0) / (run.cores * timed_wall),
        })

    run.after_stop(fold)


# ---------------------------------------------------------------------------
# stream_paced


def _batch_of_file(ckpt: str) -> dict[str, int]:
    """File name -> the micro-batch that read it, from the checkpoint.

    The file-source log (``sources/0/``) numbers its entries by the
    source's own offset, which advances only when a listing finds new
    files; the offsets log (``offsets/<batch>``) records the source offset
    each micro-batch read up to. A file belongs to the first micro-batch
    whose offset reaches its entry's."""
    entries: dict[str, int] = {}
    for lines in _log_files(os.path.join(ckpt, "sources", "0")):
        for line in lines[1:]:  # the first line is the log version
            if line.strip():
                e = json.loads(line)
                entries[os.path.basename(e["path"])] = int(e["batchId"])
    ends = sorted(
        (json.loads(lines[2])["logOffset"], int(name))
        for name, lines in _log_files(os.path.join(ckpt, "offsets"), named=True)
        if name.isdigit() and len(lines) > 2
    )
    out = {}
    for name, offset in entries.items():
        i = bisect.bisect_left(ends, (offset, -1))
        if i < len(ends):
            out[name] = ends[i][1]
    return out


def _log_files(log_dir: str, named: bool = False):
    """The lines of each file of a checkpoint log directory."""
    if not os.path.isdir(log_dir):
        return
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        try:
            with open(os.path.join(log_dir, name)) as f:
                lines = f.read().splitlines()
        except FileNotFoundError:
            continue  # compaction replaced it between listing and reading
        yield (name, lines) if named else lines


def _manifest_mtimes(table: str) -> dict[int, float]:
    mdir = os.path.join(table, "_manifests")
    out = {}
    for name in os.listdir(mdir):
        if name.endswith(".json") and name[:-5].isdigit():
            out[int(name[:-5])] = os.stat(os.path.join(mdir, name)).st_mtime
    return out


def _commit_times(ckpt: str, table: str, names: list[str]) -> dict[str, float]:
    batch_of = _batch_of_file(ckpt)
    committed = _manifest_mtimes(table)
    return {n: committed[batch_of[n]] for n in names
            if n in batch_of and batch_of[n] in committed}


def stream_paced(run) -> None:
    """Open loop: a generator thread drops arrival-ordered parquet files into
    the watched directory on a seeded Poisson schedule; the flagship
    streaming job (processing-time trigger, update mode) commits them to
    ExactlyOnceParquetSink. Each file is timed from when it was due to the
    mtime of the manifest of the epoch that committed it."""
    spark = run.spark
    d = run.stream_dirs
    plan, paths = run.stream_plan, run.stream_files
    names = [os.path.basename(p) for p in paths]
    warm_names, timed = names[: plan.warm], list(zip(paths[plan.warm:], plan.due))
    # the sink's foreachBatch callback runs on another thread; its spans
    # hang under the stream span open at the time
    outer = {"id": None}
    sink_ctx = mock.patch.object(ExactlyOnceParquetSink, "write_batch",
                                 _traced_write_batch(run, outer)) if run.traced \
        else contextlib.nullcontext()

    def drop(path):
        now = time.time()
        os.utime(path, (now, now))
        os.rename(path, os.path.join(d["watch"], os.path.basename(path)))
        return now

    with sink_ctx:
        with run.spans.span("streaming.start"):
            query, sink = pipeline.run_streaming_window_agg(
                spark, run.fx, d["table"], d["ckpt"], available_now=False,
                max_files_per_trigger=10_000, output_mode="update", stream_dir=d["watch"])
        try:
            with run.spans.span("streaming.warm") as warm:
                outer["id"] = warm["id"]
                for path, name in zip(paths, warm_names):
                    drop(path)
                    _wait_committed(run, query, d, [name], time.time() + 120)
            run.mark_setup_done()
            drops: list[float] = []
            t0 = time.time()

            def generator():
                for path, due in timed:
                    delay = t0 + due - time.time()
                    if delay > 0:
                        time.sleep(delay)
                    drops.append(drop(path))

            with run.spans.span("streaming.open_loop") as sp:
                outer["id"] = sp["id"]
                gen = threading.Thread(target=generator, name="loadgen")
                gen.start()
                gen.join()
                last_due = t0 + (timed[-1][1] if timed else 0.0)
                _wait_committed(run, query, d, names[plan.warm:], last_due + STREAM_DEADLINE_S)
            progress = measure.fold_progress(query.recentProgress)
        finally:
            query.stop()
    committed = _commit_times(d["ckpt"], d["table"], names)
    timed_names = names[plan.warm:]
    lat = [committed[n] - (t0 + due) for n, (_, due) in zip(timed_names, timed)
           if n in committed]
    missing = [n for n in names if n not in committed]
    run.attempted += len(names)
    run.failed += len(missing)
    if not lat:
        raise RuntimeError("no timed stream file was committed")
    batches = _batch_of_file(d["ckpt"])
    timed_batches = {batches[n] for n in timed_names if n in batches}
    epochs = [p for p in progress if p["batch_id"] >= min(timed_batches)]
    epoch_s = [p["duration_ms"].get("triggerExecution", 0) / 1e3 for p in epochs]
    busy_s = sum(epoch_s)
    # what the warm-up epochs took beyond as many warm epochs
    run.layer["session.warmup_s"] = (warm["end"] - warm["start"]
                                     - len(warm_names) * statistics.median(epoch_s))
    rows = {n: hi - lo for n, (lo, hi) in zip(names, plan.slices)}
    tail, q, n = percentile_tail(lat)
    # clips made queryable per second: from the open loop's start until the
    # last timed file was committed
    run.e2e["clips_per_s"] = sum(rows[x] for x in timed_names if x in committed) / (
        max(committed[x] for x in timed_names if x in committed) - t0)
    run.e2e["latency_p50_s"] = statistics.median(lat)
    run.e2e["latency_tail_s"] = tail
    late = [a - (t0 + due) for a, (_, due) in zip(drops, timed)]
    run.info.update(latency_tail_percentile=q, latency_samples=n, files_uncommitted=missing,
                    loadgen_late_s_max=max(late, default=0.0), epochs=len(epochs),
                    latency_s=dict(zip(timed_names, lat)), progress=progress)

    # output check: merge-on-read of the committed table vs the batch oracle
    # over exactly the streamed clips
    run.attempted += 1
    try:
        latest = sink.read_latest(spark, ["window_start", "bucket"]).select(
            epoch_seconds("window_start").alias("window_start_s"), "bucket", "n_clips",
            "sum_dur_ms", F.round("mean_rms", 6).alias("mean_rms"), "sum_samples")
        golden = inputs.stream_golden(run.base_fx, d["golden"], plan.clip_ids(run.base_fx))
        got = oracle.arrow_rows(latest.toArrow())
        want = oracle.expected_rows("audio_window_tumbling", golden)
        if got != want:
            run.info["stream_mismatch"] = {"missing": list((want - got).elements())[:20],
                                           "extra": list((got - want).elements())[:20]}
            run.fail("stream output differs from the batch oracle")
    except Exception:  # noqa: BLE001 - a failed check is a failed operation
        traceback.print_exc(file=sys.stderr)
        run.fail("stream output check raised")

    if not run.traced:
        return
    table = pq.read_table(os.path.join(run.base_fx, "clips.parquet"),
                          columns=["codec", "bytes"]).slice(
        plan.slices[0][0], plan.slices[-1][1] - plan.slices[0][0])
    codec_decode_loop(run, table)

    def med(values):
        values = list(values)
        return statistics.median(values) if values else 0.0

    for name, key, scale in (("epoch_s", "triggerExecution", 1e3),
                             ("add_batch_s", "addBatch", 1e3),
                             ("query_planning_ms", "queryPlanning", 1),
                             ("wal_commit_ms", "walCommit", 1),
                             ("commit_offsets_ms", "commitOffsets", 1),
                             ("latest_offset_ms", "latestOffset", 1)):
        run.layer[f"streaming.{name}"] = med(p["duration_ms"].get(key, 0) for p in epochs) / scale
    run.layer["streaming.state_commit_ms"] = med(p["state_commit_ms"] for p in epochs)
    run.layer["streaming.state_rows"] = epochs[-1]["state_rows"] if epochs else 0
    run.layer["streaming.state_bytes"] = epochs[-1]["state_bytes"] if epochs else 0
    run.layer["streaming.rows_dropped_by_watermark"] = sum(
        p["rows_dropped_by_watermark"] for p in progress)
    writes = [s["end"] - s["start"] for s in run.spans.named("streaming.sink.write_batch")
              if s["start"] >= t0]
    run.layer["streaming.sink.write_batch_s"] = med(writes)
    epoch_ids = {p["batch_id"] for p in epochs}
    run.layer["streaming.sink.files_per_epoch"] = med(
        len(m["files"]) for m in sink.committed_manifests() if m.get("epoch_id") in epoch_ids)
    starts = {p["batch_id"]: datetime.fromisoformat(p["timestamp"]).timestamp()
              for p in progress}
    admitted = {n: starts.get(batches.get(n), float("inf")) for n in timed_names}
    run.layer["sources.backlog_files_max"] = max(
        (sum(1 for m, a2 in zip(timed_names, drops) if a2 <= a and admitted[m] > a)
         for a in drops), default=0)
    run.layer["loadgen.late_s_max"] = run.info["loadgen_late_s_max"]

    def fold(folded):
        by = folded["by_label"]
        ep = [by.get(f"epoch:{p['batch_id']}", {}) for p in epochs]
        run.layer["streaming.tasks_per_epoch"] = med(e.get("tasks", 0) for e in ep)
        n = max(1, len(ep))
        run.layer["spark.cpu_s"] = sum(e.get("cpu_s", 0.0) for e in ep) / n
        run.layer["spark.gc_s"] = sum(e.get("gc_s", 0.0) for e in ep) / n
        run.layer["spark.shuffle_write_bytes"] = sum(
            e.get("shuffle_write_bytes", 0.0) for e in ep) / n
        run.layer["spark.core_busy_frac"] = sum(e.get("run_s", 0.0) for e in ep) / (
            run.cores * busy_s) if busy_s else 0.0

    run.after_stop(fold)


def _traced_write_batch(run, outer: dict):
    original = ExactlyOnceParquetSink.write_batch

    def write_batch(self, df, epoch_id):
        with run.spans.span("streaming.sink.write_batch", parent=outer["id"], epoch=epoch_id):
            return original(self, df, epoch_id)

    return write_batch


def _wait_committed(run, query, d, names, deadline) -> None:
    while time.time() < deadline:
        if query.exception() is not None:
            raise RuntimeError(f"streaming query failed: {query.exception()}")
        if len(_commit_times(d["ckpt"], d["table"], names)) == len(names):
            return
        time.sleep(0.05)


WORKLOADS = {"batch_window": batch_window, "stream_paced": stream_paced}

# Per-layer metrics a workload's traced run does not measure (its layer does
# no work there, or is measured only on the other workload); they read 0.
NOT_MEASURED = {
    "batch_window": ("streaming.", "sources.backlog_files_max", "loadgen."),
    "stream_paced": ("sources.scan_", "sources.bytes_read", "functions.", "operators.",
                     "plans."),
}

