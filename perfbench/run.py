"""Benchmark of the engine's ingest paths on the local machine.

    python3 perfbench/run.py --workload batch_window --seed 1 --seconds 15 --trace 0

Workloads (BENCHMARK.json says why each was chosen):

* ``batch_window``  plans.audio.audio_window_tumbling, closed loop
* ``stream_paced``  streaming.pipeline.run_streaming_window_agg, open loop

Run from the root of a checkout. Inputs are generated from ``--seed`` under
``.perfbench/`` (the seed-independent clip corpus is built once and cached;
see inputs.py). The session runs at ``local[<cores>]`` with a driver memory
that fits the host. With ``--trace 0`` the last stdout line is a JSON object
with the end-to-end metrics; with ``--trace 1`` Spark's event log is on,
staged prefixes of the plan run after the timed loop, and the line carries
the per-layer metrics. The line before it is a readable summary row, and the
full record (knobs, host facts, spans) is written to
``.perfbench/results/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
RUN_DIR = os.path.join(WORK, "run")


class Run:
    """State of one benchmark run, shared by the workload functions."""

    def __init__(self, args, cores: int):
        import measure

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.cores = cores
        self.spans = measure.Spans()
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.info: dict = {}
        self.attempted = 0
        self.failed = 0
        self.setup_done_at: float | None = None
        self.spark = None
        self._after_stop = []

    def attempt(self, fn) -> bool:
        """One checked operation: ``fn`` returns whether the output matched."""
        self.attempted += 1
        try:
            ok = bool(fn())
        except Exception:  # noqa: BLE001 - a query exception is a failed operation
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            self.failed += 1
        return ok

    def fail(self, why: str) -> None:
        print(f"failed: {why}", file=sys.stderr)
        self.failed += 1

    def mark_setup_done(self) -> None:
        self.setup_done_at = time.perf_counter()

    def after_stop(self, fn) -> None:
        """Defer ``fn(folded_event_log)`` until the session has stopped."""
        self._after_stop.append(fn)


def host_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def configure_env(cores: int) -> None:
    """Process environment for the session, set before the engine is
    imported (its knobs are read at import time)."""
    for sub in ("fixtures", "local", "tmp"):
        os.makedirs(os.path.join(RUN_DIR, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_FIXTURES"] = os.path.join(RUN_DIR, "fixtures")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(RUN_DIR, "local")
    os.environ["TMPDIR"] = os.path.join(RUN_DIR, "tmp")
    # Python workers import the package by name (spark.python.daemon.module)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    # the package default (16g) can exceed the host; a quarter of RAM, at
    # most 4 GiB, leaves room for the Python workers
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{min(4096, host_ram_mb() // 4)}m")
    os.environ.setdefault("OMP_NUM_THREADS", "1")
    # no JVM perf-counter files in /tmp (the launcher JVM; the driver's
    # options are set with the session)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def stop_session(spark) -> None:
    """Stop the session, then the driver JVM, and wait until every process
    this run started has ended."""
    from pyspark import SparkContext

    import measure

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - fall through to the kill below
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 10
    while measure.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in measure.descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while measure.descendants(os.getpid()):
        time.sleep(0.05)


def knobs_and_host(spark, cores: int) -> dict:
    from dataflow_geobeam_spark import session

    return {
        "knobs": {
            "SPARK_GRAFT_SHUFFLE": session.DEFAULT_SHUFFLE_PARTITIONS,
            "SPARK_GRAFT_ARROW_BATCH": session.ARROW_MAX_RECORDS_PER_BATCH,
            "SPARK_GRAFT_ARROW_BATCH_BYTES": session.ARROW_MAX_BYTES_PER_BATCH,
            "SPARK_GRAFT_DRIVER_JAVA_OPTS": session.DRIVER_JAVA_OPTIONS,
            "spark.driver.memory": spark.conf.get("spark.driver.memory"),
            "master": spark.sparkContext.master,
        },
        "host": {
            "nproc": cores,
            "ram_mb": host_ram_mb(),
            "spark": spark.version,
            "python": platform.python_version(),
            "jdk": spark.sparkContext._jvm.System.getProperty("java.version"),
            "machine": platform.machine(),
        },
    }


def declared() -> dict:
    """Workload names and metric units, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        "workloads": [w["name"] for w in spec["workloads"]],
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def prepare_inputs(run, base_root: str) -> dict:
    import pyarrow.parquet as pq

    import inputs
    import workloads

    base = inputs.build_base(base_root)
    run.base_fx = base["dir"]
    n_rows = pq.ParquetFile(os.path.join(run.base_fx, "clips.parquet")).metadata.num_rows
    t0 = time.perf_counter()
    if run.workload == "stream_paced":
        run.stream_plan = inputs.StreamPlan(
            run.seed, run.seconds, n_rows, gap_s=workloads.STREAM_GAP_S,
            clips_lo=workloads.STREAM_CLIPS[0], clips_hi=workloads.STREAM_CLIPS[1],
            warm=workloads.STREAM_WARM_FILES)
        run.stream_dirs = {k: os.path.join(RUN_DIR, "stream", k)
                           for k in ("staging", "watch", "table", "ckpt", "golden")}
        os.makedirs(run.stream_dirs["watch"])
        run.stream_files = run.stream_plan.write(run.base_fx, run.stream_dirs["staging"])
        run.fx = run.base_fx
    else:
        run.fx = inputs.seeded_corpus(run.base_fx, os.environ["SPARK_GRAFT_FIXTURES"], run.seed)
        run.n_clips = n_rows
    return {"input_s": time.perf_counter() - t0,
            "base_build": {k: v for k, v in base.items() if k != "dir"}}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    spec = declared()
    ap.add_argument("--workload", required=True, choices=spec["workloads"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cores = len(os.sched_getaffinity(0))
    import fcntl
    import shutil

    # one run at a time per checkout: runs share the work directory
    os.makedirs(WORK, exist_ok=True)
    lock = open(os.path.join(WORK, "lock"), "w")
    t_lock = time.perf_counter()
    fcntl.flock(lock, fcntl.LOCK_EX)
    t_lock = time.perf_counter() - t_lock
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    configure_env(cores)
    sys.path[:0] = [ROOT, HERE]
    try:
        import dataflow_geobeam_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    import measure
    import workloads
    from dataflow_geobeam_spark.session import DRIVER_JAVA_OPTIONS, get_spark

    run = Run(args, cores)
    t_prep = time.perf_counter()
    prep = prepare_inputs(run, os.path.join(WORK, "base"))
    t_prep = time.perf_counter() - t_prep
    rss = measure.RssSampler()
    rss.start()

    conf = {
        "spark.driver.extraJavaOptions":
            f"{DRIVER_JAVA_OPTIONS} -Djava.io.tmpdir={os.path.join(RUN_DIR, 'tmp')}"
            " -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(RUN_DIR, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    events = os.path.join(RUN_DIR, "events")
    if run.traced:
        os.makedirs(events)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{events}",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    with run.spans.span("session.get_spark") as sp:
        run.spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
        run.spark.sparkContext.setLogLevel("ERROR")
    run.layer["session.get_spark_s"] = sp["end"] - sp["start"]
    facts = knobs_and_host(run.spark, cores)
    try:
        workloads.WORKLOADS[run.workload](run)
    finally:
        stop_session(run.spark)
    peak_rss_mb = rss.stop()
    run.info["rss_mb_at_peak"] = sorted((v / 2**20 for v in rss.at_peak.values()), reverse=True)

    # waiting for another run and seeded input generation (with a
    # first-time corpus build) are excluded
    run.e2e["setup_s"] = run.setup_done_at - T_START - t_lock - t_prep
    # driver JVM plus Python workers; reported, not gated: the JVM's heap
    # growth makes it spread by ~20% between runs of the stream
    run.e2e["peak_rss_mb"] = run.layer["spark.peak_rss_mb"] = peak_rss_mb
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    stem = os.path.join(WORK, "results", f"{run.workload}-s{run.seed}")
    if run.traced:
        folded = measure.fold_event_log(measure.find_event_log(events))
        for fn in run._after_stop:
            fn(folded)
        run.layer["trace.clips_per_s"] = run.e2e["clips_per_s"]
        self_s = run.spans.self_time_by_layer()
        for name in spec["per_layer"]:
            if name.startswith("self_s."):
                run.layer[name] = self_s.get(name.split(".", 1)[1], 0.0)
            elif name.startswith(workloads.NOT_MEASURED[run.workload]):
                run.layer.setdefault(name, 0.0)
        untraced = stem + "-t0.json"
        if os.path.exists(untraced):
            with open(untraced) as f:
                base_cps = json.load(f)["end_to_end"]["clips_per_s"]
            run.info["tracing_overhead_clips_per_s"] = run.e2e["clips_per_s"] - base_cps
        run.spans.dump(stem + "-spans.json")
        kind, values = "per_layer", run.layer
    else:
        kind, values = "end_to_end", run.e2e
    missing = [m for m in spec[kind] if m not in values]
    if missing:
        raise RuntimeError(f"metrics not produced: {missing}")
    metrics = {m: {"value": float(values[m]), "unit": u} for m, u in spec[kind].items()}

    record = {"workload": run.workload, "seed": run.seed, "seconds": run.seconds,
              "trace": int(run.traced), "attempted": run.attempted, "failed": run.failed,
              "end_to_end": run.e2e, "per_layer": run.layer, "info": run.info, **prep, **facts}
    with open(f"{stem}-t{int(run.traced)}.json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(RUN_DIR, ignore_errors=True)

    print("knobs", json.dumps(facts["knobs"]), "host", json.dumps(facts["host"]))
    e = run.e2e
    print(f"{run.workload:13s} setup_s={e['setup_s']:.2f} s  clips_per_s={e['clips_per_s']:.1f} 1/s"
          f"  latency_p50_s={e['latency_p50_s']:.3f} s  latency_tail_s={e['latency_tail_s']:.3f} s"
          f" (p{run.info['latency_tail_percentile']:.0f} of {run.info['latency_samples']})"
          f"  failed_frac={run.failed / max(1, run.attempted):.4f}"
          f" ({run.failed}/{run.attempted})  peak_rss_mb={peak_rss_mb:.0f} MB"
          + (f"  tracing_overhead_clips_per_s={run.info['tracing_overhead_clips_per_s']:.1f}"
             if "tracing_overhead_clips_per_s" in run.info else ""))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
