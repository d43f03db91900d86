"""Measurement plumbing: spans, process RSS, Spark event-log and
streaming-progress folds. Nothing here imports the engine."""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
from collections import defaultdict


class Spans:
    """In-memory span recorder: (id, name, start, end, parent), written out
    once at the end of the run. Names are ``<layer>.<what>``; a span's
    parent is the span open around it on the same thread."""

    def __init__(self):
        self.spans: list[dict] = []
        self._open = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Record a span; ``parent`` names a span open on another thread."""
        stack = self._open.__dict__.setdefault("stack", [])
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:  # spans open on more than one thread
            rec = {"id": len(self.spans), "name": name, "parent": parent,
                   "start": time.time(), "end": None, **attrs}
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def self_time_by_layer(self) -> dict[str, float]:
        """Span duration minus the time its child spans cover, summed per
        layer (the name's first component)."""
        child_time = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"].split(".")[0]] += s["end"] - s["start"] - child_time[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s_by_layer": self.self_time_by_layer()}, f,
                      indent=1, default=str)


def _parents() -> dict[int, int]:
    """pid -> parent pid of every live process."""
    out = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue  # the process ended between listing and reading
            out[int(pid)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    return out


def descendants(root: int, parents: dict[int, int] | None = None) -> list[int]:
    children = defaultdict(list)
    for pid, ppid in (parents or _parents()).items():
        children[ppid].append(pid)
    out, todo = [], list(children[root])
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children[pid])
    return out


class RssSampler(threading.Thread):
    """Peak summed RSS of this process's descendants (the driver JVM and
    the Python workers it forks), sampled from /proc every ``period_s``."""

    def __init__(self, period_s: float = 0.2):
        super().__init__(daemon=True, name="rss-sampler")
        self.period_s = period_s
        self.peak_bytes = 0
        self.at_peak: dict[int, int] = {}
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> dict[int, int]:
        parents = _parents()
        rss, comm = {}, {}
        for pid in descendants(os.getpid(), parents):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss[pid] = int(f.read().split()[1]) * self._page
                with open(f"/proc/{pid}/comm") as f:
                    comm[pid] = f.read()
            except (OSError, IndexError, ValueError):
                continue
        # A java child of the driver JVM is a fork on its way to exec (the
        # JVM starting the Python daemon); it reports the parent's pages.
        return {pid: r for pid, r in rss.items()
                if not (comm[pid] == "java\n" and comm.get(parents.get(pid)) == "java\n")}

    def run(self):
        while not self._halt.is_set():
            rss = self._sample()
            if sum(rss.values()) > self.peak_bytes:
                self.peak_bytes, self.at_peak = sum(rss.values()), rss
            self._halt.wait(self.period_s)

    def stop(self) -> float:
        self._halt.set()
        self.join(timeout=5)
        return self.peak_bytes / 2**20


# SQL-metric accumulables folded per job label (names as Spark 4.1 writes
# them into the event log), and the scan metrics the driver posts
ACCUMULABLES = (
    "scan time",
    "data sent to Python workers",
    "time to run Python workers",
    "shuffle write time",
    "time in aggregation build",
    "number of output rows",
)
DRIVER_ACCUMULABLES = ("size of files read", "number of files read")
_BATCH_RE = re.compile(r"batch = (\d+)")
_SQL = "org.apache.spark.sql.execution.ui."


def _plan_metric_names(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in info.get("children", []):
        _plan_metric_names(child, out)


def fold_event_log(path: str) -> dict:
    """Per job label (``spark.job.description``): task count, CPU, run and
    GC time, shuffle bytes, the accumulables above, and the [submit,
    complete] interval of every job. Streaming epochs are labelled by Spark
    itself; they are folded under ``epoch:<batchId>``."""
    stage_label: dict[int, str] = {}
    job_label: dict[int, str] = {}
    exec_label: dict[str, str] = {}
    metric_name: dict[int, str] = {}
    driver_updates: list[tuple[str, int, float]] = []
    jobs: dict[str, list] = defaultdict(list)
    folded: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    open_jobs: dict[int, float] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind in (_SQL + "SparkListenerSQLExecutionStart",
                        _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_metric_names(ev["sparkPlanInfo"], metric_name)
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                driver_updates += [(str(ev["executionId"]), i, v) for i, v in ev["accumUpdates"]]
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                desc = props.get("spark.job.description") or ""
                m = _BATCH_RE.search(desc)
                label = f"epoch:{m.group(1)}" if m else (desc or "unlabelled")
                if "spark.sql.execution.id" in props:
                    exec_label[props["spark.sql.execution.id"]] = label
                job_label[ev["Job ID"]] = label
                open_jobs[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                for sid in ev["Stage IDs"]:
                    stage_label[sid] = label
            elif kind == "SparkListenerJobEnd":
                start = open_jobs.pop(ev["Job ID"], None)
                if start is not None:
                    jobs[job_label[ev["Job ID"]]].append((start, ev["Completion Time"] / 1000.0))
            elif kind == "SparkListenerTaskEnd":
                c = folded[stage_label.get(ev["Stage ID"], "unlabelled")]
                tm = ev.get("Task Metrics") or {}
                c["tasks"] += 1
                c["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                c["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                c["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                c["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") in ACCUMULABLES:
                        c[acc["Name"]] += float(acc.get("Update", 0))
    for exec_id, acc_id, value in driver_updates:
        if metric_name.get(acc_id) in DRIVER_ACCUMULABLES:
            folded[exec_label.get(exec_id, "unlabelled")][metric_name[acc_id]] += value
    return {"by_label": {k: dict(v) for k, v in folded.items()}, "jobs": dict(jobs)}


def covered_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def find_event_log(events_dir: str) -> str:
    logs = [os.path.join(events_dir, n) for n in os.listdir(events_dir)
            if not n.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {events_dir}, found {logs}")
    return logs[0]


def fold_progress(progress: list) -> list[dict]:
    """One record per ``StreamingQueryProgress`` of a query."""
    out = []
    for p in progress:
        ops = p.stateOperators or []
        out.append({
            "batch_id": p.batchId,
            "timestamp": p.timestamp,
            "input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs or {}),
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_bytes": sum(o.memoryUsedBytes for o in ops),
            "state_commit_ms": sum(o.commitTimeMs for o in ops),
            "rows_dropped_by_watermark": sum(o.numRowsDroppedByWatermark for o in ops),
        })
    return out
