"""Per-partition / per-epoch observability.

Reference precedent: geobeam logs a structured JSON progress record for every
claimed read unit (bytes, window, feature index — ``geobeam/io.py:84-93,
102-108, 227-233``). The engine upgrades that to:

* a ``StreamingQueryListener`` collecting per-epoch progress (rows/sec,
  batch duration, state size) — queryable after the run;
* lineage columns written by the sink (``_epoch_id``, ``_source_partition``)
  so every committed row is traceable to its micro-batch and task.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener


class EpochMetricsListener(StreamingQueryListener):
    """Collects one record per completed micro-batch."""

    def __init__(self):
        self.progress: list[dict] = []
        self.started: list[str] = []
        self.terminated: list[str] = []

    def onQueryStarted(self, event):
        self.started.append(str(event.id))

    def onQueryProgress(self, event):
        p = event.progress
        rec = {
            "query_id": str(p.id),
            "batch_id": p.batchId,
            "ts": p.timestamp,
            "num_input_rows": p.numInputRows,
            "input_rows_per_sec": p.inputRowsPerSecond,
            "processed_rows_per_sec": p.processedRowsPerSecond,
            "duration_ms": dict(p.durationMs) if p.durationMs else {},
            "wall_time": time.time(),
        }
        try:
            rec["observed"] = {
                name: dict(row.asDict()) if hasattr(row, "asDict") else row
                for name, row in (p.observedMetrics or {}).items()
            }
        except Exception:  # noqa: BLE001 - observability must never fail the job
            rec["observed"] = {}
        try:
            # late-data accounting: rows the watermark dropped, plus state
            # size — per stateful operator per epoch
            rec["state_operators"] = [
                {
                    "operator": getattr(so, "operatorName", ""),
                    "rows_dropped_by_watermark": so.numRowsDroppedByWatermark,
                    "state_rows": so.numRowsTotal,
                    "state_bytes": so.memoryUsedBytes,
                }
                for so in (p.stateOperators or [])
            ]
        except Exception:  # noqa: BLE001
            rec["state_operators"] = []
        self.progress.append(rec)

    def onQueryTerminated(self, event):
        self.terminated.append(str(event.id))

    def summary(self) -> dict:
        n = sum(p["num_input_rows"] for p in self.progress)
        secs = sum((p["duration_ms"].get("triggerExecution", 0)) for p in self.progress) / 1000.0
        dropped = sum(
            so.get("rows_dropped_by_watermark", 0)
            for p in self.progress
            for so in p.get("state_operators", [])
        )
        return {
            "epochs": len(self.progress),
            "input_rows": n,
            "trigger_exec_sec": round(secs, 3),
            "rows_per_sec": round(n / secs, 1) if secs else None,
            "rows_dropped_by_watermark": dropped,
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for p in self.progress:
                f.write(json.dumps(p, default=str) + "\n")


def partition_stats(sink, spark) -> DataFrame:
    """Per-partition throughput from the sink's lineage columns: every
    committed row carries (_epoch_id, _source_partition), so rows/partition
    /epoch — the skew fingerprint of the stateful stage — is a query over
    the committed table, not a side channel (north rule: per-partition
    throughput metrics)."""
    df = sink.read(spark)
    return (
        df.groupBy("_epoch_id", "_source_partition")
        .agg(F.count(F.lit(1)).alias("rows_committed"))
        .orderBy("_epoch_id", "_source_partition")
    )
