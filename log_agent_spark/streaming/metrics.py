"""Streaming observability.

- ``BatchMetricsListener``: the reference logs per-batch latency — "Finish N
  tasks in D" (watchdog/watchdog.go:309) — and queue depths. The Spark-native
  form is a ``StreamingQueryListener`` over query progress events: rows/sec,
  batch duration, and state-operator metrics arrive for free, per query, with
  no instrumentation in the pipeline itself.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class BatchStats:
    batch_id: int
    num_input_rows: int
    duration_ms: int | None
    state_rows: int | None


@dataclass
class BatchMetricsListener(StreamingQueryListener):
    """Collects per-batch stats; thread-safe (listener bus is async)."""

    batches: list[BatchStats] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def onQueryStarted(self, event):  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        state = p.stateOperators
        stats = BatchStats(
            batch_id=p.batchId,
            num_input_rows=p.numInputRows,
            duration_ms=p.durationMs.get("triggerExecution"),
            state_rows=state[0].numRowsTotal if state else None,
        )
        with self._lock:
            self.batches.append(stats)

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    def total_rows(self) -> int:
        with self._lock:
            return sum(b.num_input_rows for b in self.batches)


def observed(df, name: str, *metric_cols):
    """Attach named in-flight metrics to a BATCH plan (pyspark Observation):
    the batch-side twin of BatchMetricsListener. Metrics are computed by the
    tasks that already process the data — no second pass, no collect — and
    become available on the returned Observation after the first action.

        df, obs = observed(df, "ingest", F.count(F.lit(1)).alias("rows"),
                           F.sum("size").alias("bytes"))
        df.write.parquet(...)
        obs.get  # {"rows": ..., "bytes": ...}

    Parity: the reference's per-batch accounting (watchdog.go:309) without
    instrumenting the operators themselves.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *metric_cols), obs
