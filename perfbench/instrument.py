"""Measurement from outside the system under test: in-memory spans around
wrapped public calls, Spark's status store per job group, and streaming
progress from a query listener."""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """Spans (name, start, end, parent, op) kept in memory until ``dump``.

    ``active`` switches recording on and off between operations, so one
    traced run can interleave traced and untraced operations and report
    the tracing overhead. A disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.active = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not (self.enabled and self.active):
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.perf_counter(),
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def summary(self) -> dict:
        """Per span name: count, total seconds, and self seconds (duration
        minus the time its direct children cover)."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in self.spans:
            d = s["end"] - s["start"]
            e = out.setdefault(s["name"], {"n": 0, "total_s": 0.0, "self_s": 0.0})
            e["n"] += 1
            e["total_s"] += d
            e["self_s"] += d - child_time[s["id"]]
        return {k: {kk: round(vv, 6) for kk, vv in v.items()} for k, v in out.items()}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "summary": self.summary()}, f)


def noop_s(df) -> float:
    """Seconds to run ``df`` in full into the ``noop`` sink (a plan prefix)."""
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------
def _opt_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _busy_span(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def read_jobs(spark, group_prefix: str | None = None) -> list[dict]:
    """Every job in the status store (optionally only job groups starting
    with ``group_prefix``) with its stages' task metrics. Uses
    ``jobsList(None)`` and ``lastStageAttempt(id)``; ``stageList`` takes
    Scala default arguments that py4j cannot supply."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        g = j.jobGroup()
        group = g.get() if g.isDefined() else None
        if group_prefix is not None and not (group or "").startswith(group_prefix):
            continue
        ids = j.stageIds()
        stages = []
        for k in range(ids.size()):
            try:
                st = store.lastStageAttempt(ids.apply(k))
            except Exception:  # noqa: BLE001 — stage pruned from the store
                continue
            if str(st.status()) == "SKIPPED":
                continue
            stages.append(
                {
                    "tasks": st.numTasks(),
                    "run_s": st.executorRunTime() / 1000.0,
                    "cpu_s": st.executorCpuTime() / 1e9,
                    "gc_s": st.jvmGcTime() / 1000.0,
                    "shuffle_write_mb": st.shuffleWriteBytes() / 1e6,
                    "spill_mb": (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6,
                    "start": _opt_s(st.submissionTime()),
                    "end": _opt_s(st.completionTime()),
                }
            )
        out.append(
            {
                "id": j.jobId(),
                "group": group,
                "start": _opt_s(j.submissionTime()),
                "end": _opt_s(j.completionTime()),
                "stages": stages,
            }
        )
    return out


def engine_totals(jobs: list[dict], wall_s: float) -> dict:
    """Sum the task metrics of ``jobs`` (one operation's jobs) and derive
    the driver gap: wall time minus the span during which any stage ran."""
    stages = [s for j in jobs for s in j["stages"]]
    busy = _busy_span([(s["start"], s["end"]) for s in stages if s["start"] and s["end"]])
    return {
        "jobs": len(jobs),
        "tasks": sum(s["tasks"] for s in stages),
        "executor_run_s": sum(s["run_s"] for s in stages),
        "executor_cpu_s": sum(s["cpu_s"] for s in stages),
        "gc_s": sum(s["gc_s"] for s in stages),
        "shuffle_write_mb": sum(s["shuffle_write_mb"] for s in stages),
        "spill_mb": sum(s["spill_mb"] for s in stages),
        "driver_gap_s": max(0.0, wall_s - busy),
    }


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------
def progress_dict(p) -> dict:
    """The parts of a ``StreamingQueryProgress`` the benchmark reads."""
    return {
        "batch": p.batchId,
        "rows": p.numInputRows,
        "duration_ms": dict(p.durationMs),
        "state": [
            {
                "rows_total": s.numRowsTotal,
                "rows_updated": s.numRowsUpdated,
                "update_ms": s.allUpdatesTimeMs,
                "commit_ms": s.commitTimeMs,
            }
            for s in p.stateOperators
        ],
    }


class ProgressListener(StreamingQueryListener):
    """Keeps ``durationMs`` and the state operators of every progress event."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event):  # noqa: N802
        ev = progress_dict(event.progress)
        with self._lock:
            self.events.append(ev)

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    def snapshot(self) -> list[dict]:
        with self._lock:
            return list(self.events)
