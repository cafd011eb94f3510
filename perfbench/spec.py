"""The benchmark's workloads and metrics: names, units and which way is
better. BENCHMARK.json at the repo root mirrors this file (checked by
``python3 perfbench/selftest.py``)."""

from __future__ import annotations

# The workloads BENCHMARK.json lists.
WORKLOADS = {
    "backfill_small_files": (
        "--mode backfill over 40 small BSI files with zips, empties and ignores:"
        " per-file scan, zip/gzip and partitioned-write cost; streaming idle"
    ),
    "live_tail": (
        "stream agent (debounce 3000 ms, checkpointed, console + file-copy sinks)"
        " under an open-loop lander at 8 files/s: per-trigger, state-store and sink cost"
    ),
}

# (name, unit, better, bound)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("throughput_per_s", "1/s", "higher", 0.25),
    ("latency_p50_ms", "ms", "lower", 0.25),
]

# (name, unit, better)
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("session.jvm_rss_peak_mb", "MB", "lower"),
    ("sources.file_events.latest_offset_ms_p50", "ms", "lower"),
    ("sources.file_events.offset_bytes_last", "bytes", "lower"),
    ("streaming.debounce.state_rows_max", "count", "lower"),
    ("streaming.debounce.state_update_ms_p50", "ms", "lower"),
    ("streaming.debounce.state_commit_ms_p50", "ms", "lower"),
    ("streaming.debounce.superseded_events", "count", "higher"),
    ("streaming.pipeline.batches", "count", "lower"),
    ("streaming.pipeline.data_batches", "count", "lower"),
    ("streaming.pipeline.emit_batches", "count", "lower"),
    ("streaming.pipeline.trigger_ms_p50", "ms", "lower"),
    ("streaming.pipeline.planning_ms_p50", "ms", "lower"),
    ("streaming.pipeline.wal_commit_ms_p50", "ms", "lower"),
    ("streaming.pipeline.add_batch_ms_p50", "ms", "lower"),
    ("agent.stream_enrich_ms_p50", "ms", "lower"),
    ("sinks.console.write_ms_p50", "ms", "lower"),
    ("sinks.filecopy.write_ms_p50", "ms", "lower"),
    ("sinks.failures", "count", "lower"),
    ("sources.binary_files.list_s", "s", "lower"),
    ("sources.binary_files.scan_s", "s", "lower"),
    ("sources.binary_files.files_per_task", "files/task", "higher"),
    ("functions.paths.enrich_s", "s", "lower"),
    ("functions.ziputil.explode_s", "s", "lower"),
    ("functions.content.compress_s", "s", "lower"),
    ("plans.ingest.write_s", "s", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("spark.driver_gap_s", "s", "lower"),
    ("trace.overhead_pct", "%", "lower"),
]

RUN_SECONDS = 14


def benchmark_json(run_seconds: int = RUN_SECONDS) -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": run_seconds,
        "workloads": [{"name": k, "why": v} for k, v in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bd} for n, u, b, bd in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }
